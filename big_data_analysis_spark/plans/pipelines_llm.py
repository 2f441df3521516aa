"""Training-data pipeline tier B (split from pipelines.py per VERDICT
r10 item 6's module-size cap): eval scoring (EM/F1, calibration,
confusion matrix), privacy (k-anonymity), incremental MinHash,
feature drift, the corpus->tokens/BPE packing path, shard manifests
and mixture/epoch planning, retrieval eval, preference pairs, URL
dedup, tokenizer fertility, span corruption and FIM splits, the
dedup cascade, compaction/tombstone/freshness/content warehouse ops,
packing efficiency, sqrt-temperature mixing, truncation loss, filter
funnels, temporal splits and n-gram novelty.

Shared constants for the tokenizer/packing path (_BPE_RULES,
_PACK_BUDGET, _RESAMPLE_TARGETS and the BPE oracle builder) are
imported from pipelines.py so both tiers tokenize the identical
corpus; data-proportional ranks ride the distributed window kernels
(operators/windows.py), never a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from .. import lifecycle
from ..api_lsh import _minhash_token_pairs
from ..io import spread_table, table
from ..registry import query
from ..api_rank import global_rank_distributed, grouped_cumsum_distributed
from .pipelines import (
    _BPE_RULES,
    _PACK_BUDGET,
    _RESAMPLE_TARGETS,
    _bpe_apply_oracle,
)


@query(
    "pipeline_eval_em_f1",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
pr AS (
  SELECT doc_id,
         list_slice(toks, 1, 6) AS ref,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN list_slice(toks, 1, 6)
           WHEN 1 THEN list_slice(toks, 3, 8)
           ELSE list_reverse_sort(list_slice(toks, 1, 6))
         END AS pred
  FROM t
),
s AS (
  SELECT doc_id, ref, pred,
         CAST(list_sum(list_transform(list_distinct(pred),
           tk -> least(len(list_filter(pred, x -> x = tk)),
                       len(list_filter(ref,  x -> x = tk))))) AS BIGINT)
           AS overlap,
         CAST(len(pred) + len(ref) AS BIGINT) AS denom
  FROM pr
)
SELECT doc_id,
       CAST(array_to_string(pred, ' ') = array_to_string(ref, ' ') AS INT) AS em,
       COALESCE(overlap, 0) AS overlap, denom,
       CAST(2 * COALESCE(overlap, 0) AS DOUBLE) / denom AS f1
FROM s
""",
    category="pipelines",
)
def pipeline_eval_em_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM eval-harness exact-match and token F1.  References are the
    first 6 tokens of each document; predictions exercise all three
    regimes (identical -> EM=1; shifted window -> partial F1;
    sorted-descending permutation -> EM=0 but F1=1, the case that
    separates the two metrics).  Thin adapter over api.token_f1."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ref = F.slice(toks, 1, 6)
    pred = (
        F.when((F.col("doc_id") % 3) == 0, F.slice(toks, 1, 6))
        .when((F.col("doc_id") % 3) == 1, F.slice(toks, 3, 6))
        .otherwise(F.reverse(F.array_sort(F.slice(toks, 1, 6))))
    )
    p = d.select("doc_id", ref.alias("ref"), pred.alias("pred"))
    return api.token_f1(p, "pred", "ref").select(
        "doc_id", "em", "overlap", "denom", "f1"
    )


@query(
    "pipeline_kanonymity",
    oracle="""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
         COUNT(*) AS grp_n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below_k,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS n_rows_to_suppress,
       CAST(MIN(grp_n) AS BIGINT) AS min_class_size,
       CAST(SUM(grp_n) AS BIGINT) AS n_rows
FROM q
""",
    category="pipelines",
)
def pipeline_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity release audit at k=5 over the customer
    quasi-identifier tuple (nation, market segment, coarse balance
    band neg/low/high).  Thin adapter over api.kanonymity."""
    c = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    q = c.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
    return api.kanonymity(q, ["c_nationkey", "c_mktsegment", "bal_band"], k=5)


@query("pipeline_incremental_minhash", oracle=None, category="pipelines")
def pipeline_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the fuzzy tier of
    pipeline_incremental_dedup's ladder: the arriving batch is hashed
    with the SAME MinHash coefficients as the accepted corpus (the
    model is its seed and vector size; the banded signature table is
    what production persists) and band-joined against the base index
    by the two-sided api_lsh join: batch vs base only, never batch vs
    batch, never base vs base, and the corpus text never moves.  The
    pairs and their jaccard doubles are those of MLlib's
    approxSimilarityJoin(batch, base, 0.5) on the same model
    (tests/test_lsh.py), without its vector-payload shuffle.

    Synthetic wide-vocab corpus (shared _widevocab_tokens; planted
    4-doc clusters at Jaccard ~0.67): batch = every 4th doc, whose 3
    clustermates sit in the base -> must be flagged; every 8th doc's
    tokens are replaced with doc-unique strings -> novel, must be
    admitted. Rows-only (sketch internals); the classification is
    asserted exactly in tests/test_quality.py.

    At 100 TB: hashing the batch is a map stage, the band join moves
    only the ids of colliding signatures, and the exact-Jaccard
    verify touches only candidates — incremental cost scales with
    the BATCH, not the corpus."""
    from ..operators.dedup import _widevocab_tokens

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 8 == 7,
            F.transform(
                F.sequence(F.lit(0), F.lit(59)),
                lambda j: F.concat_ws("_", F.lit("novel"), F.col("doc_id"), j),
            ),
        )
        .otherwise(_widevocab_tokens())
        .alias("toks"),
    )
    base = d.where(F.col("doc_id") % 4 != 3)
    batch = d.where(F.col("doc_id") % 4 == 3)
    hits = (
        _minhash_token_pairs(
            batch, base, threshold=0.5, num_tables=8, num_features=1 << 18, seed=42
        )
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(F.max("jaccard").alias("best_jaccard"))
    )
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("best_jaccard").isNotNull().alias("dup_fuzzy"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            F.col("best_jaccard").isNull().alias("admit"),
        )
    )


@query(
    "pipeline_feature_drift",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(day(ts) % 2 AS INT) AS half,
         LEAST(9, GREATEST(0,
           CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) / 2000)
                AS INT))) AS bin
  FROM events
),
c AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_i,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb_i
  FROM b GROUP BY event_type, bin
),
t AS (
  SELECT event_type,
         CAST(SUM(na_i) AS BIGINT) AS na,
         CAST(SUM(nb_i) AS BIGINT) AS nb,
         CAST(SUM(ABS(na_i * (SELECT SUM(nb_i) FROM c c2
                              WHERE c2.event_type = c.event_type)
                    - nb_i * (SELECT SUM(na_i) FROM c c3
                              WHERE c3.event_type = c.event_type)))
              AS BIGINT) AS l1_num
  FROM c GROUP BY event_type
)
SELECT event_type, na, nb, l1_num,
       CAST(l1_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
         AS drift_l1
FROM t
""",
    category="pipelines",
)
def pipeline_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-DRIFT check — the train/serve skew monitor of an ML
    platform: the value distribution of each event type is binned
    (10 equi-width cent buckets) in two deterministic halves of the
    data (even vs odd day-of-month standing in for the training
    window vs the serving window) and compared by total-variation-
    style L1 distance. The distance numerator is the exact integer
    cross-multiplication Σ|na_i·NB − nb_i·NA| (no per-bin ratios),
    so both engines agree bit-for-bit; one final double division.

    Shape: one map-side bin stage, one (type, bin) hash-agg over a
    bounded domain, one per-type reduction — scan-speed at 100 TB,
    state capped by types × bins."""
    e = table(spark, sf_dir, "events")
    half = (F.dayofmonth("ts") % 2).cast("int")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    bin_ = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(cents / 2000).cast("int"))
    )
    b = e.select("event_type", half.alias("half"), bin_.alias("bin"))
    c = b.groupBy("event_type", "bin").agg(
        F.sum((F.col("half") == 0).cast("int")).alias("na_i"),
        F.sum((F.col("half") == 1).cast("int")).alias("nb_i"),
    )
    w = Window.partitionBy("event_type")
    c = c.withColumn("na", F.sum("na_i").over(w)).withColumn(
        "nb", F.sum("nb_i").over(w)
    )
    t = c.groupBy("event_type").agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(
            F.abs(F.col("na_i") * F.col("nb") - F.col("nb_i") * F.col("na"))
        ).alias("l1_num"),
    )
    return t.select(
        "event_type",
        "na",
        "nb",
        "l1_num",
        (
            F.col("l1_num").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("drift_l1"),
    )


@query(
    "pipeline_eval_calibration",
    oracle="""
WITH s AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 100 AS conf_pct,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outcome
  FROM events
),
b AS (
  SELECT LEAST(9, conf_pct // 10) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(outcome) AS BIGINT) AS acc_sum,
         CAST(SUM(conf_pct) AS BIGINT) AS conf_sum
  FROM s GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin, n_b, acc_sum, conf_sum,
       ABS(100 * acc_sum - conf_sum) AS gap_num,
       CAST(SUM(ABS(100 * acc_sum - conf_sum)) OVER () AS DOUBLE)
         / (100.0 * SUM(n_b) OVER ()) AS ece
FROM b
""",
    category="pipelines",
)
def pipeline_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION audit — the reliability-diagram + Expected
    Calibration Error computation of an ML eval harness: rows carry a
    deterministic pseudo-confidence (two-decimal fraction of the
    value column) and a binary outcome (purchase events); confidences
    bin into deciles and each bin's |accuracy − mean confidence| gap
    is weighted by bin mass. The whole ECE reduces to the EXACT
    integer identity Σ_b |100·Σoutcome − Σconf_pct| / (100·N) — one
    double division at the end, bit-identical across engines.

    Shape: map-side bin/outcome derivation, one 10-key hash-agg, a
    constant-size window for the cross-bin total — scan-speed at any
    eval-set size."""
    e = table(spark, sf_dir, "events")
    conf = ((F.col("value").cast("decimal(18,2)") * 100).cast("long") % 100).alias(
        "conf_pct"
    )
    outcome = (F.col("event_type") == "purchase").cast("int").alias("outcome")
    s = e.select(conf, outcome)
    b = s.groupBy(
        F.least(F.lit(9), F.floor(F.col("conf_pct") / 10)).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("outcome").alias("acc_sum"),
        F.sum("conf_pct").alias("conf_sum"),
    )
    gap = F.abs(F.lit(100) * F.col("acc_sum") - F.col("conf_sum"))
    w = Window.partitionBy()
    return b.select(
        "bin",
        "n_b",
        "acc_sum",
        "conf_sum",
        gap.alias("gap_num"),
        (
            F.sum(gap).over(w).cast("double")
            / (F.lit(100.0) * F.sum("n_b").over(w).cast("double"))
        ).alias("ece"),
    )


@query(
    "pipeline_confusion_matrix",
    oracle="""
WITH s AS (
  SELECT CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 100 >= 50
              THEN 1 ELSE 0 END AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS actual
  FROM events
),
m AS (
  SELECT CAST(SUM(pred * actual) AS BIGINT) AS tp,
         CAST(SUM(pred * (1 - actual)) AS BIGINT) AS fp,
         CAST(SUM((1 - pred) * actual) AS BIGINT) AS fn,
         CAST(SUM((1 - pred) * (1 - actual)) AS BIGINT) AS tn
  FROM s
)
SELECT tp, fp, fn, tn,
       CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS precision_,
       CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS recall_,
       CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0) AS f1
FROM m
""",
    category="pipelines",
)
def pipeline_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier confusion matrix: the prediction is the
    event value's cents >= 50 (a deterministic pseudo-confidence
    thresholded at 0.5), the label is the purchase outcome.  Thin
    adapter over api.confusion_matrix; precision/recall are renamed
    precision_/recall_."""
    e = table(spark, sf_dir, "events")
    pred = (
        ((F.col("value").cast("decimal(18,2)") * 100).cast("long") % 100 >= 50)
        .cast("int")
        .alias("pred")
    )
    actual = (F.col("event_type") == "purchase").cast("int").alias("actual")
    m = api.confusion_matrix(e.select(pred, actual), "pred", "actual")
    return m.withColumnsRenamed({"precision": "precision_", "recall": "recall_"})


def _bpe_chain_expr(text_expr: str = "text") -> str:
    """The shared DuckDB BPE replace chain over an arbitrary text
    expression (exact mirror of api.bpe_apply with _BPE_RULES)."""
    expr = rf"regexp_replace({text_expr}, '(.)', ' \1 ', 'g')"
    for left, right in _BPE_RULES:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left}{right} ')"
    return expr


@query(
    "pipeline_corpus_to_tokens",
    oracle=f"""
WITH dedup AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
kept AS (SELECT doc_id, source, text FROM dedup WHERE rn = 1),
obs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
  FROM kept GROUP BY source
),
tgt AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(_RESAMPLE_TARGETS.items()))})
    t(source, tgt_pm)
),
rates AS (
  SELECT o.source,
         LEAST(CAST(1000 AS BIGINT),
               (COALESCE(t.tgt_pm, 0) * o.total) // o.n) AS keep_pm
  FROM obs o LEFT JOIN tgt t ON t.source = o.source
),
mixed AS (
  SELECT k.doc_id, k.source, k.text
  FROM kept k JOIN rates r ON r.source = k.source
  WHERE ((k.doc_id & 2147483647) * 2654435761) % 4294967296 % 1000 < r.keep_pm
),
tok AS (
  SELECT doc_id, source,
         len(list_filter(
           list_transform(string_split(replace({_bpe_chain_expr()}, '  ', chr(9)),
                                       chr(9)), x -> trim(x)),
           x -> x <> '')) AS n_subwords
  FROM mixed
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM tok
GROUP BY source
""",
    category="pipelines",
)
def pipeline_corpus_to_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus-to-tokens build — the modern pretraining
    recipe composed from this engine's own kernels in one plan:
    exact dedup (keep-lowest per md5) → deterministic domain-mix
    enforcement (api.domain_resample, integer per-mille thresholds)
    → BPE tokenization (api.bpe_apply, the zero-shuffle replace
    chain) → per-source token-budget ledger. The composition is the
    point: every stage is the SAME certified kernel the standalone
    queries grade, and the whole thing stays one Catalyst plan —
    dedup's key window and the final per-source rollup are the only
    corpus shuffles; resample's threshold and the tokenizer are
    map-side.

    At 100 TB this is the nightly corpus build: the ledger it emits
    (docs kept, subword counts per domain) is what the training-mix
    dashboard tracks."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = api.dedup_exact(d, [F.md5("text")], "doc_id")
    mixed = api.domain_resample(kept, "source", "doc_id", _RESAMPLE_TARGETS)
    toks = api.bpe_apply(mixed, "text", _BPE_RULES)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_subwords").alias("n_subwords"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "pipeline_pack_bpe_batches",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source,
         len(list_filter(
           list_transform(string_split(replace({_bpe_chain_expr()}, '  ', chr(9)),
                                       chr(9)), x -> trim(x)),
           x -> x <> '')) AS n_subwords
  FROM documents
),
c AS (
  SELECT doc_id, source, n_subwords,
         COALESCE(SUM(n_subwords) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS prior
  FROM tok
)
SELECT source, CAST(prior // 2048 AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY source, batch_id
""",
    category="pipelines",
)
def pipeline_pack_bpe_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY DOCUMENT PACKING into fixed token-budget training
    batches — the data-loader step after tokenization (the companion
    of pipeline_pack_sequences, which chunks token streams; this
    packs whole documents): docs are laid out in deterministic
    doc_id order within each source shard, and a document belongs to
    batch floor(exclusive-prefix-subwords / 2048) — the streaming
    greedy packer, reproducible on any engine because the order key
    and the REAL BPE subword lengths (api.bpe_apply) are both
    deterministic. Emits the per-batch ledger (docs, subwords, doc
    range) a training job uses for sharding.

    One shuffle on the source shard key; the prefix sum rides the
    same partitioning; tokenization stays map-side.

    r13 (guide §2.5): tokenization runs BEFORE the source-key window
    Exchange, i.e. on the scan stage — one task on the fixture's
    single-row-group file; spread_table parallelizes it (no-op on a
    splittable layout)."""
    d = spread_table(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", "text"
    )
    toks = api.bpe_apply(d, "text", _BPE_RULES).select(
        "doc_id", "source", "n_subwords"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = toks.withColumn("prior", F.coalesce(F.sum("n_subwords").over(w), F.lit(0)))
    return (
        c.groupBy("source", F.expr("prior div 2048").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_subwords").alias("n_subwords"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "pipeline_join_key_profile",
    oracle="""
WITH m AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS mult
  FROM lineitem GROUP BY l_orderkey
),
o AS (
  SELECT o.o_orderkey, COALESCE(m.mult, 0) AS mult
  FROM orders o LEFT JOIN m ON m.l_orderkey = o.o_orderkey
)
SELECT CAST(mult AS BIGINT) AS multiplicity,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(mult) AS BIGINT) AS n_rows_produced
FROM o
GROUP BY mult
""",
    category="pipelines",
)
def pipeline_join_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY cardinality profile — the pre-join diagnostic that
    pairs with pipeline_skew_report (skew_report finds hot keys;
    this one characterizes the whole multiplicity DISTRIBUTION of
    orders⋈lineitem): for every order key, how many fact rows it
    matches, histogrammed — including multiplicity 0 (orders with no
    lineitems), which a naive inner-join profile silently misses.
    n_rows_produced per bucket is the join's output-size forecast:
    Σ = exact post-join row count, the number a capacity plan needs
    BEFORE running the join.

    Shape: one fact-side key count, a broadcast/shuffled left join
    of key tables (never the fact payload), one bounded histogram
    agg — the profile costs a key-table pass, not a join."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    m = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("mult"))
    prof = o.select("o_orderkey").join(
        m, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    ).select(F.coalesce("mult", F.lit(0)).alias("mult"))
    return prof.groupBy(F.col("mult").alias("multiplicity")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("mult").alias("n_rows_produced"),
    )


@query(
    "pipeline_shard_manifest",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
r AS (
  SELECT doc_id, n_tok,
         (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8
           AS shard_id
  FROM t
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens
FROM r
GROUP BY shard_id
""",
    category="pipelines",
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced OUTPUT SHARDING — the write-side planning op of
    a training-data build: assign every document to one of 8 output
    shards round-robin by exact global token-count rank (descending,
    doc_id tie-break), so each shard lands within one max-doc of the
    ideal token share (the classic LPT/round-robin bound), and emit
    the shard manifest (doc count, token sum, largest doc) a
    downstream writer partitions by.  The exact global rank comes from
    the distributed-prefix kernel ``api_rank.global_rank_distributed``."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    ranked = global_rank_distributed(
        t, [F.col("n_tok").desc(), F.col("doc_id")], "rk"
    )
    return (
        ranked.select(
            "n_tok", ((F.col("rk") - 1) % 8).cast("long").alias("shard_id")
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.max("n_tok").alias("max_doc_tokens"),
        )
    )


_EPOCH_TARGETS = {
    "src0": 3200,  # 3 full copies + deterministic 20% fourth copy
    "src1": 1000,  # exactly one epoch
    "src2": 500,   # degrades to a 50% down-sample
    "src3": 2000,  # two full copies
    "src4": 1500,  # one full + deterministic 50% second copy
}


@query(
    "pipeline_mixture_epochs",
    oracle="""
WITH pm AS (
  SELECT * FROM (VALUES ('src0', 3200), ('src1', 1000), ('src2', 500),
                        ('src3', 2000), ('src4', 1500)) AS t(source, epochs_pm)
),
d AS (
  SELECT doc_id, documents.source,
         epochs_pm // 1000
           + CASE WHEN ((doc_id & 2147483647) * 2654435761) % 4294967296 % 1000
                       < epochs_pm % 1000
                  THEN 1 ELSE 0 END AS k
  FROM documents JOIN pm ON documents.source = pm.source
)
SELECT doc_id, source,
       CAST(UNNEST(generate_series(1, CAST(k AS BIGINT))) AS BIGINT) AS copy_id
FROM d WHERE k >= 1
""",
    category="pipelines",
)
def pipeline_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-weighted data mixing — the upsampling half of the data
    recipe (domain_resample handles down-sampling): each source gets
    a per-mille epoch count; the integer part replicates every doc
    and the fractional part selects a deterministic Knuth-hash
    subset for one extra copy (src0 at 3200pm -> 3 copies of
    everything + a 4th copy of a fixed 20%). Copies carry copy_id so
    packing can separate replicas. Sources outside the recipe drop.

    Shape: bounded broadcast epoch table + map-side explode — fanout
    is exactly the epoch sum, no shuffle, no RNG anywhere (the
    membership is a pure function of doc_id, reproducible across
    engines and partitionings)."""
    d = table(spark, sf_dir, "documents")
    return api.epoch_upsample(d, "source", "doc_id", _EPOCH_TARGETS).select(
        "doc_id", "source", "copy_id"
    )


@query(
    "pipeline_eval_retrieval",
    oracle="""
WITH ev AS (
  SELECT vec_id, label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, i,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM ev WHERE vec_id < 8
),
d AS (
  SELECT vec_id, label, i,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS dv
  FROM ev WHERE vec_id >= 8
),
scored AS (
  SELECT q.query_id, ANY_VALUE(q.qlabel) AS qlabel, d.vec_id,
         ANY_VALUE(d.label) AS label,
         CAST(SUM(d.dv * q.qv) AS BIGINT) AS dp
  FROM d JOIN q ON q.i = d.i
  GROUP BY q.query_id, d.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dp DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id,
       CAST(ANY_VALUE(qlabel) AS INT) AS query_label,
       CAST(count_if(label = qlabel) AS BIGINT) AS n_rel_corpus,
       CAST(MIN(CASE WHEN label = qlabel THEN rnk END) AS BIGINT)
           AS first_rel_rank,
       CAST(count_if(label = qlabel AND rnk <= 10) AS BIGINT) AS rel_in_top10,
       CAST(count_if(label = qlabel AND rnk <= 10) AS DOUBLE) / 10
           AS precision_at10,
       CAST(count_if(label = qlabel AND rnk <= 10) AS DOUBLE)
           / count_if(label = qlabel) AS recall_at10
FROM ranked
GROUP BY query_id
HAVING count_if(label = qlabel) > 0
""",
    category="pipelines",
)
def pipeline_eval_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation with label ground truth — the
    readout loop every embedding/ANN pipeline needs: for each query
    vector (vec_id < 8, BROADCAST with its label), rank the corpus
    by exact int64-quantized dot product and report
    first-relevant-rank, hits@10, precision@10 and recall@10
    ("relevant" = same label).  The plan never materializes a
    corpus-sized ranking: first_rel_rank is computed RANK-FREE as
    1 + count of docs strictly outranking the best relevant doc
    (two hash aggregations over the scored scan — the order
    statistic as an aggregate), and the top-10 membership count uses
    the canonical two-stage distributed top-k (per-(query,
    input-partition) local top-10 windows — bounded per task — then
    a global top-10 over the <= 10*n_partitions candidates), so no
    window partition ever holds the corpus.  Everything is
    integer-exact until the two final ratio divisions, so the eval
    is bit-reproducible under any partitioning — at 100 TB this is
    one broadcast-join scan plus bounded per-query aggregates and
    the bounded candidate windows.  Contract: the eval is defined
    only for queries with at least one relevant corpus doc; both
    twins drop zero-relevant queries explicitly (the inner join
    here, HAVING in the oracle)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        api.quantize_vec(F.col("embedding")).alias("qe"),
    )
    d = e.where(F.col("vec_id") >= 8).select(
        "vec_id", "label", api.quantize_vec(F.col("embedding")).alias("de")
    )
    # (dp, vec_id) ordering key, packed so "outranks" is one struct
    # comparison: higher dp first, lower vec_id breaks ties.
    key = F.struct(F.col("dp").alias("dp"), (-F.col("vec_id")).alias("nid"))
    # An eager checkpoint instead of a session-lifetime persist: the
    # four consumers below share the materialization, and the blocks
    # are released between queries instead of pinning the
    # corpus-sized intermediate in storage memory forever.
    scored = lifecycle.checkpoint(
        d.crossJoin(F.broadcast(q))
        .select(
            "query_id", "qlabel", "vec_id", "label",
            api.int_dot(F.col("de"), F.col("qe")).alias("dp"),
        )
    )
    rel = scored.where(F.col("label") == F.col("qlabel"))
    best_rel = rel.groupBy("query_id").agg(F.max(key).alias("bk"))
    # first_rel_rank = 1 + #docs strictly outranking the best relevant
    frr = (
        scored.join(F.broadcast(best_rel), "query_id")
        .groupBy("query_id")
        .agg(
            (1 + F.count_if(key > F.col("bk"))).cast("long").alias("first_rel_rank")
        )
    )
    # rel_in_top10 via the canonical two-stage distributed top-k:
    # per-(query, input-partition) local top-10 (bounded per task;
    # the true global top-10 is always a subset of the local
    # winners), then a global top-10 over the <= 10*n_partitions
    # candidates — never a corpus-sized window partition.
    loc = scored.withColumn("pid", F.spark_partition_id())
    w_loc = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("dp"), "vec_id"
    )
    cand = loc.withColumn("rn_l", F.row_number().over(w_loc)).where(
        F.col("rn_l") <= 10
    )
    w_g = Window.partitionBy("query_id").orderBy(F.desc("dp"), "vec_id")
    top10 = (
        cand.withColumn("rn", F.row_number().over(w_g))
        .where(F.col("rn") <= 10)
        .groupBy("query_id")
        .agg(F.count_if(F.col("label") == F.col("qlabel")).alias("rel_in_top10"))
    )
    base = scored.groupBy("query_id").agg(
        F.any_value(F.col("qlabel")).cast("int").alias("query_label"),
        F.count_if(F.col("label") == F.col("qlabel")).alias("n_rel_corpus"),
    )
    return (
        base.join(frr, "query_id")
        .join(top10, "query_id")
        .select(
            "query_id",
            "query_label",
            "n_rel_corpus",
            "first_rel_rank",
            "rel_in_top10",
            (F.col("rel_in_top10").cast("double") / 10).alias("precision_at10"),
            (
                F.col("rel_in_top10").cast("double") / F.col("n_rel_corpus")
            ).alias("recall_at10"),
        )
    )


@query(
    "pipeline_preference_pairs",
    oracle="""
WITH s AS (
  SELECT doc_id, lang, source,
         len(list_distinct(string_split(text, ' '))) AS n_unique
  FROM documents
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY n_unique DESC, doc_id) AS rb,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY n_unique ASC, doc_id DESC) AS rw
  FROM s
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(CASE WHEN rb = 1 THEN doc_id END) AS BIGINT) AS chosen_id,
       CAST(MIN(CASE WHEN rw = 1 THEN doc_id END) AS BIGINT) AS rejected_id,
       CAST(MIN(CASE WHEN rb = 1 THEN n_unique END) AS BIGINT) AS chosen_unique,
       CAST(MIN(CASE WHEN rw = 1 THEN n_unique END) AS BIGINT) AS rejected_unique,
       CAST(MIN(CASE WHEN rb = 1 THEN n_unique END)
            - MIN(CASE WHEN rw = 1 THEN n_unique END) AS BIGINT) AS margin
FROM r
GROUP BY lang, source
HAVING COUNT(*) >= 2
""",
    category="pipelines",
)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-prep shape):
    within every (lang, source) bucket — the stand-in for a prompt
    group — emit ONE (chosen, rejected) pair: the lexically richest
    document vs the poorest, by the deterministic integer key
    (distinct-token count, doc_id tie-break), plus the quality
    margin.  The entire selection is ONE hash aggregation: both
    extremes ride out as max/min of a packed (n_unique, -doc_id)
    struct — no window, no sort, one shuffle on the bucket key;
    at 100 TB prompt groups are millions of small keys, exactly
    what partial-agg hash aggregation eats.  Buckets with a single
    doc can't form a pair and are dropped (HAVING n >= 2).  Thin
    adapter over the public api.preference_pairs kernel."""
    d = table(spark, sf_dir, "documents")
    n_unique = F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("long")
    s = d.select("doc_id", "lang", "source", n_unique.alias("n_unique"))
    return api.preference_pairs(
        s, ["lang", "source"], "doc_id", "n_unique"
    ).withColumnsRenamed(
        {"chosen_score": "chosen_unique", "rejected_score": "rejected_unique"}
    )


@query(
    "pipeline_dedup_url",
    oracle="""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
         (CASE doc_id % 4 WHEN 0 THEN 'WWW.SITE' WHEN 1 THEN 'www.Site'
               WHEN 2 THEN 'Site' ELSE 'site' END) ||
         CAST(doc_id % 3 AS VARCHAR) ||
         (CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END) ||
         (CASE doc_id % 5 WHEN 0 THEN
               (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
               WHEN 1 THEN ':8080' ELSE '' END) ||
         '/a/' || CAST(doc_id % 4 AS VARCHAR) ||
         (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
         '?id=' || CAST(doc_id % 5 AS VARCHAR) ||
         (CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END) ||
         (CASE WHEN doc_id % 3 = 0 THEN '#top' ELSE '' END) AS url
  FROM documents
),
c AS (
  SELECT doc_id, url,
         regexp_extract(url, '^(https?)://', 1) AS scheme,
         regexp_replace(lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_extract(url, '^https?://[^/:?#]+:(\\d+)', 1) AS port,
         regexp_replace(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
                        '/$', '') AS path,
         array_to_string(list_sort(list_filter(
           string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
           x -> NOT starts_with(x, 'utm_'))), '&') AS q
  FROM u
),
k AS (
  SELECT doc_id, url,
         scheme || '://' || host ||
         (CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                    OR (scheme = 'http' AND port = '80')
               THEN '' ELSE ':' || port END) ||
         path ||
         (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
  FROM c
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw
FROM k
GROUP BY canonical_url
""",
    category="pipelines",
)
def pipeline_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first pass of every web-crawl
    pipeline: raw URLs that differ only in scheme-irrelevant ways
    (host case, a www. prefix, an explicit default port, a trailing
    slash, utm_* tracking params in any order, a fragment) must
    collapse to one canonical key before any content fetch/dedup
    spends a byte on them.  Raw URLs are synthesized per doc with
    deliberately noisy decorations (four case variants, three port
    forms, optional trailing slash / tracking param / fragment — the
    oracle builds the identical strings), then canonicalized with a
    pure-codegen regexp pipeline: extract scheme/host/port/path/
    query, case-fold + strip www., drop default ports, strip the
    trailing slash, filter-and-SORT the query params (array ops —
    param order never splits a group), drop the fragment.  One hash
    aggregation on the canonical key: n_variants, the keeper (min
    doc_id), and the distinct-raw count proving the collapse is
    real (~60 raw forms per canonical at scale).  At 100 TB this is
    THE frontier-dedup shuffle key — a map stage plus one exchange."""
    d = table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")
    url = F.concat(
        F.when(i % 2 == 0, "https").otherwise("http"), F.lit("://"),
        F.when(i % 4 == 0, "WWW.SITE").when(i % 4 == 1, "www.Site")
         .when(i % 4 == 2, "Site").otherwise("site"),
        s(i % 3),
        F.when(i % 2 == 0, ".COM").otherwise(".com"),
        F.when(i % 5 == 0, F.when(i % 2 == 0, ":443").otherwise(":80"))
         .when(i % 5 == 1, ":8080").otherwise(""),
        F.lit("/a/"), s(i % 4),
        F.when(i % 6 == 0, "/").otherwise(""),
        F.lit("?id="), s(i % 5),
        F.when(i % 2 == 0, "&utm_source=feed").otherwise(""),
        F.when(i % 3 == 0, "#top").otherwise(""),
    )
    u = d.select("doc_id", url.alias("url"))
    scheme = F.regexp_extract("url", r"^(https?)://", 1)
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+)", 1)),
        r"^www\.", ""
    )
    port = F.regexp_extract("url", r"^https?://[^/:?#]+:(\d+)", 1)
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https?://[^/?#]+([^?#]*)", 1), "/$", ""
    )
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    default_port = (
        (port == "")
        | ((scheme == "https") & (port == "443"))
        | ((scheme == "http") & (port == "80"))
    )
    canonical = F.concat(
        scheme, F.lit("://"), host,
        F.when(default_port, "").otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(q == "", "").otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        u.select("doc_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_id"),
            F.countDistinct("url").alias("n_distinct_raw"),
        )
    )


@query(
    "pipeline_tokenizer_fertility",
    oracle=f"""
SELECT d.lang, d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_words,
       CAST(SUM(b.n_subwords) AS BIGINT) AS n_subwords,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(b.n_subwords) AS DOUBLE)
           / SUM(len(string_split(d.text, ' '))) AS fertility,
       CAST(SUM(d.n_chars) AS DOUBLE) / SUM(b.n_subwords)
           AS chars_per_subword
FROM ({_bpe_apply_oracle()}) b
JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source
""",
    category="pipelines",
)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report — THE diagnostic that decides
    whether a tokenizer is fit for a corpus slice before a
    token-budgeted training run: per (lang, source), subwords per
    whitespace word (fertility — high values mean the vocab
    fragments that language and silently inflates its epoch cost)
    and chars per subword (compression). Composes the bpe_apply map
    stage (zero-shuffle codegen replaces) with one hash aggregation
    on the slice key; every ratio is an exact sum/sum single
    division.  At 100 TB: map + one exchange of (lang, source)
    partials — the same budget ledger shape as
    pipeline_domain_mix_report, now in tokenizer units."""
    d = table(spark, sf_dir, "documents")
    ap = api.bpe_apply(d.select("doc_id", "text"), "text", _BPE_RULES).select(
        "doc_id", "n_subwords"
    )
    joined = d.select(
        "doc_id", "lang", "source", "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
    ).join(ap, "doc_id")
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_subwords").alias("n_subwords"),
        F.sum("n_chars").alias("n_chars"),
        (F.sum("n_subwords").cast("double") / F.sum("n_words")).alias("fertility"),
        (F.sum("n_chars").cast("double") / F.sum("n_subwords")).alias(
            "chars_per_subword"
        ),
    )


@query(
    "pipeline_span_corruption",
    oracle="""
WITH t AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS j,
         (7 - doc_id % 7) % 7 AS s,
         len(string_split(text, ' ')) AS n
  FROM documents
),
m AS (
  SELECT doc_id, tok, j, n,
         (j >= s AND (j - s) % 7 IN (0, 1)) AS masked,
         (j >= s AND (j - s) % 7 = 0) AS is_start,
         CASE WHEN j >= s THEN (j - s) // 7 END AS k
  FROM t
)
SELECT doc_id,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
       CAST(count_if(masked) AS BIGINT) AS n_masked,
       CAST(count_if(is_start) AS BIGINT) AS n_spans,
       CAST(count_if(masked) AS DOUBLE) / ANY_VALUE(n) AS mask_ratio,
       COALESCE(string_agg(
         CASE WHEN NOT masked THEN tok
              WHEN is_start THEN '<extra_id_' || k || '>' END,
         ' ' ORDER BY j), '') AS corrupted_text,
       COALESCE(string_agg(
         CASE WHEN is_start THEN '<extra_id_' || k || '> ' || tok
              WHEN masked THEN tok END,
         ' ' ORDER BY j), '') AS targets_text
FROM m
GROUP BY doc_id
""",
    category="pipelines",
)
def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption — the denoising-objective data prep:
    deterministic spans (start every 7th position with a per-doc
    phase shift, span length 2) are cut out of each document,
    replaced by numbered <extra_id_k> sentinels, and emitted as the
    (corrupted input, sentinel-delimited target) training pair, plus
    span/mask accounting.  Fully array-native — index-aware
    transform/filter lambdas over ONE token array, array_compact to
    drop the swallowed positions, zero shuffles, zero explode (at
    100 TB the corpus never fans out to token rows; the oracle
    builds the same strings relationally to cross-check).  The
    deterministic mask (pure function of doc_id and position) is the
    reproducibility property RNG-based maskers can't give a
    distributed re-run."""
    d = table(spark, sf_dir, "documents")
    return api.span_corruption(d, "text", "doc_id", stride=7, span=2)


@query(
    "pipeline_fim_split",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
b AS (
  SELECT doc_id, toks, n,
         LEAST(n, n // 4 + doc_id % 3) AS a,
         LEAST(n, LEAST(n, n // 4 + doc_id % 3) + 1 + n // 3) AS bnd
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(a AS BIGINT) AS n_prefix,
       CAST(bnd - a AS BIGINT) AS n_middle,
       CAST(n - bnd AS BIGINT) AS n_suffix,
       COALESCE(array_to_string(list_slice(toks, 1, a), ' '), '') AS prefix_text,
       COALESCE(array_to_string(list_slice(toks, a + 1, bnd), ' '), '')
           AS middle_text,
       COALESCE(array_to_string(list_slice(toks, bnd + 1, n), ' '), '')
           AS suffix_text,
       '<PRE> ' || COALESCE(array_to_string(list_slice(toks, 1, a), ' '), '')
       || ' <SUF> '
       || COALESCE(array_to_string(list_slice(toks, bnd + 1, n), ' '), '')
       || ' <MID> '
       || COALESCE(array_to_string(list_slice(toks, a + 1, bnd), ' '), '')
           AS fim_psm
FROM b
""",
    category="pipelines",
)
def pipeline_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) transformation — the code-LLM
    pretraining prep (Bavarian et al.): each document is split into
    deterministic prefix/middle/suffix token spans (cut points are a
    pure function of doc length and doc_id — reproducible across
    re-runs, unlike RNG splits) and re-serialized in PSM order
    (<PRE> prefix <SUF> suffix <MID> middle), teaching the model to
    infill.  Pure array algebra — three slices of ONE token array in
    a single codegen map stage, zero shuffles, zero explode; span
    length accounting rides alongside.  At 100 TB this composes
    with pipeline_pack_bpe_batches exactly like the plain causal
    path."""
    d = table(spark, sf_dir, "documents")
    return api.fim_split(d, "text", "doc_id")


@query("pipeline_dedup_cascade", oracle=None, category="pipelines")
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup LADDER composed into one audited plan — how a
    production corpus actually runs it: (1) exact document dedup
    (deterministic keep-lowest, api.dedup_exact), then (2)
    paragraph-level dedup across the survivors
    (api.dedup_paragraphs), with a one-row ledger of what each stage
    removed and the byte mass before/after — the cheap exact tiers
    always run BEFORE any near-dup candidate generation spends a
    shuffle, because every doc they drop shrinks the expensive
    stage's input.  Rows-only (⊘): the ledger is deterministic and
    a test re-runs the two public kernels independently and asserts
    the identical ledger (composition consistency); each stage is
    separately oracle-certified (dedup_exact_text,
    dedup_paragraph)."""
    d = table(spark, sf_dir, "documents")
    kept = api.dedup_exact(d, ["text"], "doc_id")
    paras = api.dedup_paragraphs(kept, "text", "doc_id", chunk_tokens=4)
    total = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("chars_in"),
    )
    ledger = paras.agg(
        F.count(F.lit(1)).alias("after_exact"),
        F.sum("n_chunks").alias("para_chunks_total"),
        F.sum("n_dropped").alias("para_chunks_dropped"),
        F.sum(F.length("dedup_text")).alias("chars_out"),
    )
    return total.crossJoin(ledger).select(
        "n_docs",
        "after_exact",
        (F.col("n_docs") - F.col("after_exact")).alias("exact_removed"),
        "para_chunks_total",
        "para_chunks_dropped",
        "chars_in",
        "chars_out",
    )


_COMPACT_TARGET = 2048  # bytes per planned output file at test scale


@query(
    "pipeline_compaction_plan",
    oracle=f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS run
  FROM documents
)
SELECT source, CAST((run - n_chars) // {_COMPACT_TARGET} AS BIGINT) AS out_file,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS file_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY source, out_file
""",
    category="pipelines",
)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planning — the lakehouse maintenance op
    every 100 TB table needs: within each source, documents (stand-ins
    for the table's small files, sized by n_chars) are packed
    first-fit in doc_id order into target-capacity output files
    (out_file = bytes-before DIV capacity — the deterministic
    cumulative-sum bucketing every OPTIMIZE/compaction planner uses),
    and the plan manifest (doc count, byte mass, id range per planned
    file) is what the rewrite job partitions by.

    The per-source running byte total comes from the distributed-prefix
    kernel ``api_rank.grouped_cumsum_distributed``.  Output is one row
    per planned file — smaller than the input by the compaction ratio."""
    d = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    c = grouped_cumsum_distributed(d, ["source"], ["doc_id"], "n_chars", "run")
    return (
        c.select(
            "source",
            "doc_id",
            "n_chars",
            F.expr(f"(run - n_chars) div {_COMPACT_TARGET}").alias("out_file"),
        )
        .groupBy("source", "out_file")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("file_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "pipeline_tombstone_delete",
    oracle="""
WITH tomb AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
del_o AS (SELECT o_orderkey FROM orders JOIN tomb ON o_custkey = k)
SELECT 'customer' AS tbl,
       CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_retained,
       CAST(COALESCE(SUM(CASE WHEN c_custkey % 97 = 0 THEN c_custkey END), 0)
         AS BIGINT) AS purged_key_sum
FROM customer
UNION ALL
SELECT 'orders',
       CAST(COUNT(k) AS BIGINT),
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL THEN o_orderkey END), 0)
         AS BIGINT)
FROM orders LEFT JOIN tomb ON o_custkey = k
UNION ALL
SELECT 'lineitem',
       CAST(COUNT(o_orderkey) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NOT NULL THEN l_orderkey END),
         0) AS BIGINT)
FROM lineitem LEFT JOIN del_o ON l_orderkey = o_orderkey
""",
    category="pipelines",
)
def pipeline_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten DELETION PROPAGATION — the compliance op
    a 100 TB lakehouse runs on every erasure batch: a tombstone table
    (here the deterministic c_custkey % 97 == 0 request set) cascades
    customer -> orders -> lineitem along the foreign keys, and the
    output is the three-row audit ledger (rows purged, rows retained,
    and a purged-primary-key checksum per table) the compliance job
    signs off on — the scan that computes the ledger is the SAME scan
    the rewrite would use, so certifying the ledger certifies the
    delete.

    Shape: the tombstone set broadcasts (erasure batches are tiny
    next to the fact tables), so each orders pass is a zero-shuffle
    broadcast left join + one-pass conditional aggregate; the
    lineitem pass left-joins the purged order keys on the join key
    (one shuffle — the purged-key set grows with the batch, so it is
    NOT assumed broadcastable) and aggregates in the same pass.
    lineitem — the dominant table — is scanned exactly ONCE; orders
    is scanned twice (its ledger, and the purged-key extraction the
    lineitem pass joins against) because at 100 TB two column-pruned
    broadcast-join scans are cheaper than materializing a marked
    copy of the whole fact table; nothing collects."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    is_tomb = (F.col("c_custkey") % 97) == 0
    cust_ledger = c.agg(
        F.sum(F.when(is_tomb, 1).otherwise(0)).alias("n_purged"),
        F.sum(F.when(is_tomb, 0).otherwise(1)).alias("n_retained"),
        F.coalesce(F.sum(F.when(is_tomb, F.col("c_custkey"))), F.lit(0)).alias(
            "purged_key_sum"
        ),
    ).select(F.lit("customer").alias("tbl"), "*")
    tomb = c.where(is_tomb).select(F.col("c_custkey").alias("k"))

    def marked_ledger(marked: DataFrame, marker: str, pk: str, tbl: str):
        """One-pass purged/retained/key-checksum rollup over a fact
        table left-joined to its deletion marker column."""
        return marked.agg(
            F.count(marker).alias("n_purged"),
            F.sum(F.when(F.col(marker).isNull(), 1).otherwise(0)).alias(
                "n_retained"
            ),
            F.coalesce(
                F.sum(F.when(F.col(marker).isNotNull(), F.col(pk))), F.lit(0)
            ).alias("purged_key_sum"),
        ).select(F.lit(tbl).alias("tbl"), "*")

    o_marked = o.join(
        F.broadcast(tomb), F.col("o_custkey") == F.col("k"), "left"
    )
    ord_ledger = marked_ledger(o_marked, "k", "o_orderkey", "orders")
    del_o = o_marked.where(F.col("k").isNotNull()).select(
        F.col("o_orderkey").alias("del_okey")
    )
    li_marked = li.join(
        del_o, F.col("l_orderkey") == F.col("del_okey"), "left"
    )
    li_ledger = marked_ledger(li_marked, "del_okey", "l_orderkey", "lineitem")
    return cust_ledger.unionAll(ord_ledger).unionAll(li_ledger)


@query(
    "pipeline_freshness_report",
    oracle="""
WITH g AS (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS gmax FROM events),
t AS (
  SELECT event_type,
         MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day,
         MAX(CAST(date_trunc('day', ts) AS DATE)) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT t.event_type,
       strftime(t.first_day, '%Y-%m-%d') AS first_day,
       strftime(t.last_day, '%Y-%m-%d') AS last_day,
       CAST(date_diff('day', t.first_day, t.last_day) AS BIGINT)
         AS span_days,
       CAST(date_diff('day', t.last_day, g.gmax) AS BIGINT)
         AS days_stale,
       t.n_events
FROM t, g
""",
    category="pipelines",
)
def pipeline_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness report — the ingestion-health check every
    scheduled pipeline runs before training on 'latest' data: per
    stream (event type), first/last observed day, covered span, and
    staleness in days behind the lake-wide newest day (a stream
    whose days_stale grows is a dead upstream).  All exact integer
    day arithmetic; day boundaries serialized as strings (the graded
    date convention).  Scale: one aggregation pass per branch over
    the same scan, and the 1-row global max joins back as a
    broadcast crossJoin — no data-proportional broadcast, no
    window."""
    e = table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    t = e.select("event_type", day.alias("d")).groupBy("event_type").agg(
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    g = e.select(day.alias("d")).agg(F.max("d").alias("gmax"))
    return t.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        F.datediff("last_day", "first_day").cast("long").alias("span_days"),
        F.datediff("gmax", "last_day").cast("long").alias("days_stale"),
        "n_events",
    )


@query(
    "pipeline_content_manifest",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(md5(text)) AS min_md5,
       MAX(md5(text)) AS max_md5,
       CAST(bit_xor(CAST('0x' || substring(md5(text), 1, 15)
                         AS BIGINT)) AS BIGINT) AS xor_digest
FROM documents
GROUP BY source
""",
    category="pipelines",
)
def pipeline_content_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable shard manifest — the dataset-release
    fingerprint (HF-datasets/DVC style): per source, doc count,
    byte mass, the min/max content md5 (a cheap inclusion proof for
    spot audits) and an ORDER-FREE xor digest of the 60-bit md5
    prefixes — any added, dropped or mutated document flips the
    digest, and xor's commutativity makes it reproducible under any
    partitioning or row order (the same reason the hash-split
    columns are pure id functions).  md5 hex agrees across engines
    (both lowercase RFC 1321); the 15-hex-char prefix stays inside
    int64.  One hash-aggregate pass, shuffle on source only."""
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    return d.select("source", "n_chars", h.alias("h")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("h").alias("min_md5"),
        F.max("h").alias("max_md5"),
        F.expr("bit_xor(CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT))")
        .cast("long")
        .alias("xor_digest"),
    )


@query(
    "pipeline_pack_efficiency",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents
),
chunks AS (
  SELECT doc_id, lang, source,
         unnest(list_transform(
           generate_series(0, CAST((len(toks) + 31) // 32 AS INT) - 1),
           i -> len(list_slice(toks, i * 32 + 1, i * 32 + 32)))) AS n_tokens,
         generate_subscripts(
           generate_series(0, CAST((len(toks) + 31) // 32 AS INT) - 1), 1) - 1
           AS chunk_id
  FROM d
),
placed AS (
  SELECT lang, source, doc_id, chunk_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang, source ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM chunks
),
packs AS (
  SELECT lang, source, pack_id, CAST(SUM(n_tokens) AS BIGINT) AS tok
  FROM placed GROUP BY lang, source, pack_id
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN tok < {_PACK_BUDGET}
                     THEN {_PACK_BUDGET} - tok ELSE 0 END) AS BIGINT)
         AS padding_tokens,
       CAST(SUM(CASE WHEN tok >= {_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_packs,
       CAST(SUM(tok) * 10000 // (COUNT(*) * {_PACK_BUDGET}) AS BIGINT)
         AS utilization_bp
FROM packs GROUP BY lang
""",
    category="pipelines",
)
def pipeline_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over pipeline_pack_sequences'
    deterministic contiguous packing — the gauge every pretraining
    pipeline watches next to the packer itself: padding tokens lost
    per language (a pack under the 64-token budget pads to the
    context window), full-pack share, and utilization in exact
    integer basis points (sum*10000 DIV (packs*budget)); a low
    number says the chunker/packer pair wastes compute.  All
    integers off the same shard-windowed layout as the packer (one
    window scan, no global order).  Scale: identical to
    pipeline_pack_sequences — per-(lang, source) windows, never a
    global sort."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n_chunks = F.expr("(size(toks) + 31) div 32")
    chunk_sizes = F.transform(
        F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)),
        lambda i: F.size(F.slice(toks, i * 32 + 1, 32)),
    )
    chunks = d.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(chunk_sizes).alias("chunk_id", "n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = chunks.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BUDGET
        ).cast("long"),
    )
    packs = placed.groupBy("lang", "source", "pack_id").agg(
        F.sum("n_tokens").cast("long").alias("tok")
    )
    return packs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum(
            F.when(
                F.col("tok") < _PACK_BUDGET, _PACK_BUDGET - F.col("tok")
            ).otherwise(0)
        )
        .cast("long")
        .alias("padding_tokens"),
        F.sum(F.when(F.col("tok") >= _PACK_BUDGET, 1).otherwise(0))
        .cast("long")
        .alias("n_full_packs"),
        F.expr(
            f"CAST(SUM(tok) * 10000 DIV (COUNT(*) * {_PACK_BUDGET}) AS BIGINT)"
        ).alias("utilization_bp"),
    )


_MIX_LANGS = ["de", "en", "es", "fr", "zh"]
_MIX_BUDGET = 10**6  # token budget for the epoch readout


@query(
    "pipeline_mix_sqrt_temperature",
    oracle=f"""
WITH d AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents
),
per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM d GROUP BY lang
),
piv AS (
  SELECT
    {", ".join(f"CAST(SUM(CASE WHEN lang = '{lg}' THEN n_tokens END) AS BIGINT) AS t_{lg}" for lg in _MIX_LANGS)}
  FROM per
),
tot AS (
  SELECT {" + ".join(f"sqrt(CAST(t_{lg} AS DOUBLE))" for lg in _MIX_LANGS)}
           AS wsum
  FROM piv
)
SELECT p.lang, p.n_docs, p.n_tokens,
       sqrt(CAST(p.n_tokens AS DOUBLE)) AS weight,
       sqrt(CAST(p.n_tokens AS DOUBLE)) / t.wsum AS p_sample,
       sqrt(CAST(p.n_tokens AS DOUBLE)) / t.wsum * {_MIX_BUDGET}.0
         / CAST(p.n_tokens AS DOUBLE) AS epochs_at_budget
FROM per p CROSS JOIN tot t
""",
    category="pipelines",
)
def pipeline_mix_sqrt_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language-mixture weights at tau = 0.5 — the
    multilingual rebalancing rule (sample p_l proportional to
    n_l^tau) that upweights low-resource languages; tau = 0.5 is the
    one temperature whose power is EXACTLY computable cross-engine
    (sqrt is IEEE correctly-rounded in both; general pow is libm and
    stays out — documented).  Per-language token masses are exact
    integers; the normalizer sums the five sqrt weights in FIXED
    order over the one-row pivot (the fixed lang domain), and each
    output row's share and epochs-at-budget (how many passes over
    that language a 1M-token budget implies — >1 flags upsampling
    repetition risk) are single double expressions.  Scale: one
    groupBy(lang); the pivot row broadcasts back."""
    d = table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    piv = per.agg(
        *[
            F.sum(F.when(F.col("lang") == lg, F.col("n_tokens")))
            .cast("long")
            .alias(f"t_{lg}")
            for lg in _MIX_LANGS
        ]
    )
    wsum = None
    for lg in _MIX_LANGS:
        tt = F.sqrt(F.col(f"t_{lg}").cast("double"))
        wsum = tt if wsum is None else wsum + tt
    tot = piv.select(wsum.alias("wsum"))
    j = per.crossJoin(F.broadcast(tot))
    weight = F.sqrt(F.col("n_tokens").cast("double"))
    return j.select(
        "lang",
        "n_docs",
        "n_tokens",
        weight.alias("weight"),
        (weight / F.col("wsum")).alias("p_sample"),
        (
            weight
            / F.col("wsum")
            * float(_MIX_BUDGET)
            / F.col("n_tokens").cast("double")
        ).alias("epochs_at_budget"),
    )


_TRUNC_WINDOWS = [64, 128, 256, 512]


@query(
    "pipeline_truncation_loss",
    oracle=f"""
WITH d AS (
  SELECT len(string_split(text, ' ')) AS n_tok FROM documents
),
th AS (
  SELECT unnest([{", ".join(str(w) for w in _TRUNC_WINDOWS)}]) AS ctx
)
SELECT CAST(th.ctx AS BIGINT) AS context_window,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.n_tok <= th.ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_fitting,
       CAST(SUM(CASE WHEN d.n_tok < th.ctx THEN d.n_tok ELSE th.ctx END)
            AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN d.n_tok > th.ctx THEN d.n_tok - th.ctx ELSE 0 END)
            AS BIGINT) AS tokens_lost,
       CAST(SUM(CASE WHEN d.n_tok > th.ctx THEN d.n_tok - th.ctx ELSE 0 END)
              * 10000 // SUM(d.n_tok) AS BIGINT) AS loss_bp
FROM th CROSS JOIN d
GROUP BY th.ctx
""",
    category="pipelines",
)
def pipeline_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation-loss curve — the sizing study run
    before committing a max-sequence-length: for each candidate
    window (64/128/256/512 whitespace tokens), how many documents
    fit whole, how many tokens survive naive head-truncation, and
    the corpus share lost in exact integer basis points.  The
    4-row window table fans out over one token-count scan (broadcast
    cross join — the corpus is read once, never reshuffled); every
    cell is an integer sum with a final floor division.  Scale: one
    map + one 4-group aggregation regardless of corpus size."""
    d = table(spark, sf_dir, "documents").select(
        F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    th = spark.createDataFrame(
        [(w,) for w in _TRUNC_WINDOWS], "ctx long"
    )
    j = F.broadcast(th).crossJoin(d)
    lost = F.when(
        F.col("n_tok") > F.col("ctx"), F.col("n_tok") - F.col("ctx")
    ).otherwise(0)
    return j.groupBy("ctx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tok") <= F.col("ctx"), 1).otherwise(0))
        .cast("long")
        .alias("n_docs_fitting"),
        F.sum(
            F.when(F.col("n_tok") < F.col("ctx"), F.col("n_tok")).otherwise(
                F.col("ctx")
            )
        )
        .cast("long")
        .alias("tokens_kept"),
        F.sum(lost).cast("long").alias("tokens_lost"),
        F.expr(
            "CAST(SUM(CASE WHEN n_tok > ctx THEN n_tok - ctx ELSE 0 END)"
            " * 10000 DIV SUM(n_tok) AS BIGINT)"
        ).alias("loss_bp"),
    ).withColumnRenamed("ctx", "context_window")


@query(
    "pipeline_filter_funnel",
    oracle="""
WITH d AS (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         CAST(list_sum(list_transform(string_split(text, ' '),
                                      x -> length(x))) AS BIGINT) AS sum_chars
  FROM documents
),
g AS (
  SELECT doc_id,
         CAST(n_chars >= 50 AS INT) AS g1,
         CAST(n_tok >= 10 AS INT) AS g2,
         CAST(n_uniq * 3 >= n_tok AS INT) AS g3,
         CAST(sum_chars <= 12 * n_tok AS INT) AS g4
  FROM d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(1 - g1) AS BIGINT) AS killed_too_short,
       CAST(SUM(g1 * (1 - g2)) AS BIGINT) AS killed_few_tokens,
       CAST(SUM(g1 * g2 * (1 - g3)) AS BIGINT) AS killed_repetitive,
       CAST(SUM(g1 * g2 * g3 * (1 - g4)) AS BIGINT) AS killed_long_tokens,
       CAST(SUM(g1 * g2 * g3 * g4) AS BIGINT) AS n_survivors,
       CAST(SUM(g1 * g2 * g3 * g4) * 10000 // COUNT(*) AS BIGINT)
         AS survival_bp
FROM g
""",
    category="pipelines",
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel — the attrition ledger every corpus
    curation run publishes (which gate kills how much, in order):
    four ordered gates (min chars, min tokens, distinct-token ratio
    >= 1/3 as the repetition screen, mean token length <= 12 as the
    tokenizer-bomb screen), each kill bucket counted EXCLUSIVELY at
    the first failing gate (g1*(1-g2)*... products of exact integer
    bits), survivors and the survival rate in integer basis points.
    Gate order matters and is part of the contract — funnel numbers
    are only comparable run-to-run if the order is pinned.  Scale:
    one map + one global aggregation over six counters; the gates
    are pure codegen over the token array."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_uniq"),
        F.aggregate(
            F.split(F.col("text"), " "),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(x),
        ).alias("sum_chars"),
    )
    g = d.select(
        (F.col("n_chars") >= 50).cast("int").alias("g1"),
        (F.col("n_tok") >= 10).cast("int").alias("g2"),
        (F.col("n_uniq") * 3 >= F.col("n_tok")).cast("int").alias("g3"),
        (F.col("sum_chars") <= 12 * F.col("n_tok")).cast("int").alias("g4"),
    )
    surv = F.col("g1") * F.col("g2") * F.col("g3") * F.col("g4")
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(1 - F.col("g1")).cast("long").alias("killed_too_short"),
        F.sum(F.col("g1") * (1 - F.col("g2")))
        .cast("long")
        .alias("killed_few_tokens"),
        F.sum(F.col("g1") * F.col("g2") * (1 - F.col("g3")))
        .cast("long")
        .alias("killed_repetitive"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3") * (1 - F.col("g4")))
        .cast("long")
        .alias("killed_long_tokens"),
        F.sum(surv).cast("long").alias("n_survivors"),
        F.expr(
            "CAST(SUM(g1 * g2 * g3 * g4) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("survival_bp"),
    )


@query(
    "pipeline_temporal_split",
    oracle="""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-20'
                  THEN 1 ELSE 0 END) AS in_train,
         MAX(CASE WHEN CAST(date_trunc('day', ts) AS DATE) > DATE '2024-01-20'
                   AND CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-25'
                  THEN 1 ELSE 0 END) AS in_val,
         MAX(CASE WHEN CAST(date_trunc('day', ts) AS DATE) > DATE '2024-01-25'
                  THEN 1 ELSE 0 END) AS in_test,
         CAST(COUNT(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                              <= DATE '2024-01-20' THEN 1 END) AS BIGINT)
           AS ev_train,
         CAST(COUNT(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                              > DATE '2024-01-20'
                      AND CAST(date_trunc('day', ts) AS DATE)
                              <= DATE '2024-01-25' THEN 1 END) AS BIGINT)
           AS ev_val,
         CAST(COUNT(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                              > DATE '2024-01-25' THEN 1 END) AS BIGINT)
           AS ev_test
  FROM events GROUP BY user_id
)
SELECT CAST(SUM(ev_train) AS BIGINT) AS n_train_events,
       CAST(SUM(ev_val) AS BIGINT) AS n_val_events,
       CAST(SUM(ev_test) AS BIGINT) AS n_test_events,
       CAST(SUM(in_train) AS BIGINT) AS n_train_users,
       CAST(SUM(in_val) AS BIGINT) AS n_val_users,
       CAST(SUM(in_test) AS BIGINT) AS n_test_users,
       CAST(SUM(in_train * in_val) AS BIGINT) AS users_train_and_val,
       CAST(SUM(in_train * in_test) AS BIGINT) AS users_train_and_test,
       CAST(SUM(in_test * (1 - in_train) * (1 - in_val)) AS BIGINT)
         AS cold_start_test_users,
       CAST(SUM(in_train * in_test) * 10000
            // GREATEST(SUM(in_test), 1) AS BIGINT) AS test_seen_user_bp
FROM u
""",
    category="pipelines",
)
def pipeline_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological train/val/test split report (days 1-20 / 21-25 /
    26-30) with the LEAKAGE census hash-based splitting never needs
    but time-based splitting must publish: per-split event and user
    counts, user overlap between train and the eval splits (a user
    appearing in both is entity leakage for per-user models — or
    required context, depending on the task; either way it must be
    MEASURED), cold-start test users (never seen before), and the
    share of test users already seen in train, in integer basis
    points.  One user_id hash-agg with map-side partials; six flags
    per user, ten counters out — scale-free."""
    e = table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    d20 = F.lit("2024-01-20").cast("date")
    d25 = F.lit("2024-01-25").cast("date")
    is_tr = day <= d20
    is_va = (day > d20) & (day <= d25)
    is_te = day > d25
    u = e.groupBy("user_id").agg(
        F.max(F.when(is_tr, 1).otherwise(0)).alias("in_train"),
        F.max(F.when(is_va, 1).otherwise(0)).alias("in_val"),
        F.max(F.when(is_te, 1).otherwise(0)).alias("in_test"),
        F.count(F.when(is_tr, 1)).cast("long").alias("ev_train"),
        F.count(F.when(is_va, 1)).cast("long").alias("ev_val"),
        F.count(F.when(is_te, 1)).cast("long").alias("ev_test"),
    )
    return u.agg(
        F.sum("ev_train").cast("long").alias("n_train_events"),
        F.sum("ev_val").cast("long").alias("n_val_events"),
        F.sum("ev_test").cast("long").alias("n_test_events"),
        F.sum("in_train").cast("long").alias("n_train_users"),
        F.sum("in_val").cast("long").alias("n_val_users"),
        F.sum("in_test").cast("long").alias("n_test_users"),
        F.sum(F.col("in_train") * F.col("in_val"))
        .cast("long")
        .alias("users_train_and_val"),
        F.sum(F.col("in_train") * F.col("in_test"))
        .cast("long")
        .alias("users_train_and_test"),
        F.sum(
            F.col("in_test") * (1 - F.col("in_train")) * (1 - F.col("in_val"))
        )
        .cast("long")
        .alias("cold_start_test_users"),
        F.expr(
            "CAST(SUM(in_train * in_test) * 10000"
            " DIV GREATEST(SUM(in_test), 1) AS BIGINT)"
        ).alias("test_seen_user_bp"),
    )


@query(
    "pipeline_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams AS (
  SELECT DISTINCT a.doc_id, a.lang,
         a.tok || ' ' || b.tok || ' ' || c.tok AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
train AS (
  SELECT DISTINCT lang, gram FROM grams WHERE doc_id % 5 < 4
),
test_g AS (
  SELECT DISTINCT lang, gram FROM grams WHERE doc_id % 5 = 4
)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_test_grams,
       CAST(SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS novelty_bp
FROM test_g t
LEFT JOIN train tr ON tr.lang = t.lang AND tr.gram = t.gram
GROUP BY t.lang
""",
    category="pipelines",
)
def pipeline_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram novelty — the complement of
    text_contamination's overlap check: what share of the held-out
    split's distinct trigrams never appear in the training split
    (low novelty = the eval set mostly restates training text and
    will overstate model quality).  Splits are the deterministic
    doc_id % 5 folds; per-language distinct trigram sets are built
    once (the pipeline_ngram_coverage shape: shingle explode +
    per-side distincts) and the novelty rate is exact integer basis
    points off a left-anti-style join.  Scale: the gram join is
    key-partitioned on (lang, gram) — the heavy-text-join shape
    already benchmarked by ngram_coverage; never all-pairs."""
    d = table(spark, sf_dir, "documents")
    # r13 (guide §1.1): token array BOUND as a projected column —
    # the inlined split re-split the doc per trigram element
    # (O(tokens^2) per doc; the dedup_substring_spans lesson).
    dt = d.select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    grams_arr = F.when(F.size(toks) >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )
    grams = dt.select(
        "doc_id", "lang", F.explode(grams_arr).alias("gram")
    )
    train = (
        grams.where(F.col("doc_id") % 5 < 4).select("lang", "gram").distinct()
    )
    test_g = (
        grams.where(F.col("doc_id") % 5 == 4).select("lang", "gram").distinct()
    )
    j = test_g.join(
        train.withColumn("seen", F.lit(1)), ["lang", "gram"], "left"
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_grams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.expr(
            "CAST(SUM(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("novelty_bp"),
    )
