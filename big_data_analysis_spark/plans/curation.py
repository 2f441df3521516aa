"""Training-data curation pipelines, second wave (SURVEY.md §2.10
additions): rejection sampling (best-of-n), nested ablation-subset
manifests, difficulty-curriculum phases, eval n-gram coverage, SFT
conversation assembly, and reciprocal-rank retrieval fusion.

Shared discipline: membership/scoring is always a PURE FUNCTION of
stable ids (Knuth multiplicative hash, exact integer score keys) so a
re-run, re-partition, or engine swap reproduces the dataset bit for
bit — the reproducibility contract pipeline_train_split established.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..api_eval import importance_weights
from .. import lifecycle
from ..io import spread_table, table
from ..api_rank import ntile_distributed
from ..registry import query
from ..session import scratch_dir

_MOD = 1 << 32
_MULT = 2654435761  # Knuth multiplicative hash (shared with api.split_column)
# 31-bit pre-mask so id*_MULT can never overflow int64 (Spark would
# silently wrap while DuckDB raises — engine divergence past ~3.4e9 ids)
_MASK = (1 << 31) - 1

# Exact integer density key: unique-token ratio scaled to ppm, floor
# division (both operands positive -> Spark `div` == DuckDB `//`).
_DENSITY_SQL = "(len(list_distinct(string_split(text, ' '))) * 1000000) // len(string_split(text, ' '))"


@query(
    "pipeline_rejection_sample",
    oracle=f"""
WITH cand AS (
  SELECT doc_id, lang, doc_id // 4 AS prompt_id,
         len(string_split(text, ' ')) AS n_tokens,
         {_DENSITY_SQL} AS score
  FROM documents
),
best AS (
  SELECT * FROM cand
  QUALIFY row_number() OVER (PARTITION BY prompt_id
                             ORDER BY score DESC, doc_id) = 1
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_prompts,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(SUM(score) AS DOUBLE) / COUNT(*) AS mean_score
FROM best
GROUP BY lang
""",
    category="pipelines",
)
def pipeline_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection sampling / best-of-n selection: candidate pools of 4
    documents per prompt (prompt_id = doc_id div 4 — in production
    the generation batch id), a DETERMINISTIC quality score (lexical
    density in exact ppm — stand-in for a reward model; floor
    division keeps the sort key an exact integer, a float ratio
    could tie-break differently across engines), keep the argmax per
    pool with doc_id as total-order tie-break, then per-language
    acceptance ledger. The RLHF/synthetic-data winnowing shape: the
    window partitions are the ≤4-row pools, so the shuffle is
    perfectly balanced at any scale — no global sort anywhere."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    cand = d.select(
        "doc_id",
        "lang",
        F.expr("doc_id DIV 4").alias("prompt_id"),
        F.size(toks).alias("n_tokens"),
        # exact integer division (a float ratio cast to long could
        # round up across the floor on a just-below-integer quotient)
        (
            F.size(F.array_distinct(toks)).cast("long") * 1000000
        ).alias("scaled"),
    ).withColumn(
        "score", F.expr("scaled DIV n_tokens").cast("long")
    ).drop("scaled")
    w = Window.partitionBy("prompt_id").orderBy(F.desc("score"), F.asc("doc_id"))
    best = cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return best.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_prompts"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("score").cast("long").alias("sum_score"),
        F.min("score").cast("long").alias("min_score"),
        (F.sum("score").cast("double") / F.count(F.lit(1))).alias("mean_score"),
    )


_ABLATION_PCTS = (10, 25, 50, 100)


@query(
    "pipeline_ablation_grid",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         ((doc_id & {_MASK}) * {_MULT}) % {_MOD} AS bucket
  FROM documents
),
m AS (
  SELECT p.pct, b.*
  FROM (VALUES {', '.join(f'({p})' for p in _ABLATION_PCTS)}) p(pct)
  JOIN b ON b.bucket * 100 < p.pct * {_MOD}
)
SELECT pct,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM m
GROUP BY pct
""",
    category="pipelines",
)
def pipeline_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaling-law ablation manifests: NESTED 10/25/50/100% corpus
    subsets from one Knuth-hash bucket per document — nested because
    every subset is `bucket < threshold` on the SAME bucket, so the
    10% run is a strict subset of the 25% run (the property that
    makes ablation curves comparable; independent samples would
    confound scale with composition — property-tested in
    tests/test_quality.py). One scan, a ≤4× conditional fan-out
    (broadcast of the 4-row percent grid), one aggregate; membership
    is reproducible under any partitioning. The comparison
    bucket*100 < pct*2^32 stays in exact int64 (bucket < 2^32)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    b = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        ((F.col("doc_id").bitwiseAND(_MASK) * _MULT) % _MOD).alias("bucket"),
    )
    pcts = spark.createDataFrame([(p,) for p in _ABLATION_PCTS], "pct int")
    m = b.join(
        F.broadcast(pcts), b["bucket"] * 100 < pcts["pct"].cast("long") * _MOD
    )
    return m.groupBy("pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


@query(
    "pipeline_curriculum",
    oracle="""
WITH d AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
phased AS (
  SELECT *, ntile(4) OVER (ORDER BY n_tokens, doc_id) AS phase
  FROM d
)
SELECT phase, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_difficulty,
       CAST(MAX(n_tokens) AS BIGINT) AS max_difficulty
FROM phased
GROUP BY phase, lang
""",
    category="pipelines",
)
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents ordered by a
    difficulty proxy (token count, doc_id tie-break for a total
    order) and cut into 4 equal-population training phases —
    shortest docs first, the classic length curriculum. The phase
    cut is an EXACT global ntile from the distributed-prefix kernel
    ``api_rank.ntile_distributed``. Output is the per-(phase, lang)
    manifest a training scheduler consumes."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select("doc_id", "lang", F.size(toks).alias("n_tokens"))
    phased = ntile_distributed(base, 4, ["n_tokens", "doc_id"], "phase")
    return phased.groupBy("phase", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_difficulty"),
        F.max("n_tokens").cast("long").alias("max_difficulty"),
    )


_COV_N = 3  # trigram shingles


@query(
    "pipeline_ngram_coverage",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT lang, doc_id % 97 = 0 AS is_eval, shingle FROM (
    SELECT lang, doc_id,
           unnest(list_transform(
             generate_series(1, len(toks) - {_COV_N - 1}),
             i -> array_to_string(list_slice(toks, i, i + {_COV_N - 1}), ' ')))
           AS shingle
    FROM d
    WHERE len(toks) >= {_COV_N}
  ) raw
),
ev AS (SELECT DISTINCT lang, shingle FROM sh WHERE is_eval),
tr AS (SELECT DISTINCT lang, shingle FROM sh WHERE NOT is_eval),
cov AS (
  SELECT ev.lang, ev.shingle,
         CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END AS covered
  FROM ev LEFT JOIN tr ON tr.lang = ev.lang AND tr.shingle = ev.shingle
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_eval_grams,
       CAST(SUM(covered) AS BIGINT) AS n_covered,
       CAST(SUM(covered) AS DOUBLE) / COUNT(*) AS coverage
FROM cov
GROUP BY lang
""",
    category="pipelines",
)
def pipeline_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional coverage check — the mirror image of
    text_contamination: instead of flagging eval leakage INTO
    training data, measure how much of the eval set's distinct
    trigram space the training corpus covers per language (low
    coverage = the benchmark is out-of-distribution for this
    corpus; the metric data teams read before trusting an eval).
    Distinct gram sets on both sides make the per-(lang, shingle)
    join 1:1, which is exactly a per-(lang, shingle) boolean
    presence question — so (r13 optimization, guide §2.3-2.4) the
    two side-distincts + left join collapse into ONE groupBy(lang,
    shingle) computing max(is_eval)/max(is_train) presence flags:
    the corpus gram explode runs once instead of twice (the r12
    plan re-ran the scan+Generate per side) and exactly one
    data-proportional Exchange remains, shrunk map-side by the
    partial bool_or aggregation (the r12 plan shuffled the gram
    table twice through two DISTINCTs; see
    plans/r13/pipeline_ngram_coverage_before.txt). Per-doc
    array_distinct pre-shrinks the Generate for free (the grams are
    deduped downstream anyway). Eval side is ~1% of the corpus."""
    d = table(spark, sf_dir, "documents")
    # token array BOUND as a projected column before the lambda: the
    # old inlined `split(text, ' ')` re-split the document once per
    # gram element reference — O(n^2) per doc (guide §1.1)
    base = d.select(
        "lang",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
        F.split("text", " ").alias("toks"),
    ).where(F.size("toks") >= _COV_N)
    sh = base.select(
        "lang",
        "is_eval",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_COV_N - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at("toks", i + k) for k in range(_COV_N)],
                    ),
                )
            )
        ).alias("shingle"),
    )
    pres = sh.groupBy("lang", "shingle").agg(
        F.max("is_eval").alias("in_ev"),
        F.max(~F.col("is_eval")).alias("in_tr"),
    )
    cov = pres.where("in_ev").select(
        "lang", F.when(F.col("in_tr"), 1).otherwise(0).alias("covered")
    )
    return cov.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_grams"),
        F.sum("covered").cast("long").alias("n_covered"),
        (F.sum("covered").cast("double") / F.count(F.lit(1))).alias("coverage"),
    )


_SFT_GAP_MIN = 30
_SFT_MAX_TURNS = 20


@query(
    "pipeline_sft_transcripts",
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IN ('view', 'click') THEN 'user'
              WHEN event_type IN ('purchase', 'signup') THEN 'assistant'
              ELSE 'system' END AS role
  FROM events
),
marked AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {_SFT_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_n
  FROM marked
),
turns AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_n
                               ORDER BY ts, event_id) AS turn
  FROM sess
)
SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_user_turns,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant_turns,
       string_agg(role || ':' || event_type, ' | ' ORDER BY turn)
         AS transcript
FROM turns
WHERE turn <= {_SFT_MAX_TURNS}
GROUP BY user_id, session_n
""",
    category="pipelines",
)
def pipeline_sft_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation assembly: sessionize the event stream per
    user (30-min inactivity gap — the win_sessionize kernel), map
    event types onto chat roles, and serialize each session's first
    {_SFT_MAX_TURNS} turns into a role-tagged transcript string —
    the record shape a chat-format fine-tune consumes. The turn cap
    bounds every transcript regardless of session length (a context
    budget, and the reason the string_agg can never become a
    megabyte cell at 100 TB). All windows partition by user (or
    user+session) over ONE shuffle; (ts, event_id) is the total
    order that makes the transcript deterministic under ties."""
    from .. import api

    e = table(spark, sf_dir, "events")
    role = (
        F.when(F.col("event_type").isin("view", "click"), "user")
        .when(F.col("event_type").isin("purchase", "signup"), "assistant")
        .otherwise("system")
    )
    base = e.select("user_id", "ts", "event_id", "event_type", role.alias("role"))
    # Microsecond-exact gap sessionization (api.sessionize — shared
    # with win_sessionize; whole-second casts would merge sessions
    # whose true gap is in (1800s, 1801s)).
    sess = api.sessionize(
        base, "user_id", "ts", "event_id", gap_minutes=_SFT_GAP_MIN
    ).withColumnRenamed("session_id", "session_n")
    ws = Window.partitionBy("user_id", "session_n").orderBy("ts", "event_id")
    turns = sess.withColumn("turn", F.row_number().over(ws)).where(
        F.col("turn") <= _SFT_MAX_TURNS
    )
    piece = F.concat_ws(":", "role", "event_type")
    return turns.groupBy("user_id", "session_n").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
        .cast("long")
        .alias("n_user_turns"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
        .cast("long")
        .alias("n_assistant_turns"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("turn"), piece.alias("p")))
                ),
                lambda s: s["p"],
            ),
            " | ",
        ).alias("transcript"),
    )


_RRF_K = 60
_RRF_TOP = 50
_RRF_TERM = "hash"


@query(
    "pipeline_rrf_fusion",
    oracle=f"""
WITH tf AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t = '{_RRF_TERM}'))
           AS term_hits,
         n_chars
  FROM documents
),
ra AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY term_hits DESC, doc_id)
                      AS INTEGER) AS r
  FROM tf WHERE term_hits > 0
  QUALIFY r <= {_RRF_TOP}
),
rb AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                      AS INTEGER) AS r
  FROM tf
  QUALIFY r <= {_RRF_TOP}
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         ra.r AS rank_a, rb.r AS rank_b,
         COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + ra.r), 0.0)
           + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + rb.r), 0.0) AS rrf_score
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 20
""",
    category="pipelines",
)
def pipeline_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (lexical:
    term-frequency of a query term; prior: document length) with the
    standard k=60 — the hybrid-search merge every BM25+vector stack
    runs. Fused score = sum of 1/(60+rank) over the lists containing
    the doc; each division is a single correctly-rounded IEEE op on
    small exact integers and the two-term sum has one fixed shape,
    so the float ordering is bit-stable across engines (doc_id
    breaks exact score ties). The global windows here rank BOUNDED
    inputs — two top-{_RRF_TOP} lists — never the corpus; the
    corpus-wide top-{_RRF_TOP} selection itself is the
    TakeOrderedAndProject pattern (per-partition heaps + driver
    merge), not a global sort."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tf = d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t == _RRF_TERM)).alias("term_hits"),
        "n_chars",
    )
    # Top-N selection via orderBy+limit (TakeOrderedAndProject:
    # per-partition heaps merged on the driver), THEN rank inside the
    # bounded {_RRF_TOP}-row result — a bare row_number() over an
    # unpartitioned window here would sort the whole corpus on one
    # task.
    wa = Window.orderBy(F.desc("term_hits"), F.asc("doc_id"))
    wb = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ra = (
        tf.where(F.col("term_hits") > 0)
        .orderBy(F.desc("term_hits"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .withColumn("r", F.row_number().over(wa))
        .select(F.col("doc_id").alias("da"), F.col("r").alias("rank_a"))
    )
    rb = (
        tf.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .withColumn("r", F.row_number().over(wb))
        .select(F.col("doc_id").alias("db"), F.col("r").alias("rank_b"))
    )
    fused = ra.join(rb, ra["da"] == rb["db"], "full_outer").select(
        F.coalesce("da", "db").alias("doc_id"),
        "rank_a",
        "rank_b",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= 20)
    )


@query(
    "pipeline_medallion",
    oracle="""
WITH bronze AS (
  SELECT * FROM events
),
silver AS (
  SELECT * FROM bronze
  WHERE value IS NOT NULL AND value >= 0 AND event_type IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts) = 1
),
gold AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         COUNT(*) AS n,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
  FROM silver GROUP BY 1, 2
)
SELECT 'bronze' AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS cents
FROM bronze
UNION ALL
SELECT 'silver',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(event_id) AS BIGINT),
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
FROM silver
UNION ALL
SELECT 'gold',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n) AS BIGINT),
       CAST(SUM(cents) AS BIGINT)
FROM gold
""",
    category="pipelines",
)
def pipeline_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion (bronze -> silver -> gold) materialization with a
    conservation ledger: bronze lands raw events in parquet; silver
    re-reads BRONZE'S FILES (not the lineage), quality-filters and
    dedups on event_id (first-by-ts), and persists again; gold
    re-reads SILVER'S FILES into the per-(type, day) rollup.  Each
    layer is a real parquet round trip — the ledger (row count, id
    checksum, cent mass per layer) is what a lakehouse DQ monitor
    alerts on (silver <= bronze, gold preserves silver's cent mass
    exactly).  At 100 TB each hop is one bounded write + pruned
    read; the dedup window shuffles on event_id only."""
    e = table(spark, sf_dir, "events")
    cents = lambda c: (F.col(c).cast("decimal(18,2)") * 100).cast("long")
    bronze_dir = scratch_dir(prefix="bda_bronze_")
    e.write.mode("overwrite").parquet(bronze_dir)
    bronze = spark.read.parquet(bronze_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("event_id").orderBy("ts")
    silver_df = (
        bronze.where(
            F.col("value").isNotNull()
            & (F.col("value") >= 0)
            & F.col("event_type").isNotNull()
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    silver_dir = scratch_dir(prefix="bda_silver_")
    silver_df.write.mode("overwrite").parquet(silver_dir)
    silver = spark.read.parquet(silver_dir)
    gold = silver.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("cents"))

    def ledger(df: DataFrame, layer: str, id_sum, cent_sum) -> DataFrame:
        return df.agg(
            F.lit(layer).alias("layer"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            id_sum.cast("long").alias("id_checksum"),
            cent_sum.cast("long").alias("cents"),
        )

    b_l = ledger(bronze, "bronze", F.sum("event_id"), F.sum(cents("value")))
    s_l = ledger(silver, "silver", F.sum("event_id"), F.sum(cents("value")))
    g_l = ledger(gold, "gold", F.sum("n"), F.sum("cents"))
    return b_l.unionByName(s_l).unionByName(g_l)


_CLOZE_MIN_TOKENS = 5


@query(
    "pipeline_cloze_questions",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= {_CLOZE_MIN_TOKENS}
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) u
  GROUP BY doc_id, tok
),
ans AS (
  SELECT doc_id, tok AS answer, CAST(cnt AS BIGINT) AS n_occurrences
  FROM tf
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, tok) = 1
),
built AS (
  SELECT d.doc_id, ans.answer, ans.n_occurrences,
         CAST(list_position(d.toks, ans.answer) AS BIGINT) AS first_pos,
         CAST(len(d.toks) AS BIGINT) AS n_tokens,
         md5(array_to_string(list_transform(
               generate_series(1, len(d.toks)),
               i -> CASE WHEN i = list_position(d.toks, ans.answer)
                         THEN '___' ELSE d.toks[i] END), ' ')) AS cloze_md5
  FROM d JOIN ans ON ans.doc_id = d.doc_id
)
SELECT doc_id, answer, n_occurrences, first_pos, n_tokens, cloze_md5
FROM built
""",
    category="pipelines",
)
def pipeline_cloze_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic cloze-question generation — the deterministic core
    of a synthetic-QA data pipeline: per document, the answer term is
    the most frequent token (count desc, lexicographic tie-break —  a
    total order, so regeneration is bit-stable), the FIRST occurrence
    is blanked to '___', and the question text is fingerprinted
    (md5) so the oracle can verify the exact reconstruction without
    shipping megabyte strings through the comparator.  Plan: one
    explode + count shuffle for term frequencies, a per-doc argmax
    window on the same partitioning (no extra Exchange), and a 1:1
    join back to the token arrays for the blanking map — at 100 TB
    every stage is doc-partitioned, nothing global."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .where(F.size("toks") >= _CLOZE_MIN_TOKENS)
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tok"))
    ans = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("adoc"),
            F.col("tok").alias("answer"),
            F.col("cnt").cast("long").alias("n_occurrences"),
        )
    )
    j = d.join(ans, d["doc_id"] == ans["adoc"])
    pos = F.array_position(F.col("toks"), F.col("answer"))
    cloze = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: F.when(i == pos.cast("int"), "___").otherwise(
                F.element_at(F.col("toks"), i)
            ),
        ),
        " ",
    )
    return j.select(
        "doc_id",
        "answer",
        "n_occurrences",
        pos.cast("long").alias("first_pos"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.encode(cloze, "utf-8")).alias("cloze_md5"),
    )


_STRAT_EVAL_PCT = 10  # per-stratum eval share


@query(
    "pipeline_stratified_split",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         ((doc_id & {_MASK}) * {_MULT}) % {_MOD} AS bucket
  FROM documents
),
assigned AS (
  SELECT *, CASE WHEN bucket * 100 < {_STRAT_EVAL_PCT} * {_MOD}
                 THEN 'eval' ELSE 'train' END AS split
  FROM d
)
SELECT lang, source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc
FROM assigned
GROUP BY lang, source, split
""",
    category="pipelines",
)
def pipeline_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified eval split: the SAME Knuth bucket as
    pipeline_train_split decides membership, but the ledger is cut
    per (lang, source) stratum — the report that shows whether the
    hash split is balanced WITHIN every stratum (a global 10% split
    can still starve a rare language; this is the fairness audit an
    eval set ships with). Because membership is the pure hash, the
    eval set here is the identical document set under any stratum
    definition — strata change the REPORT, never the membership
    (the property that lets train/eval contracts survive
    re-stratification). One map + one aggregate."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bucket = (F.col("doc_id").bitwiseAND(_MASK) * _MULT) % _MOD
    split = F.when(
        bucket * 100 < _STRAT_EVAL_PCT * _MOD, "eval"
    ).otherwise("train")
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.size(toks).alias("n_tokens"),
            split.alias("split"),
        )
        .groupBy("lang", "source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "pipeline_session_features",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
feat AS (
  SELECT user_id, session_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
           AS duration_s,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS had_error
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, n_events,
       duration_s, n_types, n_purchases, total_cents, had_error,
       CAST(n_purchases AS DOUBLE) / n_events AS purchase_rate
FROM feat
""",
    category="pipelines",
)
def pipeline_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level ML feature extraction — the feature table a
    churn/conversion model trains on: gap-sessionized visits
    (api.sessionize, microsecond-exact) rolled to one row per
    session with event count, wall duration (whole seconds — the
    same truncation in both engines), type diversity, purchase
    count, exact cent spend, an error flag, and the one-division
    purchase rate. This is pipeline_point_in_time_features'
    label-side complement: features computed WITHIN the entity's
    own window need no as-of join. One shuffle on user_id (the
    sessionize window), and the feature rollup reuses the same
    partitioning — no second Exchange."""
    from .. import api

    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    base = e.select(
        "user_id", "event_id", "ts", "event_type", cents.alias("cents")
    )
    sess = api.sessionize(base, "user_id", "ts", "event_id", gap_minutes=30)
    dur = (
        F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
    ).cast("long")
    feat = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dur.alias("duration_s"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("had_error"),
    )
    return feat.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "duration_s",
        "n_types",
        "n_purchases",
        "total_cents",
        "had_error",
        (F.col("n_purchases").cast("double") / F.col("n_events")).alias(
            "purchase_rate"
        ),
    )


# Randomized-response parameters: report truth w.p. 3/4, else flip.
_LDP_KEEP_MOD = 4  # keep if hash % 4 < 3


@query(
    "pipeline_ldp_frequency",
    oracle=f"""
WITH r AS (
  SELECT event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS truth,
         (((event_id & 2147483647) * 2654435761) % {_LDP_KEEP_MOD}) < 3 AS keep,
         (((event_id & 2147483647) * 2654435761) // 8) % 2 AS coin
  FROM events
),
reported AS (
  SELECT CASE WHEN keep THEN truth ELSE coin END AS bit FROM r
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(bit) AS BIGINT) AS observed_ones
  FROM reported
),
truth_c AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS true_ones
  FROM events
)
SELECT c.n, c.observed_ones, truth_c.true_ones,
       (CAST(c.observed_ones AS DOUBLE) - 0.125 * c.n) / 0.75
         AS debiased_estimate
FROM c, truth_c
""",
    category="pipelines",
)
def pipeline_ldp_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy by randomized response — the
    telemetry-collection mechanism (RAPPOR-style): each client
    reports its true bit with probability 3/4, otherwise a fair
    coin, and the aggregator DEBIASES the observed count with
    E[obs] = 0.75·true + 0.125·n  =>  est = (obs − n/8) / 0.75.
    Privacy's randomness is replaced by deterministic Knuth-hash
    coins — the keep decision reads hash bits 0-1 and the flip coin
    reads bit 3, so the two are conditionally balanced (a
    parity-derived coin would correlate with keep and wreck the
    debias — caught live by the estimator test) — auditable end to
    end (the same
    RNG-free discipline as agg_bootstrap_ci — the MECHANISM and the
    estimator are what's graded; production swaps the hash for a
    client CSPRNG). The true count rides along so the estimator's
    error is visible. Two global aggregates, no shuffle beyond the
    partial-merge; the estimate is one fixed float expression over
    exact integers."""
    e = table(spark, sf_dir, "events")
    truth = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    keep = ((F.col("event_id").bitwiseAND(2147483647) * 2654435761) % _LDP_KEEP_MOD) < 3
    coin = F.expr("(((event_id & 2147483647) * 2654435761) DIV 8) % 2")
    bit = F.when(keep, truth).otherwise(coin)
    c = e.select(bit.alias("bit"), truth.alias("truth")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("bit").cast("long").alias("observed_ones"),
        F.sum("truth").cast("long").alias("true_ones"),
    )
    est = (F.col("observed_ones").cast("double") - 0.125 * F.col("n")) / 0.75
    return c.select(
        "n", "observed_ones", "true_ones", est.alias("debiased_estimate")
    )


@query(
    "pipeline_dsar_report",
    oracle="""
WITH target AS (
  SELECT c_custkey, c_name, c_mktsegment FROM customer
  WHERE c_custkey % 211 = 0
),
o AS (
  SELECT t.c_custkey,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
         CAST(COALESCE(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT)), 0) AS BIGINT) AS order_cents,
         MIN(o.o_orderdate) AS first_order_ts
  FROM target t LEFT JOIN orders o ON o.o_custkey = t.c_custkey
  GROUP BY t.c_custkey
),
l AS (
  SELECT t.c_custkey,
         CAST(COUNT(li.l_orderkey) AS BIGINT) AS n_lineitems,
         CAST(COUNT(DISTINCT li.l_partkey) AS BIGINT) AS n_distinct_parts
  FROM target t
  LEFT JOIN orders o2 ON o2.o_custkey = t.c_custkey
  LEFT JOIN lineitem li ON li.l_orderkey = o2.o_orderkey
  GROUP BY t.c_custkey
)
SELECT t.c_custkey, t.c_name, t.c_mktsegment,
       o.n_orders, o.order_cents,
       CAST(strftime(o.first_order_ts, '%Y-%m-%d %H:%M:%S') AS VARCHAR)
         AS first_order_at,
       l.n_lineitems, l.n_distinct_parts
FROM target t
JOIN o ON o.c_custkey = t.c_custkey
JOIN l ON l.c_custkey = t.c_custkey
""",
    category="pipelines",
)
def pipeline_dsar_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-subject access report (GDPR Art. 15 — the read side of
    pipeline_tombstone_delete's Art. 17 erasure): for each requesting
    customer (deterministic %211 sample standing in for the request
    queue), the complete per-table footprint — order count and cent
    mass, first-order timestamp, lineitem count, distinct parts
    touched. The request set is TINY relative to the tables, so both
    fact joins broadcast the subject keys and the big tables are
    never shuffled — the exact shape a DSAR batch job needs at
    100 TB (footprint proportional to the subjects, not the lake).
    Join-shape discipline (r8 fix): Spark REJECTS a broadcast hint
    on the preserved side of an outer join ("Hint (strategy=
    broadcast) is not supported" at plan time), silently demoting to
    SortMergeJoin — so the fact joins are INNER against the
    broadcast subjects (BuildRight, always legal) and zero-footprint
    subjects are re-attached by a final left join FROM the tiny
    target with COALESCE(...,0), where the broadcastable side is the
    build side. Plan-tested: zero SortMergeJoin, all builds on the
    subject/aggregate side. Timestamps are serialized to strings so
    the graded payload is scalar-stable."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = spread_table(spark, sf_dir, "lineitem", "l_orderkey")
    target = c.where(F.col("c_custkey") % 211 == 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    keys = target.select("c_custkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    o_side = (
        o.join(F.broadcast(keys), o["o_custkey"] == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("order_cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_order_at"
            ),
        )
    )
    subj_orders = (
        o.join(F.broadcast(keys), o["o_custkey"] == F.col("c_custkey"))
        .select(F.col("c_custkey").alias("k"), "o_orderkey")
    )
    l_side = (
        li.join(
            F.broadcast(subj_orders),
            li["l_orderkey"] == subj_orders["o_orderkey"],
        )
        .groupBy("k")
        .agg(
            F.count("l_partkey").cast("long").alias("n_lineitems"),
            F.countDistinct("l_partkey").cast("long").alias("n_distinct_parts"),
        )
    )
    # LEFT from the subjects so a customer with zero orders still
    # appears (classic TPC-H leaves ~1/3 of customers orderless —
    # the inner fact joins above dropped them on purpose); the
    # aggregated sides are broadcast (BuildRight is legal for the
    # non-preserved side of a left join)
    return (
        target.join(F.broadcast(o_side), "c_custkey", "left")
        .join(F.broadcast(l_side), target["c_custkey"] == l_side["k"], "left")
        .select(
            "c_custkey", "c_name", "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce(F.col("order_cents"), F.lit(0))
            .cast("long")
            .alias("order_cents"),
            "first_order_at",
            F.coalesce(F.col("n_lineitems"), F.lit(0))
            .cast("long")
            .alias("n_lineitems"),
            F.coalesce(F.col("n_distinct_parts"), F.lit(0))
            .cast("long")
            .alias("n_distinct_parts"),
        )
    )


_RL_MIN_GROUP = 4  # prompts need >= 4 sampled responses to score


@query(
    "pipeline_rl_advantage",
    oracle=f"""
WITH r AS (
  SELECT user_id AS prompt_id, event_id AS response_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS reward_c
  FROM events WHERE event_type = 'purchase'
),
g AS (
  SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(reward_c) AS BIGINT) AS s
  FROM r GROUP BY prompt_id
  HAVING COUNT(*) >= {_RL_MIN_GROUP}
)
SELECT r.prompt_id, r.response_id, r.reward_c, g.n,
       CAST(g.n * r.reward_c - g.s AS BIGINT) AS adv_num,
       CAST(g.n * r.reward_c - g.s AS DOUBLE) / g.n / 100.0 AS advantage
FROM r JOIN g ON g.prompt_id = r.prompt_id
""",
    category="pipelines",
)
def pipeline_rl_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage computation — the GRPO/RLOO
    post-training data shape: responses sampled per prompt (modeled
    as purchase events per user, reward = cents) are scored against
    their OWN group's mean, advantage = r - mean(group), and groups
    too small to estimate a baseline (< 4 responses) are dropped.
    The advantage is carried as the exact integer numerator
    n*r - s (the mean's denominator cleared), so ranking,
    sign tests and top-k selection downstream are bit-exact; the
    display value divides once per row.  Scale shape: one
    key-partitioned groupBy builds the per-prompt baseline, one
    equi-join on prompt_id fans it back over responses — both
    shuffles on the same key, no broadcast of anything
    data-proportional, no window."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    r = ev.select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("reward_c"),
    )
    g = (
        r.groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("reward_c").cast("long").alias("s"),
        )
        .where(F.col("n") >= _RL_MIN_GROUP)
    )
    j = r.join(g, "prompt_id")
    adv_num = F.col("n") * F.col("reward_c") - F.col("s")
    return j.select(
        "prompt_id",
        "response_id",
        "reward_c",
        "n",
        adv_num.cast("long").alias("adv_num"),
        (adv_num.cast("double") / F.col("n") / 100.0).alias("advantage"),
    )


_MASK_TURN_TOKENS = 16  # alternating user/assistant turn length


@query(
    "pipeline_loss_mask",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST((n_tokens + {_MASK_TURN_TOKENS} - 1) // {_MASK_TURN_TOKENS}
            AS BIGINT) AS n_turns,
       CAST((n_tokens // {2 * _MASK_TURN_TOKENS}) * {_MASK_TURN_TOKENS}
            + GREATEST(0, n_tokens % {2 * _MASK_TURN_TOKENS}
                          - {_MASK_TURN_TOKENS}) AS BIGINT)
         AS n_train_tokens,
       CAST((n_tokens // {2 * _MASK_TURN_TOKENS}) * {_MASK_TURN_TOKENS}
            + GREATEST(0, n_tokens % {2 * _MASK_TURN_TOKENS}
                          - {_MASK_TURN_TOKENS}) AS DOUBLE)
         / n_tokens AS train_ratio
FROM t WHERE n_tokens > 0
""",
    category="pipelines",
)
def pipeline_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask budget — the token-accounting step of a
    chat-tuning pipeline: documents are framed as alternating
    16-token user/assistant turns (user first) and only ASSISTANT
    tokens contribute to the loss; the trainable-token count per
    document comes from the CLOSED FORM
    (n DIV 32)*16 + max(0, n mod 32 - 16) — each full
    user+assistant block contributes 16 trainable tokens and the
    trailing partial block contributes whatever spills past its
    user half — so there is no explode, no per-token row, no
    Python: one scan-speed map stage computing exact integers (the
    aggregate loss-mask ratio feeds the packing planner,
    pipeline_pack_sequences).  Both engines evaluate the same
    integer formula — bit-exact by construction."""
    d = table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    t = d.select("doc_id", "lang", n.alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    blk = 2 * _MASK_TURN_TOKENS
    train = F.expr(
        f"(n_tokens DIV {blk}) * {_MASK_TURN_TOKENS}"
        f" + GREATEST(0, n_tokens % {blk} - {_MASK_TURN_TOKENS})"
    )
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(
            f"(n_tokens + {_MASK_TURN_TOKENS} - 1) DIV {_MASK_TURN_TOKENS}"
        )
        .cast("long")
        .alias("n_turns"),
        train.cast("long").alias("n_train_tokens"),
        (train.cast("double") / F.col("n_tokens")).alias("train_ratio"),
    )


@query(
    "pipeline_best_of_n",
    oracle="""
WITH r AS (
  SELECT user_id AS prompt_id, event_id AS response_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS reward_c
  FROM events WHERE event_type = 'purchase'
),
k AS (
  SELECT prompt_id, response_id, reward_c,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY reward_c DESC, response_id) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS n
  FROM r
),
top2 AS (
  SELECT prompt_id, n,
         MAX(CASE WHEN rk = 1 THEN response_id END) AS best_id,
         MAX(CASE WHEN rk = 1 THEN reward_c END) AS best_reward_c,
         MAX(CASE WHEN rk = 2 THEN reward_c END) AS runner_up_c
  FROM k WHERE rk <= 2 GROUP BY prompt_id, n
)
SELECT prompt_id, n, best_id, best_reward_c,
       CAST(best_reward_c - runner_up_c AS BIGINT) AS margin_c
FROM top2 WHERE n >= 2
""",
    category="pipelines",
)
def pipeline_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n response selection — the rejection-sampling /
    BoN-distillation data shape (sample n responses per prompt, keep
    the argmax-reward one, record the margin over the runner-up as
    the selection-confidence signal): responses are purchase events
    per user, reward = exact cents, ties broken deterministically by
    response id.  Margins are exact integer cents; prompts with a
    single response are dropped (no margin is defined).  ONE shuffle
    on prompt_id shared by the rank and count windows and the final
    rollup (plan-tested single Exchange); sharing the count window
    with the rank suppresses the WindowGroupLimit rewrite, which is
    the right trade here because group sizes are bounded BY DESIGN
    (n sampled responses per prompt — best-of-n never sees an
    unbounded group), while splitting the count into its own
    aggregation branch would scan the events table twice."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    r = ev.select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("reward_c"),
    )
    w_rank = Window.partitionBy("prompt_id").orderBy(
        F.desc("reward_c"), F.asc("response_id")
    )
    w_all = Window.partitionBy("prompt_id")
    k = r.select(
        "prompt_id",
        "response_id",
        "reward_c",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    ).where(F.col("rk") <= 2)
    top2 = k.groupBy("prompt_id", "n").agg(
        F.max(F.when(F.col("rk") == 1, F.col("response_id"))).alias("best_id"),
        F.max(F.when(F.col("rk") == 1, F.col("reward_c"))).alias(
            "best_reward_c"
        ),
        F.max(F.when(F.col("rk") == 2, F.col("reward_c"))).alias("runner_up_c"),
    )
    return top2.where(F.col("n") >= 2).select(
        "prompt_id",
        "n",
        "best_id",
        "best_reward_c",
        (F.col("best_reward_c") - F.col("runner_up_c"))
        .cast("long")
        .alias("margin_c"),
    )


@query(
    "pipeline_basket_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY a.brand, b.brand
),
bc AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY brand
),
tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items)
SELECT brand_a, brand_b, n_ab, ba.n AS n_a, bb.n AS n_b, tot.n_orders,
       CAST(n_ab AS DOUBLE) / tot.n_orders AS support,
       CAST(n_ab AS DOUBLE) / ba.n AS confidence,
       CAST(n_ab AS DOUBLE) * tot.n_orders / ba.n / bb.n AS lift
FROM pairs
JOIN bc ba ON ba.brand = pairs.brand_a
JOIN bc bb ON bb.brand = pairs.brand_b
CROSS JOIN tot
""",
    category="pipelines",
)
def pipeline_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order contents — the
    support/confidence/lift census recommender and assortment teams
    run (items = part brands per order, the 25-value TPC-H brand
    domain): support = P(a,b), confidence = P(b|a), lift =
    P(a,b)/(P(a)P(b)), all from exact BIGINT co-occurrence counts
    with the double divisions applied once per output row in fixed
    order. Scale shape: the basket self-join is key-partitioned on
    orderkey and each basket is bounded BY DESIGN (an order has <= 7
    lineitems, so <= 21 brand pairs); per-brand counts live on the
    25-value brand domain (broadcast), the grand total is a 1-row
    broadcast — the only data-proportional shuffles are the distinct
    and the orderkey self-join, and the pair-count rollup lands on
    the bounded 300-key brand-pair domain."""
    p = table(spark, sf_dir, "part")
    # r13 (guide §2.4/§3.3, measured): the r12 plan re-executed the
    # items (join + distinct) subtree FOUR times (both self-join
    # sides, per-brand counts, grand total) and shuffled the item
    # table twice more through the ok-keyed self-join.  Fold each
    # order to its sorted brand-set array ONCE (distinct absorbed
    # into collect_set, one orderkey shuffle total), localCheckpoint
    # the bounded basket table (<= 7 brands per order by TPC-H
    # construction), and derive pairs / brand counts / total from
    # it: the <=21-pairs-per-basket expansion happens in-task, and
    # the pair rollup lands on the bounded 300-key brand-pair
    # domain.  2.4 s -> 1.9 s isolated, and the 100 TB story drops
    # the self-join entirely.  Second r13 pass (guide §2.5): the
    # li⋈part broadcast join + partial collect_set run in the SCAN
    # stage — one task on the fixture's single-row-group file —
    # so the fact scan is spread_table'd (layout-guarded no-op at
    # scale).  r14 A/B (shipped unverified in r13): 1.94 s with vs
    # 2.23 s without, isolated 32c medians — kept.
    li = spread_table(spark, sf_dir, "lineitem", "l_orderkey")
    baskets = lifecycle.checkpoint(
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("brand")).alias("brands"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "IF(size(brands) < 2, array(),"
                    " flatten(transform(sequence(1, size(brands) - 1),"
                    " i -> transform(slice(brands, i + 1, size(brands) - i),"
                    " y -> struct(element_at(brands, i) AS brand_a,"
                    " y AS brand_b)))))"
                )
            ).alias("pr")
        )
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    bc = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    ba = bc.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    bb = bc.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    j = (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(tot))
    )
    n_ab = F.col("n_ab").cast("double")
    return j.select(
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_orders",
        (n_ab / F.col("n_orders")).alias("support"),
        (n_ab / F.col("n_a")).alias("confidence"),
        (n_ab * F.col("n_orders") / F.col("n_a") / F.col("n_b")).alias("lift"),
    )


@query(
    "pipeline_dpo_pairs",
    oracle="""
WITH r AS (
  SELECT user_id AS prompt_id, event_id AS response_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS reward_c
  FROM events WHERE event_type = 'purchase'
),
k AS (
  SELECT prompt_id, response_id, reward_c,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY reward_c DESC, response_id) AS rk_best,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY reward_c ASC, response_id) AS rk_worst,
         CAST(COUNT(*) OVER (PARTITION BY prompt_id) AS BIGINT) AS n
  FROM r
),
p AS (
  SELECT prompt_id, n,
         MAX(CASE WHEN rk_best = 1 THEN response_id END) AS chosen_id,
         MAX(CASE WHEN rk_best = 1 THEN reward_c END) AS chosen_c,
         MAX(CASE WHEN rk_worst = 1 THEN response_id END) AS rejected_id,
         MAX(CASE WHEN rk_worst = 1 THEN reward_c END) AS rejected_c
  FROM k WHERE rk_best = 1 OR rk_worst = 1
  GROUP BY prompt_id, n
)
SELECT prompt_id, n, chosen_id, chosen_c, rejected_id, rejected_c,
       CAST(chosen_c - rejected_c AS BIGINT) AS margin_c
FROM p WHERE n >= 2 AND chosen_c > rejected_c
""",
    category="pipelines",
)
def pipeline_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair construction — the post-training data shape
    downstream of pipeline_best_of_n: per prompt (user), pair the
    argmax-reward response (chosen) with the argmin-reward response
    (rejected), both tie-broken deterministically by response id, and
    drop prompts whose extremes tie (margin 0 carries no preference
    signal) or that have a single response. Margins are exact integer
    cents. ONE shuffle on prompt_id shared by the three windows (two
    row_number sorts + the count; same partition key, Catalyst reuses
    the Exchange) and the 2-row-per-prompt rollup — group sizes are
    bounded by the per-prompt sample count, so the window never sees
    an unbounded partition."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    r = ev.select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("reward_c"),
    )
    w_best = Window.partitionBy("prompt_id").orderBy(
        F.desc("reward_c"), F.asc("response_id")
    )
    w_worst = Window.partitionBy("prompt_id").orderBy(
        F.asc("reward_c"), F.asc("response_id")
    )
    w_all = Window.partitionBy("prompt_id")
    k = r.select(
        "prompt_id",
        "response_id",
        "reward_c",
        F.row_number().over(w_best).alias("rk_best"),
        F.row_number().over(w_worst).alias("rk_worst"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    ).where((F.col("rk_best") == 1) | (F.col("rk_worst") == 1))
    p = k.groupBy("prompt_id", "n").agg(
        F.max(F.when(F.col("rk_best") == 1, F.col("response_id"))).alias(
            "chosen_id"
        ),
        F.max(F.when(F.col("rk_best") == 1, F.col("reward_c"))).alias(
            "chosen_c"
        ),
        F.max(F.when(F.col("rk_worst") == 1, F.col("response_id"))).alias(
            "rejected_id"
        ),
        F.max(F.when(F.col("rk_worst") == 1, F.col("reward_c"))).alias(
            "rejected_c"
        ),
    )
    return p.where(
        (F.col("n") >= 2) & (F.col("chosen_c") > F.col("rejected_c"))
    ).select(
        "prompt_id",
        "n",
        "chosen_id",
        "chosen_c",
        "rejected_id",
        "rejected_c",
        (F.col("chosen_c") - F.col("rejected_c")).cast("long").alias("margin_c"),
    )


_EPOCH_SALT = 40503  # Fibonacci-hash low word; per-epoch key offset
_EPOCH_BATCHES = 64


@query(
    "pipeline_epoch_shuffle",
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars, source,
         (doc_id & {_MASK}) * {_MULT} AS h0
  FROM documents
),
e AS (
  SELECT d.doc_id, d.n_chars, d.source, ep.epoch,
         (d.h0 + (ep.epoch + 1) * {_EPOCH_SALT}) % {_MOD // 2} AS skey
  FROM d CROSS JOIN (VALUES (0), (1)) AS ep(epoch)
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(skey % {_EPOCH_BATCHES} AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(skey) AS BIGINT) AS min_key,
       CAST(MAX(skey) AS BIGINT) AS max_key,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM e GROUP BY epoch, skey % {_EPOCH_BATCHES}
""",
    category="pipelines",
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch dataloader shuffle — the epoch-seeded
    reshuffling a training loop runs so each pass visits batches in a
    different order with a reproducible composition: the shuffle key
    is the Knuth multiplicative hash of the doc id offset by an
    epoch-dependent salt (pure function of (doc_id, epoch) — a rerun
    or engine swap reproduces every batch bit for bit), batch = key
    mod 64, and the output is the per-(epoch, batch) composition
    manifest (doc count, char mass, source diversity, key range,
    id checksum) a loader audit compares across epochs. The 31-bit
    pre-mask keeps id*2654435761 inside int64 on both engines (the
    pipeline_train_split overflow lesson). Scale shape: one scan of
    documents fanned out x2 by a literal epoch array (no re-scan), one
    hash-aggregation onto the bounded 2x64 (epoch, batch) domain —
    map-side partials collapse everything before the shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        "source",
        ((F.col("doc_id").bitwiseAND(F.lit(_MASK))) * F.lit(_MULT)).alias("h0"),
    )
    e = d.select(
        "doc_id",
        "n_chars",
        "source",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
        "h0",
    ).select(
        "doc_id",
        "n_chars",
        "source",
        "epoch",
        ((F.col("h0") + (F.col("epoch") + 1) * _EPOCH_SALT) % (_MOD // 2)).alias(
            "skey"
        ),
    )
    return (
        e.groupBy(
            F.col("epoch").cast("long").alias("epoch"),
            (F.col("skey") % _EPOCH_BATCHES).cast("long").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("skey").cast("long").alias("min_key"),
            F.max("skey").cast("long").alias("max_key"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
    )


_SPEC_K = 4  # draft block length
_SPEC_SALT = 1000003


@query(
    "pipeline_speculative_accept",
    oracle=f"""
WITH tk AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
b AS (
  SELECT doc_id, pos, (pos - 1) // {_SPEC_K} AS blk,
         ((doc_id * {_SPEC_SALT} + pos) & {_MASK}) * {_MULT}
           % {_MOD // 2} % 4 <> 0 AS accept
  FROM tk
),
pb AS (
  SELECT doc_id, blk,
         CAST(COUNT(*) AS BIGINT) AS blk_len,
         CAST(COALESCE(MIN(CASE WHEN NOT accept THEN pos END)
                         - (blk * {_SPEC_K} + 1),
                       COUNT(*)) AS BIGINT) AS accepted
  FROM b GROUP BY doc_id, blk
)
SELECT doc_id,
       CAST(SUM(blk_len) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       CAST(SUM(accepted) AS BIGINT) AS n_accepted,
       CAST(SUM(accepted) + COUNT(*) AS DOUBLE) / COUNT(*)
         AS tokens_per_step
FROM pb GROUP BY doc_id
""",
    category="pipelines",
)
def pipeline_speculative_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding acceptance analytics (chunked-verification
    model) — the capacity-planning readout an inference fleet runs
    before enabling a draft model: each document's token stream is
    drafted in blocks of 4, a deterministic per-token accept bit
    (pure Knuth-hash function of (doc_id, position) — 75% rate)
    stands in for the target-model agreement, and a verify step
    finalizes the accepted PREFIX of its block plus one corrected
    token, so tokens/step = (sum of accepted prefixes + #steps) /
    #steps — the expected-speedup estimator from the speculative
    decoding literature (Leviathan et al.), computed exactly: the
    prefix length is MIN(first-rejected-position) - block-start, an
    integer, never a scan of the block. Scale shape: one posexplode,
    one (doc, block)-key aggregation, one doc-key rollup — all
    key-partitioned, no window, no Python."""
    d = table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"))
    accept = (
        (
            (F.col("doc_id") * _SPEC_SALT + F.col("pos")).bitwiseAND(_MASK)
            * _MULT
        )
        % (_MOD // 2)
        % 4
        != 0
    )
    b = tk.select(
        "doc_id",
        "pos",
        ((F.col("pos") - 1) / _SPEC_K).cast("long").alias("blk"),
        accept.alias("accept"),
    )
    pb = b.groupBy("doc_id", "blk").agg(
        F.count(F.lit(1)).cast("long").alias("blk_len"),
        F.coalesce(
            F.min(F.when(~F.col("accept"), F.col("pos")))
            - (F.col("blk") * _SPEC_K + 1),
            F.count(F.lit(1)),
        )
        .cast("long")
        .alias("accepted"),
    )
    return pb.groupBy("doc_id").agg(
        F.sum("blk_len").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum("accepted").cast("long").alias("n_accepted"),
        (
            (F.sum("accepted") + F.count(F.lit(1))).cast("double")
            / F.count(F.lit(1))
        ).alias("tokens_per_step"),
    )


# ------------------------------------------------------------------ #
# r10 wave 9: storage-layout quality report (Hilbert vs row-major)
# ------------------------------------------------------------------ #

_LAYOUT_FILES = 16


def _layout_hilbert_cte() -> str:
    """The fn_hilbert_curve forward walk, reused as the layout key
    (order-8, reflection by the full grid 255)."""
    ctes = [
        "h0 AS (SELECT c_custkey, c_custkey % 256 AS x0,"
        " (c_custkey * 7) % 256 AS y0, c_custkey % 256 AS x,"
        " (c_custkey * 7) % 256 AS y, 0 AS d FROM customer)"
    ]
    lvl = 0
    for s in (128, 64, 32, 16, 8, 4, 2, 1):
        prev, lvl = f"h{lvl}", lvl + 1
        ctes.append(f"""h{lvl} AS (
  SELECT c_custkey, x0, y0,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - y
                                     ELSE y END) ELSE x END AS x,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 255 - x
                                     ELSE x END) ELSE y END AS y,
         d + {s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0
                             WHEN rx = 0 AND ry = 1 THEN 1
                             WHEN rx = 1 AND ry = 1 THEN 2
                             ELSE 3 END) AS d
  FROM (SELECT c_custkey, x0, y0, x, y, d,
               CASE WHEN x % {2 * s} >= {s} THEN 1 ELSE 0 END AS rx,
               CASE WHEN y % {2 * s} >= {s} THEN 1 ELSE 0 END AS ry
        FROM {prev}) t{lvl})""")
    return ", ".join(ctes), lvl


def _layout_sql(intdiv: str) -> str:
    h_ctes, lvl = _layout_hilbert_cte()
    per_file = 65536 // _LAYOUT_FILES
    return f"""
WITH {h_ctes},
keys AS (
  SELECT c_custkey, x0 AS x, y0 AS y,
         d {intdiv} {per_file} AS hilbert_file,
         (x0 * 256 + y0) {intdiv} {per_file} AS rowmajor_file
  FROM h{lvl}
),
layouts AS (
  SELECT 'hilbert' AS layout, hilbert_file AS file_id, x, y FROM keys
  UNION ALL
  SELECT 'rowmajor' AS layout, rowmajor_file AS file_id, x, y FROM keys
)
SELECT layout, CAST(file_id AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
       CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
         AS bbox_area
FROM layouts
GROUP BY layout, file_id
"""


@query(
    "pipeline_layout_cluster",
    oracle=_layout_sql("//"),
    category="pipelines",
)
def pipeline_layout_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout QUALITY report — the study a lakehouse team
    runs before choosing a clustering key: the same points (the
    fn_hilbert_curve grid) are assigned to {_LAYOUT_FILES} files two
    ways — by Hilbert-index range (the curve-clustered layout Delta
    liquid clustering / Iceberg z-ordering approximate) and by
    row-major (x*256+y) range (the naive sorted layout) — and each
    file's min/max bounding box is emitted.  The per-file bbox IS
    the file-skipping statistic: a 2-D range predicate prunes a file
    iff its box misses the query box, so total box area ~ expected
    scan amplification.  Hilbert's boxes are near-square and small;
    row-major's are 256-wide stripes — the report makes the
    difference a number (the test asserts hilbert's total area is
    strictly smaller).  Everything exact integers; one shared SQL
    text, two layouts in one grouped pass."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_layout_sql("DIV"))


# ------------------------------------------------------------------ #
# r10 wave 10: sampling-parameter census + domain importance weights
# ------------------------------------------------------------------ #

_SAMP_CTXS = 20
_SAMP_TOKS = 50
_SAMP_TOPK = 10
_SAMP_TOPP_PCT = 90  # nucleus mass threshold


@query(
    "pipeline_sampling_census",
    oracle=f"""
WITH grid AS (
  SELECT c.ctx_id, t.tok,
         CAST(1 + ((c.ctx_id * 13 + t.tok * 7) % 97)
              * ((c.ctx_id * 13 + t.tok * 7) % 97) AS BIGINT) AS w
  FROM (SELECT UNNEST(generate_series(0, {_SAMP_CTXS - 1})) AS ctx_id) c
  CROSS JOIN (SELECT UNNEST(generate_series(1, {_SAMP_TOKS})) AS tok) t
),
ranked AS (
  SELECT ctx_id, tok, w,
         CAST(row_number() OVER (PARTITION BY ctx_id
                                 ORDER BY w DESC, tok) AS BIGINT) AS rnk,
         CAST(SUM(w) OVER (PARTITION BY ctx_id
                           ORDER BY w DESC, tok
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(SUM(w) OVER (PARTITION BY ctx_id) AS BIGINT) AS total
  FROM grid
)
SELECT ctx_id,
       CAST(MAX(total) AS BIGINT) AS total_w,
       CAST(MAX(CASE WHEN rnk = {_SAMP_TOPK} THEN cum END) AS BIGINT)
         AS topk_mass,
       CAST(MAX(CASE WHEN rnk = {_SAMP_TOPK} THEN cum END) AS DOUBLE)
         / MAX(total) AS topk_share,
       CAST(MIN(CASE WHEN 100 * cum >= {_SAMP_TOPP_PCT} * total
                THEN rnk END) AS BIGINT) AS nucleus_size,
       CAST(MAX(CASE WHEN rnk = 1 THEN w END) AS DOUBLE) / MAX(total)
         AS top1_share
FROM ranked GROUP BY ctx_id
""",
    category="pipelines",
)
def pipeline_sampling_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-parameter census — the study run before fixing
    top-k / top-p (nucleus) decoding parameters: over deterministic
    per-context next-token weight distributions, report the mass the
    top-{_SAMP_TOPK} cut keeps, the NUCLEUS SIZE (smallest prefix
    holding >= {_SAMP_TOPP_PCT}% of the mass — Holtzman et al.'s
    top-p set, computed as the integer predicate 100*cum >=
    {_SAMP_TOPP_PCT}*total, no float thresholding), and the top-1
    share (the greedy-collapse diagnostic).  Weights are exact
    integers, the per-context sort is a bounded window with a
    deterministic tie-break, and each share is one division.  On a
    real logit table the same plan applies with quantized
    probabilities; the census is what reveals distributions where
    top-k truncates too hard (flat) or nucleus degenerates to
    greedy (peaked)."""
    grid = (
        spark.range(_SAMP_CTXS)
        .select(F.col("id").alias("ctx_id"))
        .crossJoin(
            spark.range(1, _SAMP_TOKS + 1).select(F.col("id").alias("tok"))
        )
        .select(
            "ctx_id",
            "tok",
            (
                1
                + ((F.col("ctx_id") * 13 + F.col("tok") * 7) % 97)
                * ((F.col("ctx_id") * 13 + F.col("tok") * 7) % 97)
            )
            .cast("long")
            .alias("w"),
        )
    )
    ww = Window.partitionBy("ctx_id").orderBy(F.desc("w"), F.asc("tok"))
    cum_w = ww.rowsBetween(Window.unboundedPreceding, 0)
    ranked = grid.select(
        "ctx_id",
        "tok",
        "w",
        F.row_number().over(ww).cast("long").alias("rnk"),
        F.sum("w").over(cum_w).cast("long").alias("cum"),
        F.sum("w").over(Window.partitionBy("ctx_id")).cast("long").alias(
            "total"
        ),
    )
    return ranked.groupBy("ctx_id").agg(
        F.max("total").cast("long").alias("total_w"),
        F.max(F.when(F.col("rnk") == _SAMP_TOPK, F.col("cum")))
        .cast("long")
        .alias("topk_mass"),
        (
            F.max(
                F.when(F.col("rnk") == _SAMP_TOPK, F.col("cum"))
            ).cast("double")
            / F.max("total")
        ).alias("topk_share"),
        F.min(
            F.when(
                100 * F.col("cum") >= _SAMP_TOPP_PCT * F.col("total"),
                F.col("rnk"),
            )
        )
        .cast("long")
        .alias("nucleus_size"),
        (
            F.max(F.when(F.col("rnk") == 1, F.col("w"))).cast("double")
            / F.max("total")
        ).alias("top1_share"),
    )


# target mix in permille, matching the fixture's five languages
_MIX_TARGET = (("de", 150), ("en", 400), ("es", 150), ("fr", 100),
               ("zh", 200))
_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{l}' THEN {p}" for l, p in _MIX_TARGET
) + " ELSE 0 END"


@query(
    "pipeline_importance_weights",
    oracle=f"""
WITH src AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM src)
SELECT s.lang, s.n_docs,
       CAST({_MIX_CASE.replace('lang', 's.lang')} AS BIGINT)
         AS target_permille,
       CAST(s.n_docs * 1000 // tot.total AS BIGINT) AS source_permille,
       CAST((({_MIX_CASE.replace('lang', 's.lang')}) * tot.total * 1000)
            // (1000 * s.n_docs) AS BIGINT) AS weight_ppk,
       CAST((({_MIX_CASE.replace('lang', 's.lang')}) * tot.total * 1000)
            // (1000 * s.n_docs) * s.n_docs // 1000 AS BIGINT)
         AS expected_docs
FROM src s CROSS JOIN tot
""",
    category="pipelines",
)
def pipeline_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain importance weights (DoReMi-style target mix,
    pipeline_domain_resample's upstream) for the five fixture
    languages at the _MIX_TARGET permille mix.  Thin adapter over
    api.importance_weights."""
    d = table(spark, sf_dir, "documents")
    return importance_weights(d, "lang", dict(_MIX_TARGET))
