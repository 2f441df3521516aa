"""Composite analytics pipelines (SURVEY.md §2.12 additions): the
multi-operator queries a user of the engine actually runs — an LLM
pretraining-corpus builder, an event funnel, JSON-prop analytics, and
a salted-aggregation skew demo. Each composes operators that are
individually oracle-checked elsewhere; these prove the compositions
hold end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from .. import lifecycle
from ..io import spread_table, table
from ..registry import query


@query(
    "pipeline_pretrain_corpus",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, n_chars, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_unique,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS ck
  FROM documents
),
quality AS (
  SELECT *, CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio
  FROM scored
  WHERE n_tokens >= 20 AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.15
),
deduped AS (
  SELECT * FROM quality
  QUALIFY row_number() OVER (PARTITION BY ck ORDER BY doc_id) = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc
FROM deduped
GROUP BY lang
""",
    category="pipelines",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus builder: quality gate (length +
    lexical diversity) -> canonical token-set dedup (keep lowest
    doc_id) -> per-language token budget. The shape every LLM data
    pipeline runs nightly; each stage is one shuffle (quality is
    map-side, dedup shuffles on the canonical key, budget on lang)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias("ck"),
    )
    quality = scored.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") >= 0.15)
    )
    w = Window.partitionBy("ck").orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "pipeline_event_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(ts) FILTER (WHERE event_type = 'signup') AS first_signup,
         MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(first_signup) AS n_signed_up,
       COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted,
       CAST(COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS DOUBLE)
         / COUNT(first_signup) AS conversion_rate
FROM firsts
""",
    category="pipelines",
)
def pipeline_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> purchase funnel: first event of each type per user
    (conditional MIN — one shuffle on user_id), conversion = first
    purchase strictly after first signup."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = F.when(
        F.col("first_purchase") > F.col("first_signup"), F.lit(1)
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.count(converted).alias("n_converted"),
        (F.count(converted).cast("double") / F.count("first_signup")).alias(
            "conversion_rate"
        ),
    )


@query(
    "pipeline_point_in_time_features",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT) AS n_prior_events,
       CAST(COALESCE(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w, 0)
            AS DOUBLE) / 1e6 AS prior_value_sum,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS BIGINT)
         AS n_prior_clicks
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
QUALIFY event_type = 'purchase'
""",
    category="pipelines",
)
def pipeline_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature generation — the leakage-safe join every
    feature store exists to get right: for each label event (a
    purchase), features are computed from the user's history STRICTLY
    BEFORE the label timestamp (ROWS ... 1 PRECEDING), never from the
    label row itself or anything after it. Using rows at-or-after the
    label is train-time leakage, the classic silent ML bug.

    Exactness: the prior-value sum runs over 1e-6-quantized int64
    (the dot_dec convention) so the accumulation is order-free and
    the final /1e6 double division is a single rounding in both
    engines. One shuffle on user_id; labels filter AFTER the window
    so history rows count without surviving."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    qval = F.round(F.col("value") * 1_000_000).cast("long")
    feats = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("n_prior_events"),
        (F.coalesce(F.sum(qval).over(w), F.lit(0)).cast("double") / 1.0e6).alias(
            "prior_value_sum"
        ),
        F.count(F.when(F.col("event_type") == "click", F.lit(1)))
        .over(w)
        .alias("n_prior_clicks"),
    )
    return feats.where(F.col("event_type") == "purchase").drop("event_type")


# Knuth multiplicative hash on the doc id: engine-portable pure
# integer arithmetic (no xxhash in DuckDB), well-mixed low bits.
_SPLIT_MOD = 1 << 32
_SPLIT_MULT = 2654435761
_SPLIT_MASK = (1 << 31) - 1  # pre-mask: id*mult stays under 2^63


@query(
    "pipeline_train_split",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         ((doc_id & {_SPLIT_MASK}) * {_SPLIT_MULT}) % {_SPLIT_MOD} AS bucket
  FROM documents
),
assigned AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN bucket < {int(0.8 * _SPLIT_MOD)} THEN 'train'
              WHEN bucket < {int(0.9 * _SPLIT_MOD)} THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc
FROM assigned
GROUP BY split, lang
""",
    category="pipelines",
)
def pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) — the
    reproducibility contract of a dataset release: membership is a
    pure function of the stable doc id (Knuth multiplicative hash in
    plain 64-bit arithmetic — portable to any engine, unlike
    xxhash/rand), so re-running the pipeline, adding columns, or
    re-partitioning can never migrate a document across splits (the
    subtle eval-contamination bug that random splits with seeds
    still have under reordering). Pure map + one aggregation; the
    split profile (counts, char mass per lang) is what a release
    manifest records."""
    d = table(spark, sf_dir, "documents")
    split = api.split_column(F.col("doc_id"), train=0.8, val=0.1)
    return (
        d.select("doc_id", "lang", "n_chars", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "pipeline_json_analytics",
    oracle="""
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, k_decile
""",
    category="pipelines",
)
def pipeline_json_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics: extract the JSON prop, bucket it,
    aggregate — the extract stays JVM-side (get_json_object) and the
    decile uses integer division (// in DuckDB, DIV in Spark)."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.expr(
                "CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10"
            ).alias("k_decile"),
            "value",
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
    )


_SALT_BUCKETS = 16


@query(
    "agg_salted_skew",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
    category="pipelines",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a LOW-cardinality hot key
    (event_type: 5 values — at 100 TB each key would overwhelm one
    reducer). Stage 1 groups on (key, salt) spreading each hot key
    over 16 reducers; stage 2 merges the partials. Result is
    identical to the naive groupBy (the oracle) — decimal partials
    re-sum exactly. With AQE skew handling on, this is the manual
    fallback for skew AQE can't see (e.g. pre-aggregated state)."""
    e = table(spark, sf_dir, "events")
    salted = e.withColumn(
        "salt", (F.col("event_id") % _SALT_BUCKETS).cast("int")
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("sum_value"),
    )


@query(
    "join_salted_skew",
    oracle="""
SELECT e.event_type, d.type_group, COUNT(*) AS n
FROM events e
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'growth'),
             ('error', 'ops')) AS d(event_type, type_group)
  ON e.event_type = d.event_type
GROUP BY e.event_type, d.type_group
""",
    category="pipelines",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a pathologically hot key (event_type: 5
    values — a plain shuffle join sends ~20% of 100 TB to each of 5
    reducers). Fact side gets a random-free deterministic salt
    (event_id % 16); the dim side is EXPLODED 16x so every
    (key, salt) pair still matches. Result identical to the plain
    join (the oracle). For a dim this small broadcast is the real
    answer — the salting pattern is what scales when BOTH sides are
    too big to broadcast and one key dominates."""
    groups = [
        ("click", "engagement"),
        ("view", "engagement"),
        ("purchase", "revenue"),
        ("signup", "growth"),
        ("error", "ops"),
    ]
    e = table(spark, sf_dir, "events")
    dim = spark.createDataFrame(groups, "event_type string, type_group string")
    salts = 16
    dim_exploded = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    salted = e.withColumn("salt", (F.col("event_id") % salts).cast("int"))
    return (
        salted.join(dim_exploded, ["event_type", "salt"])
        .groupBy("event_type", "type_group")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cache_reuse",
    oracle="""
WITH base AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT 'top_by_count' AS cohort, o_custkey, n_orders, spend
FROM base QUALIFY row_number() OVER (ORDER BY n_orders DESC, o_custkey) <= 10
UNION ALL
SELECT 'top_by_spend' AS cohort, o_custkey, n_orders, spend
FROM base QUALIFY row_number() OVER (ORDER BY spend DESC, o_custkey) <= 10
""",
    category="pipelines",
)
def cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-subplan reuse: one per-customer aggregate feeds two
    top-10 rankings. The aggregate is persist()-ed so the expensive
    scan+shuffle runs once, not once per branch — at 100 TB the
    difference between reading the fact table once vs twice. (The
    cache is released before returning; correctness never depends
    on it.)"""
    o = table(spark, sf_dir, "orders")
    base = lifecycle.persist(
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend"),
        )
    )
    try:
        top_count = (
            base.orderBy(F.desc("n_orders"), "o_custkey")
            .limit(10)
            .select(F.lit("top_by_count").alias("cohort"), "*")
        )
        top_spend = (
            base.orderBy(F.desc("spend"), "o_custkey")
            .limit(10)
            .select(F.lit("top_by_spend").alias("cohort"), "*")
        )
        out = top_count.unionByName(top_spend)
        out = lifecycle.checkpoint(out)  # materialize before unpersist
    finally:
        lifecycle.free(base)
    return out


_PACK_BUDGET = 64  # tokens per packed training sequence


@query(
    "pipeline_pack_sequences",
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
)
SELECT lang, source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM placed
GROUP BY lang, source, pack_id
""",
    category="pipelines",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the stage between chunking and batching in
    every pretraining data pipeline: concatenate consecutive 32-token
    chunks into fixed 64-token training sequences, tracking how many
    chunks/docs each packed sequence draws from.

    Deterministic contiguous packing: within each (lang, source)
    shard, chunks are laid out in (doc_id, chunk_id) order and a
    sequence boundary falls every 64 cumulative tokens (pack_id =
    tokens-before // 64). One window scan + one aggregation.

    Scale: the running sum partitions by SHARD, not globally — a
    global pack order would serialize into one partition. Shards are
    how real pipelines pack anyway (per input file / per language);
    at 100 TB shard granularity is the parquet partition, giving
    thousands of independent windows with no cross-shard shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n_chunks = F.expr("(size(toks) + 31) div 32")
    # n_chunks == 0 guard: sequence(0, -1) would auto-descend to
    # [0, -1] where the oracle's generate_series is empty; NULL from
    # the un-otherwise'd when() posexplodes to zero rows instead.
    chunk_sizes = F.transform(
        F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)),
        lambda i: F.size(F.slice(toks, i * 32 + 1, 32)),
    )
    chunks = d.select(
        "doc_id", "lang", "source", F.posexplode(chunk_sizes).alias("chunk_id", "n_tokens")
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = chunks.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BUDGET),
    )
    return placed.groupBy("lang", "source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# The rational sign-bit hyperplanes are shared with the query-time
# probe (operators/similarity.py: sem_bucket / sim_index_probe) —
# write path and read path must hash identically.
from ..operators.similarity import _SQL_BUCKET as _SEM_BUCKET_SQL
from ..operators.similarity import sem_bucket
from ..api_rank import ntile_distributed


@query(
    "pipeline_semantic_index",
    oracle=f"""
WITH ev AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
sig AS (
  SELECT vec_id, {_SEM_BUCKET_SQL} AS bucket
  FROM ev GROUP BY vec_id
)
SELECT s.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
       MIN(d.doc_id) AS first_doc
FROM sig s JOIN documents d ON d.doc_id = s.vec_id
GROUP BY s.bucket
""",
    category="pipelines",
)
def pipeline_semantic_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-index build — the write path of a RAG / retrieval
    system: every embedding is signed against 4 fixed hyperplanes
    (sign-bit random-projection LSH, the same family
    BucketedRandomProjectionLSH uses) giving a 16-bucket index, then
    each bucket is profiled against the joined document corpus
    (doc counts, char/token mass, first doc). Query-time ANN probes
    only the query's bucket — this pipeline is the indexing half.

    Exactness: hyperplanes are rational ((37i+17k) % 101 - 50)/100 —
    no RNG, no libm — and the sign bit comes from the same
    quantized-int64 dot product as the similarity tier, so the
    whole index is bit-identical across engines and oracle-checked.

    Scale: signature build is array algebra in one map stage (the
    per-plane fold is O(dim), zero Python); one shuffle joins
    documents on the id; one aggregation profiles buckets. On 100 TB
    both sides would be bucketed on the id, making the join
    zero-exchange like join_bucketed. Query-time reads of this index
    are sim_index_probe (operators/similarity.py), which hashes
    queries with the same planes."""
    e = table(spark, sf_dir, "embeddings")
    sig = e.select("vec_id", sem_bucket(F.col("embedding")).alias("bucket"))
    d = table(spark, sf_dir, "documents")
    return (
        sig.join(d, d.doc_id == sig.vec_id)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "pipeline_rag_retrieval",
    oracle=f"""
WITH ev AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
sig AS (
  SELECT vec_id, {_SEM_BUCKET_SQL} AS bucket
  FROM ev GROUP BY vec_id
),
cand AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
  FROM sig q JOIN sig d
    ON q.vec_id < 5 AND d.vec_id <> q.vec_id
   AND bit_count(xor(q.bucket, d.bucket)) <= 2
),
scores AS (
  SELECT c.query_id, c.neighbor_id,
         (CAST(SUM(CAST(round(CAST(a.v AS DOUBLE) * 1000000) AS BIGINT) *
                   CAST(round(CAST(b.v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
          / 1e12) AS cosine
  FROM cand c
  JOIN ev a ON a.vec_id = c.query_id
  JOIN ev b ON b.vec_id = c.neighbor_id AND b.i = a.i
  GROUP BY c.query_id, c.neighbor_id
),
top3 AS (
  SELECT query_id, neighbor_id, cosine FROM scores
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) <= 3
)
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       MAX(t.cosine) AS best_cosine,
       string_agg(d.text, chr(10) || chr(10)
                  ORDER BY t.cosine DESC, t.neighbor_id) AS context
FROM top3 t JOIN documents d ON d.doc_id = t.neighbor_id
GROUP BY t.query_id
""",
    category="pipelines",
)
def pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval — the complete read path a retrieval
    system runs per query batch: probe the hyperplane index
    (sim_index_probe: same rational planes as the
    pipeline_semantic_index write path), take the top-3 verified
    neighbors per query, join the document corpus, and assemble the
    retrieval context (documents concatenated best-cosine-first,
    double-newline separated) with its provenance stats. Every stage
    is exact, so the whole composite is oracle-checked — including
    the assembled context string.

    Scale: probe is broadcast-query + no corpus shuffle (plan test
    on sim_index_probe); the doc join broadcasts the tiny top-k
    result against the corpus scan; the final groupBy moves
    queries x k rows. Nothing here scales with corpus size except
    the one corpus scan."""
    from ..operators.similarity import sim_index_probe

    probe = sim_index_probe(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    joined = d.join(F.broadcast(probe), d.doc_id == probe.neighbor_id)
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("cosine").alias("best_cosine"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cosine")).alias("neg_cos"),
                            F.col("neighbor_id").alias("nid"),
                            F.col("text").alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            "\n\n",
        ).alias("context"),
    )


@query(
    "pipeline_quality_report",
    oracle="""
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys,
       CAST(count_if(o_totalprice IS NULL) AS BIGINT) AS n_null_measure,
       MIN(o_orderdate) IS NOT NULL AS has_time_axis
FROM orders
UNION ALL
SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey),
       CAST(count_if(l_extendedprice IS NULL) AS BIGINT), MIN(l_shipdate) IS NOT NULL
FROM lineitem
UNION ALL
SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey),
       CAST(count_if(c_acctbal IS NULL) AS BIGINT), FALSE
FROM customer
UNION ALL
SELECT 'events', COUNT(*), COUNT(DISTINCT user_id),
       CAST(count_if(value IS NULL) AS BIGINT), MIN(ts) IS NOT NULL
FROM events
UNION ALL
SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id),
       CAST(count_if(n_chars IS NULL) AS BIGINT), FALSE
FROM documents
""",
    category="pipelines",
)
def pipeline_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality report — the nightly profiling job a
    warehouse runs over every table it ingests: row counts, key
    cardinalities, null counts in the primary measure, presence of a
    time axis. One partial+final aggregation per table (each a
    single scan), unioned into a 5-row report; tables profile in
    parallel since the union's children are independent stages."""
    def profile(tbl, key, measure, time_col):
        t = table(spark, sf_dir, tbl)
        return t.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
            F.count_if(F.col(measure).isNull()).alias("n_null_measure"),
            (
                F.min(time_col).isNotNull()
                if time_col
                else F.lit(False)
            ).alias("has_time_axis"),
        ).select("tbl", "n_rows", "n_keys", "n_null_measure", "has_time_axis")

    parts = [
        profile("orders", "o_custkey", "o_totalprice", "o_orderdate"),
        profile("lineitem", "l_orderkey", "l_extendedprice", "l_shipdate"),
        profile("customer", "c_custkey", "c_acctbal", None),
        profile("events", "user_id", "value", "ts"),
        profile("documents", "doc_id", "n_chars", None),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "pipeline_cdc_upsert",
    oracle="""
WITH cdc AS (
  SELECT o_orderkey AS key,
         o_orderkey % 1000 AS seq,
         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
              WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
         o_totalprice AS payload
  FROM orders
  UNION ALL
  SELECT o_orderkey, 1000 + o_orderkey % 7,
         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END,
         o_totalprice * 2
  FROM orders WHERE o_orderkey % 5 = 0
),
latest AS (
  SELECT * FROM cdc
  QUALIFY row_number() OVER (PARTITION BY key ORDER BY seq DESC, op) = 1
)
SELECT key, op AS last_op, payload
FROM latest WHERE op <> 'D'
""",
    category="pipelines",
)
def pipeline_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert compaction — the warehouse ingestion kernel:
    a change stream of Insert/Update/Delete ops (two deterministic
    generations derived from orders; the second generation updates
    or deletes every 5th key) collapses to current state by taking
    each key's LATEST op (window rank on sequence number) and
    dropping keys whose last op is a delete. This is exactly what
    MERGE INTO / Delta-style upsert does under the hood; expressed
    as pure DataFrame algebra it runs anywhere.

    Scale: one shuffle on key for the rank (at 100 TB: compact
    per-partition first — the same window runs inside each file
    group), then a map-side filter; payload never shuffles twice."""
    o = table(spark, sf_dir, "orders")
    gen1 = o.select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_orderkey") % 1000).alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D")
        .when(F.col("o_orderkey") % 3 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.col("o_totalprice").alias("payload"),
    )
    gen2 = (
        o.where(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("key"),
            (F.lit(1000) + F.col("o_orderkey") % 7).alias("seq"),
            F.when(F.col("o_orderkey") % 7 == 0, "D").otherwise("U").alias("op"),
            (F.col("o_totalprice") * 2).alias("payload"),
        )
    )
    cdc = gen1.unionByName(gen2)
    w = Window.partitionBy("key").orderBy(F.desc("seq"), "op")
    latest = cdc.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return latest.where(F.col("op") != "D").select(
        "key", F.col("op").alias("last_op"), "payload"
    )


@query(
    "pipeline_attribution",
    oracle="""
WITH attr AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT COALESCE(touch, 'direct') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_revenue
FROM attr
WHERE event_type = 'purchase'
GROUP BY 1
""",
    category="pipelines",
)
def pipeline_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution — each purchase is credited
    to the user's most recent preceding touch event (click or view);
    purchases with no prior touch are 'direct'. Revenue per touch
    type is the exact-decimal sum.

    The idiomatic plan is ONE window pass, not an as-of self-join:
    last(IGNORE NULLS) over a running frame carries the latest touch
    to every row, then a filter keeps conversions — same shuffle
    count as join_asof's kernel but with no join build side at all.
    Shuffles: events once on user_id, then the bounded-cardinality
    touch-type rollup."""
    ev = table(spark, sf_dir, "events")
    touch_ev = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = ev.select(
        "event_type",
        "value",
        F.last(touch_ev, ignorenulls=True).over(w).alias("touch"),
    )
    return (
        attr.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("direct")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("attributed_revenue"),
        )
    )


@query(
    "pipeline_journey_regex",
    oracle="""
WITH coded AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                         WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
                         ELSE 'E' END AS ch
  FROM events
),
j AS (
  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS journey
  FROM coded GROUP BY user_id
)
SELECT user_id, journey,
       regexp_matches(journey, 'V.*C.*P') AS has_funnel,
       CAST(length(journey) AS BIGINT) AS n_events
FROM j
""",
    category="pipelines",
)
def pipeline_journey_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching, MATCH_RECOGNIZE-lite: each
    user's full event history is collapsed into an ordered
    single-char journey string (V/C/P/S/E), then a regular
    expression classifies the journey — here 'view, eventually
    click, eventually purchase' as V.*C.*P. Encoding the sequence as
    a string turns arbitrary order-sensitive pattern queries into
    regexp matching, which no join/window composition expresses
    directly.

    One shuffle (groupBy user_id) with ordered LISTAGG building the
    journey; the regexp is a pure map afterwards. Journey length =
    events-per-user, bounded in any realistic event-log partitioning;
    at 100 TB the same shape runs per (user_id, day) to cap string
    size."""
    ev = table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "signup", "S")
        .otherwise("E")
    )
    coded = ev.select("user_id", "ts", "event_id", ch.alias("ch"))
    j = coded.groupBy("user_id").agg(
        F.expr("listagg(ch, '') WITHIN GROUP (ORDER BY ts, event_id)").alias(
            "journey"
        )
    )
    return j.select(
        "user_id",
        "journey",
        F.col("journey").rlike("V.*C.*P").alias("has_funnel"),
        F.length("journey").cast("long").alias("n_events"),
    )


@query(
    "pipeline_incremental_mv",
    oracle="""
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    category="pipelines",
)
def pipeline_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(type, day)
    rollup is built as TWO independent partial aggregates over
    disjoint batch slices (the mid-January cut plays an earlier load
    and a late-arriving delta), then MERGED by re-aggregating the
    partial states — count merges by SUM, exact-decimal sum merges
    by SUM. The oracle recomputes the view in one pass over
    everything: merge(partials) must equal full recompute, which is
    the algebraic property (commutative-monoid state) every
    incremental pipeline and every streaming sink relies on. Decimal
    partials make the merge order-independent, so the equality is
    bit-exact rather than approximately true.

    Scale: each batch aggregates map-side before its shuffle; the
    merge re-shuffles only the tiny partial-state table — this is
    exactly the update path of a 100 TB daily-refresh MV, where
    yesterday's state is the first 'batch'."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("psum"),
        )

    p1 = partial(ev.where(F.col("ts") < cut))
    p2 = partial(ev.where(F.col("ts") >= cut))
    return (
        p1.unionAll(p2)
        .groupBy("event_type", "day")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("psum").cast("double").alias("total_value"),
        )
    )


@query(
    "pipeline_inverted_index",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
)
SELECT token,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings,
       CAST(COUNT(*) AS BIGINT) AS df
FROM toks
GROUP BY token
""",
    category="pipelines",
)
def pipeline_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the search-engine write path: for every
    token, the sorted posting list of documents containing it plus
    the document frequency. Postings are emitted as the ordered
    LISTAGG string so the artifact is byte-comparable cross-engine
    (the parquet-native form would keep the array<long>).

    Shape: explode -> per-doc distinct (map-side combinable) -> one
    shuffle on token with ordered aggregation. Posting-list skew
    (stopwords) is the classic hot-key: at 100 TB the df-cap /
    salted two-level merge used by dedup_ngram_jaccard applies
    unchanged; here the full lists are the deliverable so the
    aggregation stays single-level."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .distinct()
    )
    return toks.groupBy("token").agg(
        F.expr(
            "listagg(cast(doc_id as string), ',') WITHIN GROUP (ORDER BY doc_id)"
        ).alias("postings"),
        F.count(F.lit(1)).alias("df"),
    )


@query("pipeline_bpe_train", oracle=None, category="pipelines")
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training — learn the first 10 merge
    rules from the corpus, the way subword vocabularies are actually
    built over a 100 TB corpus: the CORPUS-scale stage is a single
    explode+groupBy that compresses everything into the word-
    frequency table; merge learning then iterates on that compressed
    table (orders of magnitude smaller, but still a DataFrame — at
    web scale it has millions of rows). Per round: adjacent symbol
    pairs exploded weighted by word frequency, one groupBy(pair)
    shuffle, the argmax pair (deterministic tie-break: higher freq,
    then lexicographic) collected as ONE driver row, and the merge
    applied with a lookaround regexp so non-overlapping occurrences
    merge left-to-right (exact BPE greedy semantics).

    Rows-only (iterative, not SQL-expressible); tests/test_quality.py
    re-trains with a pure-Python list-greedy BPE on the same word
    counts and asserts the identical merge-rule sequence."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return api.bpe_train(spark, words, n_merges=10)


# Fixed merge-rule list for pipeline_bpe_apply — a deterministic
# tokenizer config (rank order matters: 'th'+'e' and 'in'+'g' chain
# on earlier merges; 'l'+'l' / 's'+'s' stress greedy left-to-right
# merging of repeated characters). The train->apply round trip with
# LIVE-learned rules is asserted in tests/test_quality.py.
_BPE_RULES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("l", "l"), ("s", "s"), ("in", "g"),
]


def _bpe_apply_oracle() -> str:
    # exact mirror of api.bpe_apply: wrap every char in its own pair
    # of spaces, then one plain replace per rule in rank order
    expr = r"regexp_replace(text, '(.)', ' \1 ', 'g')"
    for left, right in _BPE_RULES:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left}{right} ')"
    return f"""
WITH m AS (
  SELECT doc_id, {expr} AS s FROM documents
),
t AS (
  SELECT doc_id,
         list_filter(
           list_transform(string_split(replace(s, '  ', chr(9)), chr(9)),
                          x -> trim(x)),
           x -> x <> '') AS arr
  FROM m
)
SELECT doc_id, array_to_string(arr, ' ') AS toks,
       CAST(len(arr) AS BIGINT) AS n_subwords
FROM t
"""


@query("pipeline_bpe_apply", oracle=_bpe_apply_oracle(), category="pipelines")
def pipeline_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer APPLY — the counterpart of
    pipeline_bpe_train: a fixed learned merge-rule list applied to
    every document as a pure map stage (api.bpe_apply). The whole
    rule chain compiles to nested JVM string replaces inside one
    whole-stage-codegen Project — zero shuffles, zero Python; at
    100 TB it scales linearly with input splits, which is exactly
    how production tokenization of a pretraining corpus runs.

    Exact-greedy semantics (same encoding argument as api.bpe_apply's
    docstring) are oracle-checked: DuckDB applies the identical rule
    list via the identical plain-replace chain.

    r13 (guide §2.5): the single-row-group fixture file plans ONE
    scan task, so the whole replace chain ran sequentially;
    spread_table parallelizes the map stage (no-op on a splittable
    production layout).  0.66 -> 0.27 s isolated."""
    d = spread_table(spark, sf_dir, "documents", "doc_id")
    return api.bpe_apply(d.select("doc_id", "text"), "text", _BPE_RULES).select(
        "doc_id", "toks", "n_subwords"
    )


@query(
    "pipeline_domain_mix_report",
    oracle="""
WITH t AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
),
tot AS (SELECT SUM(n_toks) AS total FROM t)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_toks) AS DOUBLE) / CAST(tot.total AS DOUBLE) AS token_share
FROM t CROSS JOIN tot
GROUP BY source, lang, tot.total
""",
    category="pipelines",
)
def pipeline_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report — the per-(source, lang) token census a
    corpus builder signs off before a run: document counts, token
    counts, and each cell's share of the total token budget. Shares
    are integer-token ratios (one exact BIGINT sum / one exact total,
    single double division) so the report is bit-identical across
    engines. Two aggregations over one scan: the per-cell rollup and
    a 1-row broadcast total; no second corpus pass."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source", "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks")
    )
    tot = t.agg(F.sum("n_toks").alias("total"))
    return (
        t.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("total").cast("double")).alias(
                "token_share"
            ),
        )
    )


@query(
    "pipeline_ab_test",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN ((user_id & {_SPLIT_MASK}) * {_SPLIT_MULT}) % {_SPLIT_MOD}
                   < {_SPLIT_MOD // 2} THEN 'A' ELSE 'B' END AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS spend_c
  FROM events
  GROUP BY user_id
),
m AS (
  SELECT arm,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(spend_c) AS DOUBLE) AS s,
         CAST(SUM(spend_c * spend_c) AS DOUBLE) AS ss,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM per_user GROUP BY arm
)
SELECT a.n_users AS n_a, b.n_users AS n_b,
       a.s / a.n / 100.0 AS mean_a,
       b.s / b.n / 100.0 AS mean_b,
       (a.s / a.n - b.s / b.n)
         / sqrt((a.n * a.ss - a.s * a.s) / (a.n * (a.n - 1.0)) / a.n
              + (b.n * b.ss - b.s * b.s) / (b.n * (b.n - 1.0)) / b.n)
         AS t_welch
FROM (SELECT * FROM m WHERE arm = 'A') a
CROSS JOIN (SELECT * FROM m WHERE arm = 'B') b
""",
    category="pipelines",
)
def pipeline_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a deterministic hash assignment
    and a Welch t statistic — the analysis every experimentation
    platform runs: users split into arms by the same Knuth
    multiplicative hash as pipeline_train_split (assignment is a
    pure function of the user id), per-user purchase spend is the
    unit of analysis (clustered correctly — events within a user are
    not independent), and the t statistic comes from int64-exact
    power sums in cents with the IDENTICAL expression shape in both
    engines, so even the sqrt-bearing statistic is bit-reproducible.
    Two shuffles: the per-user rollup and the 2-row arm rollup."""
    ev = table(spark, sf_dir, "events")
    bucket = (F.col("user_id").bitwiseAND(_SPLIT_MASK) * _SPLIT_MULT) % _SPLIT_MOD
    arm = F.when(bucket < _SPLIT_MOD // 2, "A").otherwise("B")
    spend = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).otherwise(F.lit(0))
    ).alias("spend_c")
    per_user = ev.groupBy("user_id").agg(spend).select(
        arm.alias("arm"), "spend_c"
    )
    m = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("spend_c").cast("double").alias("s"),
        F.sum(F.col("spend_c") * F.col("spend_c")).cast("double").alias("ss"),
        F.count(F.lit(1)).alias("n_users"),
    )
    a = m.where(F.col("arm") == "A").alias("a")
    b = m.where(F.col("arm") == "B").alias("b")
    an, as_, ass = F.col("a.n"), F.col("a.s"), F.col("a.ss")
    bn, bs, bss = F.col("b.n"), F.col("b.s"), F.col("b.ss")
    var_a = (an * ass - as_ * as_) / (an * (an - 1.0))
    var_b = (bn * bss - bs * bs) / (bn * (bn - 1.0))
    return a.crossJoin(b).select(
        F.col("a.n_users").alias("n_a"),
        F.col("b.n_users").alias("n_b"),
        (as_ / an / 100.0).alias("mean_a"),
        (bs / bn / 100.0).alias("mean_b"),
        ((as_ / an - bs / bn) / F.sqrt(var_a / an + var_b / bn)).alias(
            "t_welch"
        ),
    )


@query(
    "pipeline_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS active_week
  FROM events e
),
joined AS (
  SELECT f.cohort_week,
         CAST(date_diff('week', f.cohort_week, a.active_week) AS BIGINT)
           AS week_offset,
         a.user_id
  FROM activity a JOIN first_seen f ON f.user_id = a.user_id
),
cohort_size AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first_seen GROUP BY cohort_week
)
SELECT j.cohort_week, j.week_offset,
       CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active,
       cs.n_users AS cohort_size,
       CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / CAST(cs.n_users AS DOUBLE)
         AS retention
FROM joined j JOIN cohort_size cs ON cs.cohort_week = j.cohort_week
GROUP BY j.cohort_week, j.week_offset, cs.n_users
""",
    category="pipelines",
)
def pipeline_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the growth-analytics staple: users
    are cohorted by first-seen week, every (cohort, week-offset)
    cell counts how many of them were active that week, and
    retention is the exact count ratio against the cohort size.
    Week arithmetic runs on date_trunc boundaries in both engines
    (offset = whole truncated weeks, not day/7), so cells align
    bit-exactly.

    Shuffles: first-seen rollup (user_id), distinct activity
    (user_id, week), the cohort join (user_id, broadcast-eligible
    first_seen), and the cell rollup — each on a natural key, no
    quadratic anything."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    joined = activity.join(first_seen, "user_id").select(
        "cohort_week",
        (
            F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
        ).cast("long").alias("week_offset"),
        "user_id",
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(cohort_size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


@query(
    "pipeline_rfm_segments",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_order, frequency, monetary,
         ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
FROM scored
GROUP BY r_score, f_score, m_score
""",
    category="pipelines",
)
def pipeline_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics classic: per
    customer recency (last order date), frequency (order count) and
    monetary (exact-decimal spend), each quartiled with ntile over a
    total order (custkey tie-break makes the quartile assignment
    deterministic), then the 4x4x4 segment rollup with exact segment
    value. The three quartile scores run through the distributed-prefix
    kernel ``api_rank.ntile_distributed``."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    scored = rfm
    for order_cols, score in (
        (["last_order", "o_custkey"], "r_score"),
        (["frequency", "o_custkey"], "f_score"),
        (["monetary", "o_custkey"], "m_score"),
    ):
        scored = ntile_distributed(scored, 4, order_cols, score)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(18,2)"))
        .cast("double")
        .alias("segment_value"),
    )


@query(
    "pipeline_seasonality",
    oracle="""
WITH t AS (
  SELECT event_type,
         CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t)
SELECT event_type, dow, hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS avg_value,
       CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS traffic_share
FROM t CROSS JOIN tot
GROUP BY event_type, dow, hour, tot.n
""",
    category="pipelines",
)
def pipeline_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap — the ops-dashboard staple: per (event
    type, day-of-week, hour-of-day) cell counts, exact-cents average
    value, and each cell's share of total traffic. Day-of-week uses
    the 0=Sunday EXTRACT(dow) convention on both engines (Spark:
    dayofweek() is 1=Sunday, so shift by one). Bounded cells
    (5 x 7 x 24), one aggregation + a broadcast total."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
        cents.alias("cents"),
    )
    tot = t.agg(F.count(F.lit(1)).alias("n"))
    return (
        t.groupBy("event_type", "dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
                "avg_value"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "hour",
            "n_events",
            "avg_value",
            (F.col("n_events").cast("double") / F.col("n").cast("double")).alias(
                "traffic_share"
            ),
        )
    )


@query(
    "pipeline_traffic_anomaly",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, hr, n,
         CAST(SUM(n) OVER w AS BIGINT) AS base_n,
         CAST(COUNT(*) OVER w AS BIGINT) AS base_hours
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hr, n, base_n, base_hours,
       CAST(n * base_hours AS DOUBLE) / CAST(base_n AS DOUBLE) AS spike_ratio,
       n * base_hours > 2 * base_n AS is_spike
FROM base
WHERE base_hours = 24
""",
    category="pipelines",
)
def pipeline_traffic_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-spike detection — the monitoring-alert staple: each
    (event type, hour) count is compared to its own trailing 24-hour
    baseline; a spike is a count more than 2x the baseline mean. The
    ratio is one exact-integer cross-multiplication divided once,
    and the 2x FLAG compares integers exactly (n * base_hours >
    2 * base_n) — no float threshold, so alerts are bit-stable.
    Hours without a full baseline are excluded rather than
    half-compared. Shuffles: the hourly rollup, then the per-type
    ordered window — both on (event_type[, hour])."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    base = hourly.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(w).alias("base_n"),
        F.count(F.lit(1)).over(w).alias("base_hours"),
    ).where(F.col("base_hours") == 24)
    return base.select(
        "event_type",
        "hr",
        "n",
        "base_n",
        "base_hours",
        (
            (F.col("n") * F.col("base_hours")).cast("double")
            / F.col("base_n").cast("double")
        ).alias("spike_ratio"),
        (F.col("n") * F.col("base_hours") > 2 * F.col("base_n")).alias("is_spike"),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
WITH base AS (
  SELECT doc_id, text, lang, source, n_chars, md5(text) AS h
  FROM documents
),
langs AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY lang
),
top_lang AS (
  SELECT lang, n FROM langs ORDER BY n DESC, lang LIMIT 1
)
SELECT
  CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_docs,
  CAST((SELECT COUNT(DISTINCT h) FROM base) AS BIGINT) AS n_unique_texts,
  CAST((SELECT COUNT(*) FROM base) - (SELECT COUNT(DISTINCT h) FROM base) AS BIGINT)
    AS n_exact_dups,
  CAST((SELECT SUM(n_chars) FROM base) AS BIGINT) AS total_chars,
  CAST((SELECT SUM(n_chars) FROM base) AS DOUBLE)
    / CAST((SELECT COUNT(*) FROM base) AS DOUBLE) AS mean_chars,
  CAST((SELECT COUNT(DISTINCT lang) FROM base) AS BIGINT) AS n_langs,
  (SELECT lang FROM top_lang) AS top_lang,
  CAST((SELECT n FROM top_lang) AS DOUBLE)
    / CAST((SELECT COUNT(*) FROM base) AS DOUBLE) AS top_lang_share,
  CAST((SELECT COUNT(DISTINCT source) FROM base) AS BIGINT) AS n_sources
""",
    category="pipelines",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD for the documents corpus — the governance
    artifact every training-data release ships: doc/dup counts (via
    md5 text hash), size totals, language diversity with the modal
    language's share (deterministic tie-break: count desc, then
    lang), and source coverage.

    Shape: one pass computes global count/sum partials; the distinct
    counts are hash-agg distincts on narrow columns; the modal
    language is a bounded (n_langs-row) top-1. Everything combines
    into a single broadcast-assembled row — at 100 TB this is three
    scans of one column each, no wide shuffle."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", "source", "n_chars", F.md5("text").alias("h"))
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique_texts"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    top = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return totals.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "n_unique_texts",
        (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dups"),
        "total_chars",
        (
            F.col("total_chars").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_chars"),
        "n_langs",
        "top_lang",
        (F.col("top_n").cast("double") / F.col("n_docs").cast("double")).alias(
            "top_lang_share"
        ),
        "n_sources",
    )


@query(
    "pipeline_scd2",
    oracle="""
WITH chg AS (
  SELECT user_id,
         ts AS effective_from,
         value,
         event_id
  FROM events
  WHERE event_type IN ('signup', 'purchase')
),
versions AS (
  SELECT user_id, effective_from, value, event_id,
         lead(effective_from) OVER (PARTITION BY user_id
                                    ORDER BY effective_from, event_id)
           AS effective_to
  FROM chg
)
SELECT user_id, effective_from, effective_to,
       value AS attr_value,
       CAST(effective_to IS NULL AS BOOLEAN) AS is_current
FROM versions
""",
    category="pipelines",
)
def pipeline_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 history build — the
    warehouse dimension-versioning kernel: each attribute change row
    (here: a user's signup/purchase events standing in for profile
    changes) becomes a version interval [effective_from,
    effective_to) by leading the next change per key, with the open
    (NULL-to) version flagged current. The (ts, event_id) compound
    order makes the versioning deterministic under same-timestamp
    changes — the join_asof_nearest tie-break lesson applied at
    build time.

    Scale: ONE shuffle on the dimension key, one lead window, no
    self-join — the standard at-scale SCD2 recipe (vs the quadratic
    'match each row to its successor' formulation). Delegates to the
    public ``api.scd2`` kernel."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    return api.scd2(ev, "user_id", "ts", "event_id").select(
        "user_id",
        "effective_from",
        "effective_to",
        F.col("value").alias("attr_value"),
        "is_current",
    )


@query(
    "pipeline_skew_report",
    oracle="""
WITH k AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys FROM k),
top AS (
  SELECT n, user_id,
         row_number() OVER (ORDER BY n DESC, user_id) AS r
  FROM k
)
SELECT t.r AS rank, t.user_id, t.n,
       CAST(t.n AS DOUBLE) / CAST(o.total AS DOUBLE) AS share,
       CAST(t.n AS DOUBLE) * CAST(o.n_keys AS DOUBLE)
         / CAST(o.total AS DOUBLE) AS skew_factor
FROM top t CROSS JOIN tot o
WHERE t.r <= 10
""",
    category="pipelines",
)
def pipeline_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW diagnostic — the report you run BEFORE
    choosing a 100 TB partitioning: the top-10 heaviest keys of the
    events user_id distribution with each key's share of all rows
    and its skew factor (share x key count — 1.0 means perfectly
    uniform; the classic 'salt keys with factor >> 1' trigger).

    Shape: one hash-agg on the key, a bounded top-10
    (TakeOrderedAndProject — no global sort), one broadcast of the
    2-scalar total. The report itself is what justifies the salted
    variants (agg_salted_skew / join_salted_skew) elsewhere in this
    repo. Delegates to the public ``api.skew_report`` kernel."""
    ev = table(spark, sf_dir, "events")
    return api.skew_report(ev, "user_id", top_n=10)


@query(
    "pipeline_dq_checks",
    oracle="""
SELECT
  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    AS null_custkey,
  CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
    AS nonpositive_price,
  CAST((SELECT COUNT(*) FROM orders
        WHERE o_orderdate < TIMESTAMP '1992-01-01'
           OR o_orderdate >= TIMESTAMP '2026-01-01') AS BIGINT)
    AS out_of_range_date,
  CAST((SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    AS orphan_custkey,
  CAST((SELECT COUNT(*) FROM
          (SELECT o_orderkey FROM orders
           GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
    AS dup_orderkeys,
  CAST((SELECT COUNT(*) FROM orders
        WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    AS bad_status
""",
    category="pipelines",
)
def pipeline_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality CONTRACT report over the orders table — the gate
    a 100 TB ingest runs before publishing a partition: null keys,
    non-positive amounts, out-of-range dates, referential orphans
    (o_custkey missing from customer), duplicate primary keys, and
    domain violations, all as exact counts in ONE row.

    Shape: the row-local checks fold into a single conditional-
    aggregate scan (no shuffle); the orphan check is one left-anti
    against the broadcast customer keys; the dup check re-uses the
    o_orderkey hash-agg. Nothing quadratic, nothing driver-side —
    each violation class is a counter, not a row dump (the row dump
    is the same plan minus the agg)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    row_checks = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "nonpositive_price"
        ),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2026-01-01").cast("timestamp")
                ),
                1,
            )
        ).alias("out_of_range_date"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("bad_status"),
    )
    orphans = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_custkey"))
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("dup_orderkeys"))
    )
    return (
        row_checks.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_rows",
            "null_custkey",
            "nonpositive_price",
            "out_of_range_date",
            "orphan_custkey",
            "dup_orderkeys",
            "bad_status",
        )
    )


# Target mix shares (per mille) for pipeline_domain_resample: the
# keep-rate for a source is min(1, target_share / observed_share),
# applied as a deterministic per-doc hash threshold.
_RESAMPLE_TARGETS = {"src0": 500, "src1": 250, "src2": 150, "src3": 100,
                     "src4": 80, "src5": 40}


@query(
    "pipeline_domain_resample",
    oracle=f"""
WITH tgt AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(_RESAMPLE_TARGETS.items()))})
    t(source, tgt_pm)
),
obs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
  FROM documents GROUP BY source
),
rates AS (
  -- keep-rate per mille: min(1000, (tgt_pm * total) // n) — integer
  -- floor division on both engines (Spark uses `div`), never a
  -- rounding double intermediate
  SELECT o.source,
         LEAST(CAST(1000 AS BIGINT),
               (COALESCE(t.tgt_pm, 0) * o.total) // o.n) AS keep_pm
  FROM obs o LEFT JOIN tgt t ON t.source = o.source
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON r.source = d.source
WHERE ((d.doc_id & 2147483647) * 2654435761) % 4294967296 % 1000 < r.keep_pm
""",
    category="pipelines",
)
def pipeline_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIX enforcement — the 'data recipe' op of LLM corpus
    building: given target per-mille shares per source, down-sample
    over-represented domains with a DETERMINISTIC per-doc hash
    threshold (keep iff hash(doc_id) % 1000 < keep_pm), where
    keep_pm = min(1000, target_share/observed_share) in exact
    integer arithmetic. Membership is a pure function of doc_id —
    reproducible across runs, engines, and partitionings (the
    pipeline_train_split discipline applied to mixing).

    Shape: one bounded hash-agg for observed shares (sources are
    few), a broadcast of the per-source rate, and a map-side filter
    — the corpus itself never shuffles."""
    d = table(spark, sf_dir, "documents")
    return api.domain_resample(d, "source", "doc_id", _RESAMPLE_TARGETS).select(
        "doc_id", "source"
    )


@query(
    "pipeline_incremental_dedup",
    oracle="""
WITH base AS (
  SELECT doc_id, text,
         md5(text) AS h,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
           AS tokset
  FROM documents WHERE doc_id % 5 <> 4
),
batch AS (
  SELECT doc_id, text,
         md5(text) AS h,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
           AS tokset
  FROM documents WHERE doc_id % 5 = 4
)
SELECT b.doc_id,
       EXISTS (SELECT 1 FROM base x WHERE x.h = b.h) AS dup_exact,
       EXISTS (SELECT 1 FROM base x WHERE x.tokset = b.tokset) AS dup_tokenset,
       NOT EXISTS (SELECT 1 FROM base x WHERE x.tokset = b.tokset) AS admit
FROM batch b
""",
    category="pipelines",
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — how production corpus building
    actually runs (nobody re-dedups 100 TB per day): an arriving
    batch (every 5th doc) is checked against the ACCEPTED base
    corpus on two ladder tiers — exact byte hash and order-free
    token-set key — and each batch doc gets an admit/reject verdict
    with per-tier flags. The base side reduces to its (hash, tokset)
    key table: at 100 TB that key table IS the persisted dedup
    index (bucketed on hash), and each increment joins against keys,
    never against the corpus bytes.

    Shape: two left-semi-shaped membership joins on narrow keys
    (planned as broadcast/shuffled hash joins on md5 and tokset);
    the batch never self-joins, and the corpus text never moves."""
    d = table(spark, sf_dir, "documents")
    tokset = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
    )
    keyed = d.select("doc_id", F.md5("text").alias("h"), tokset.alias("tokset"))
    base = keyed.where(F.col("doc_id") % 5 != 4)
    batch = keyed.where(F.col("doc_id") % 5 == 4)
    base_h = base.select("h").distinct().withColumn("__eh", F.lit(True))
    base_t = base.select("tokset").distinct().withColumn("__et", F.lit(True))
    return (
        batch.join(base_h, "h", "left")
        .join(base_t, "tokset", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__eh"), F.lit(False)).alias("dup_exact"),
            F.coalesce(F.col("__et"), F.lit(False)).alias("dup_tokenset"),
            (~F.coalesce(F.col("__et"), F.lit(False))).alias("admit"),
        )
    )


@query(
    "pipeline_dataset_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END) AS h
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.h <> v2.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 FULL OUTER JOIN v2 ON v2.doc_id = v1.doc_id
""",
    category="pipelines",
)
def pipeline_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset VERSION diff — the regression test every training-data
    release needs: two corpus versions (deterministically derived:
    v2 drops every 3rd doc, adds back the %5==4 docs, and edits
    every 7th) compare by (key, content-hash) through ONE full outer
    join, labeling each key added / removed / changed / unchanged.
    At 100 TB both sides reduce to their (key, md5) tables first —
    the diff joins 32-byte rows, never documents; with both versions
    bucketed on the key it is a zero-shuffle merge."""
    d = table(spark, sf_dir, "documents")
    v1 = d.where(F.col("doc_id") % 5 != 4).select(
        "doc_id", F.md5("text").alias("h")
    )
    v2 = d.where(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" edited"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    return a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def _vocab_oracle() -> str:
    merged_values = ", ".join(
        f"({rank + 1}, '{left + right}')" for rank, (left, right) in enumerate(_BPE_RULES)
    )
    return f"""
WITH base AS (
  SELECT DISTINCT c AS token
  FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
  WHERE c <> ' '
),
base_ids AS (
  SELECT row_number() OVER (ORDER BY token) - 1 AS token_id,
         token, 'base' AS kind
  FROM base
),
n_base AS (SELECT COUNT(*) AS n FROM base),
merged AS (
  SELECT n_base.n + rank - 1 AS token_id, token, 'merged' AS kind
  FROM (VALUES {merged_values}) m(rank, token), n_base
)
SELECT CAST(token_id AS BIGINT) AS token_id, token, kind FROM base_ids
UNION ALL
SELECT CAST(token_id AS BIGINT) AS token_id, token, kind FROM merged
"""


@query("pipeline_tokenizer_vocab", oracle=_vocab_oracle(), category="pipelines")
def pipeline_tokenizer_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer VOCAB table — the third leg of the BPE story
    (train -> vocab -> apply): base symbols are the corpus's distinct
    non-space characters with deterministic ids in sorted order, then
    the merge rules' produced symbols continue the id space in rank
    order (exactly how a BPE vocab file is laid out). The corpus-
    scale stage is one distinct over exploded characters — a tiny
    hash-agg state (the alphabet) regardless of corpus size; the
    merged tail is a literal 10-row frame.

    The single-partition ORDER BY window for base ids is safe at any
    scale: its input is the distinct alphabet, not the corpus."""
    d = table(spark, sf_dir, "documents")
    base = (
        d.select(F.explode(F.split(F.col("text"), "")).alias("token"))
        .where(F.col("token") != " ")
        .distinct()
    )
    w = Window.orderBy("token")
    base_ids = base.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "token",
        F.lit("base").alias("kind"),
    )
    n_base = base.agg(F.count(F.lit(1)).alias("n"))
    merged = spark.createDataFrame(
        [(rank + 1, left + right) for rank, (left, right) in enumerate(_BPE_RULES)],
        "rank long, token string",
    )
    merged_ids = merged.crossJoin(F.broadcast(n_base)).select(
        (F.col("n") + F.col("rank") - 1).cast("long").alias("token_id"),
        "token",
        F.lit("merged").alias("kind"),
    )
    return base_ids.unionByName(merged_ids)


@query(
    "pipeline_eval_pass_at_k",
    oracle="""
WITH s AS (
  SELECT user_id AS problem_id,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_passed
  FROM events GROUP BY user_id
)
SELECT problem_id, n_samples, n_passed,
       CAST(n_passed AS DOUBLE) / CAST(n_samples AS DOUBLE) AS pass_at_1,
       CASE
         WHEN n_samples >= 6209 THEN NULL
         WHEN n_samples - n_passed >= 5 THEN
           CAST(1 AS DOUBLE)
           - CAST((n_samples - n_passed) * (n_samples - n_passed - 1)
                  * (n_samples - n_passed - 2) * (n_samples - n_passed - 3)
                  * (n_samples - n_passed - 4) AS DOUBLE)
             / CAST(n_samples * (n_samples - 1) * (n_samples - 2)
                    * (n_samples - 3) * (n_samples - 4) AS DOUBLE)
         ELSE CAST(1 AS DOUBLE)
       END AS pass_at_5
FROM s
""",
    category="pipelines",
)
def pipeline_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — THE code-generation eval metric (the unbiased
    estimator of Chen et al. 2021, "Evaluating LLMs Trained on
    Code": pass@k = 1 - C(n-c, k)/C(n, k) over n samples of which c
    passed): each user stands in for a problem, each event for one
    sampled completion, value > 0.5 for its unit-test verdict.  The
    binomial ratio is computed as EXACT int64 falling-factorial
    products with ONE final double division (k=5 keeps the products
    under 2^63 for n <= a few thousand samples/problem; k=10 at
    n~100 would overflow), so the estimate is bit-reproducible —
    no lgamma, no floating-point combinatorics.  When fewer than k
    samples fail, C(n-c, k) = 0 and pass@k is exactly 1.

    Shape: one partial/final hash aggregation over the samples (the
    same single-shuffle census every eval op here uses), then pure
    projection arithmetic — at 100 TB of eval logs nothing but the
    per-problem rollup moves."""
    e = table(spark, sf_dir, "events")
    s = e.groupBy(F.col("user_id").alias("problem_id")).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.when(F.col("value") > 0.5, 1).otherwise(0)).alias("n_passed"),
    )
    n, c = F.col("n_samples"), F.col("n_passed")
    fail = n - c

    def falling(x, k):
        p = F.lit(1).cast("long")
        for i in range(k):
            p = p * (x - i)
        return p

    return s.select(
        "problem_id",
        "n_samples",
        "n_passed",
        (c.cast("double") / n.cast("double")).alias("pass_at_1"),
        # n >= 6209 would overflow the int64 falling factorial (6209^5
        # > 2^63) and abort the whole query under ANSI mode — degrade
        # to NULL on BOTH twins instead; at that sample count the
        # caller should use the float-ratio estimator anyway
        F.when(n >= 6209, F.lit(None).cast("double"))
        .when(
            fail >= 5,
            F.lit(1.0)
            - falling(fail, 5).cast("double") / falling(n, 5).cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("pass_at_5"),
    )


