"""Experimentation / dataset-release pipelines (split out of the
r9-era screening.py catch-all per VERDICT r10 item 6): l-diversity
privacy audit, MMR re-ranking, quantile normalization,
difference-in-differences, and group k-fold assignment with a
leakage certificate.

Exactness: integer-lattice scores and cross-multiplied comparisons
throughout (stats_ext lineage); data-proportional ranking goes
through api_rank.global_rank_distributed, never a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..api_lsh import (  # the table's names are also read from here by tests
    _DP_EPS_DEN,
    _DP_EPS_NUM,
    _DP_TRUNC,
    _DP_UBITS,
    _dp_noise_case,
    _dp_thresholds,
    dp_noisy_counts,
)
from .. import api, lifecycle
from ..io import table
from ..registry import query
from ..operators.stats_ext import _CENTS_SQL, _GRID_SQL, _day_grid


_LDIV_L = 3  # distinct-l-diversity requirement


@query(
    "pipeline_ldiversity",
    oracle=f"""
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
         c_custkey % 7 AS sensitive
  FROM customer
),
cls AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(COUNT(*) AS BIGINT) AS grp_n,
         CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_distinct,
         CAST(MAX(cnt) AS BIGINT) AS max_sens_cnt
  FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                             bal_band, sensitive) AS cnt
    FROM q
  ) w
  GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_classes_below_l,
       CAST(SUM(CASE WHEN l_distinct < {_LDIV_L} THEN grp_n ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk,
       CAST(MIN(l_distinct) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN max_sens_cnt * {_LDIV_L} > grp_n THEN 1 ELSE 0 END)
            AS BIGINT) AS n_classes_skewed,
       CAST(SUM(grp_n) AS BIGINT) AS n_rows
FROM cls
""",
    category="pipelines",
)
def pipeline_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit — the privacy gate k-anonymity
    (pipeline_kanonymity, same quasi-identifier classes) is NOT
    sufficient for: a class can be large yet reveal everyone's
    sensitive value if that value is homogeneous. Per equivalence
    class this reports distinct-l (count of distinct sensitive
    values; sensitive here is a synthetic 7-value attribute), the
    classes below l=3, the rows they expose, and a SKEW flag from
    recursive-(c,l)-diversity's ingredient — the modal sensitive
    value holding more than 1/l of the class, tested as the exact
    integer cross-product max_cnt * l > n (no float share). Scale
    shape: one window keyed on (class, sensitive) for modal counts
    sharing its Exchange with the class rollup, then a bounded
    final aggregate."""
    c = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    q = c.select(
        "c_nationkey",
        "c_mktsegment",
        band.alias("bal_band"),
        (F.col("c_custkey") % 7).alias("sensitive"),
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band", "sensitive")
    with_cnt = q.select("*", F.count(F.lit(1)).over(w).alias("cnt"))
    cls = with_cnt.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("grp_n"),
        F.countDistinct("sensitive").cast("long").alias("l_distinct"),
        F.max("cnt").cast("long").alias("max_sens_cnt"),
    )
    below = F.when(F.col("l_distinct") < _LDIV_L, 1).otherwise(0)
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(below).cast("long").alias("n_classes_below_l"),
        F.sum(
            F.when(F.col("l_distinct") < _LDIV_L, F.col("grp_n")).otherwise(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("l_distinct").cast("long").alias("min_l"),
        F.sum(
            F.when(
                F.col("max_sens_cnt") * _LDIV_L > F.col("grp_n"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_classes_skewed"),
        F.sum("grp_n").cast("long").alias("n_rows"),
    )

_MMR_CANDS = 32
_MMR_K = 4
_MMR_QUERY = [1 if j <= 32 else -1 for j in range(1, 65)]  # literal query


def _mmr_oracle() -> str:
    """Unrolled greedy MMR (lambda = 1/2, doubled scores: mmr2 =
    rel - max_sim) as materialized CTE rounds, the _k_core_exact
    unroll pattern."""
    q_terms = " + ".join(
        f"xq[{j}] * {c}" for j, c in enumerate(_MMR_QUERY, start=1)
    )
    dot_ab = " + ".join(f"a.xq[{j}] * b.xq[{j}]" for j in range(1, 65))
    parts = [
        f"""WITH base AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, 65),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                     AS BIGINT)) AS xq
  FROM embeddings WHERE vec_id < {_MMR_CANDS}
),
rel AS MATERIALIZED (
  SELECT vec_id, xq, CAST({q_terms} AS BIGINT) AS rel FROM base
),
p1 AS MATERIALIZED (
  SELECT vec_id, xq, rel, CAST(0 AS BIGINT) AS max_sim, rel AS mmr2,
         1 AS rank FROM rel
  ORDER BY rel DESC, vec_id LIMIT 1
)"""
    ]
    prev_union = "SELECT * FROM p1"
    for r in range(2, _MMR_K + 1):
        parts.append(
            f""",
picked{r - 1} AS MATERIALIZED ({prev_union}),
scored{r} AS MATERIALIZED (
  SELECT a.vec_id, a.xq, a.rel,
         CAST(MAX({dot_ab}) AS BIGINT) AS max_sim
  FROM rel a JOIN picked{r - 1} b ON a.vec_id <> b.vec_id
  WHERE a.vec_id NOT IN (SELECT vec_id FROM picked{r - 1})
  GROUP BY a.vec_id, a.xq, a.rel
),
p{r} AS MATERIALIZED (
  SELECT vec_id, xq, rel, max_sim, rel - max_sim AS mmr2, {r} AS rank
  FROM scored{r}
  ORDER BY rel - max_sim DESC, vec_id LIMIT 1
)"""
        )
        prev_union += f" UNION ALL SELECT * FROM p{r}"
    parts.append(
        f"""
SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, max_sim,
       CAST(mmr2 AS BIGINT) AS mmr2
FROM ({prev_union}) u"""
    )
    return "".join(parts)


@query("pipeline_mmr_rerank", oracle=_mmr_oracle(), category="pipelines")
def pipeline_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998) — the diversity-aware selection every RAG retriever runs
    after similarity scoring: greedily pick k=4 of 32 candidates
    maximizing relevance MINUS the max similarity to anything already
    picked (lambda = 1/2; scores doubled so mmr2 = rel - max_sim
    stays an exact int64 — relevance and similarities are integer
    dots on the proven 1e-6 quantization grid). The greedy argmax is
    inherently sequential, so the 4 rounds unroll: each is one
    broadcast join of the <=3-row picked set against the candidates,
    one exact-integer max-similarity rollup, and a TakeOrdered-1
    pick with a deterministic vec_id tie-break; the only driver
    traffic is the k picked ids (bounded fold, the kmeans/power-
    iteration convention). The graded output re-derives relevance,
    max-sim and mmr2 ENGINE-SIDE from the picked-id literals. Scale:
    candidates stay distributed; per round the shuffled mass is
    O(candidates), never O(candidates^2)."""
    e = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _MMR_CANDS
    )
    base = lifecycle.checkpoint(
        e.select(
            "vec_id",
            api.quantize_vec(F.col("embedding")).alias("xq"),
        )
    )
    q_terms = " + ".join(
        f"element_at(xq, {j}) * {c}L"
        for j, c in enumerate(_MMR_QUERY, start=1)
    )
    rel = lifecycle.checkpoint(
        base.select("vec_id", "xq", F.expr(q_terms).cast("long").alias("rel"))
    )

    picked = []  # [(rank, vec_id)]
    first = rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1).collect()[0]
    picked.append((1, int(first["vec_id"])))
    for r in range(2, _MMR_K + 1):
        pids = [vid for _, vid in picked]
        pvec = rel.where(F.col("vec_id").isin(pids)).select(
            F.col("vec_id").alias("pid"), F.col("xq").alias("pxq")
        )
        remaining = rel.where(~F.col("vec_id").isin(pids))
        scored = (
            remaining.crossJoin(F.broadcast(pvec))
            .select(
                "vec_id",
                "rel",
                F.expr(
                    "aggregate(zip_with(xq, pxq, (a, b) -> a * b),"
                    " 0L, (acc, t) -> acc + t)"
                ).alias("sim"),
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").cast("long").alias("max_sim"))
        )
        pick = (
            scored.orderBy(
                F.desc(F.col("rel") - F.col("max_sim")), F.asc("vec_id")
            )
            .limit(1)
            .collect()[0]
        )
        picked.append((r, int(pick["vec_id"])))
    # engine-side re-derivation from the picked-id literals
    spark_sess = base.sparkSession
    ptab = F.broadcast(
        spark_sess.createDataFrame(picked, "rank int, vec_id bigint")
    )
    out = ptab.join(rel, "vec_id").select(
        "rank", "vec_id", "rel", "xq"
    )
    a = out.select(
        F.col("rank").alias("ra"),
        F.col("vec_id").alias("va"),
        F.col("rel").alias("rel_a"),
        F.col("xq").alias("xa"),
    )
    b = out.select(F.col("rank").alias("rb"), F.col("xq").alias("xb"))
    sims = (
        a.join(F.broadcast(b), F.col("ra") > F.col("rb"))
        .select(
            "ra",
            "va",
            "rel_a",
            F.expr(
                "aggregate(zip_with(xa, xb, (p, q) -> p * q),"
                " 0L, (acc, t) -> acc + t)"
            ).alias("sim"),
        )
        .groupBy("ra", "va", "rel_a")
        .agg(F.max("sim").cast("long").alias("max_sim"))
    )
    firstrow = out.where(F.col("rank") == 1).select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        "rel",
        F.lit(0).cast("long").alias("max_sim"),
        F.col("rel").cast("long").alias("mmr2"),
    )
    rest = sims.select(
        F.col("ra").cast("long").alias("rank"),
        F.col("va").alias("vec_id"),
        F.col("rel_a").alias("rel"),
        "max_sim",
        (F.col("rel_a") - F.col("max_sim")).cast("long").alias("mmr2"),
    )
    return firstrow.unionByName(rest)

@query(
    "pipeline_quantile_normalize",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT event_type, d, x FROM g
      WHERE event_type IN ('click', 'purchase')),
rk AS (
  SELECT event_type, d, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, d) AS rnk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM s
),
common AS (SELECT MIN(n) AS nc FROM (SELECT DISTINCT n FROM rk) t),
trimmed AS (SELECT rk.* FROM rk CROSS JOIN common WHERE rk.rnk <= common.nc),
ref AS (
  SELECT rnk, CAST(SUM(x) AS BIGINT) AS ref2_num,
         CAST(COUNT(*) AS BIGINT) AS n_series
  FROM trimmed GROUP BY rnk
)
SELECT t.event_type, CAST(t.d AS TIMESTAMP) AS d, t.x,
       CAST(t.rnk AS BIGINT) AS rnk, ref.ref2_num, ref.n_series,
       CAST(ref.ref2_num AS DOUBLE) / ref.n_series AS x_qnorm
FROM trimmed t JOIN ref ON ref.rnk = t.rnk
""",
    category="pipelines",
)
def pipeline_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the click and purchase daily-revenue
    series — the cross-sample distribution-matching transform
    bioinformatics standardized (every series is remapped so its
    order statistics agree with the cross-series mean order
    statistic): each series is ranked internally (deterministic
    (x, d) tie-break), ranks beyond the shortest series are trimmed
    (both series cover the same days here, so this is a no-op guard),
    and the reference distribution at each rank is the across-series
    SUM carried exact (ref2_num) with the mean division display-only.
    Scale shape: per-series ranking is key-partitioned on
    event_type; the per-rank reference rollup and fan-back join are
    key-partitioned on rank — nothing global, no broadcast of
    anything data-proportional."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type").isin("click", "purchase")).select(
        "event_type", "d", "x"
    )
    wr = Window.partitionBy("event_type").orderBy("x", "d")
    wn = Window.partitionBy("event_type")
    rk = s.select(
        "event_type",
        "d",
        "x",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    common = rk.select("n").distinct().agg(F.min("n").alias("nc"))
    trimmed = rk.crossJoin(F.broadcast(common)).where(
        F.col("rnk") <= F.col("nc")
    )
    ref = trimmed.groupBy("rnk").agg(
        F.sum("x").cast("long").alias("ref2_num"),
        F.count(F.lit(1)).cast("long").alias("n_series"),
    )
    return trimmed.join(ref, "rnk").select(
        "event_type",
        F.col("d").cast("timestamp").alias("d"),
        "x",
        F.col("rnk").cast("long").alias("rnk"),
        "ref2_num",
        "n_series",
        (F.col("ref2_num").cast("double") / F.col("n_series")).alias(
            "x_qnorm"
        ),
    )

_DID_CUT = "2024-01-16"  # pre/post boundary (events span Jan 2024)


@query(
    "pipeline_did",
    oracle=f"""
WITH r AS (
  SELECT ((user_id & {(1 << 31) - 1}) * 2654435761) % 2 AS treated,
         CASE WHEN ts >= TIMESTAMP '{_DID_CUT}' THEN 1 ELSE 0 END AS post,
         {_CENTS_SQL} AS y
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT treated, post, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s
  FROM r GROUP BY treated, post
),
w AS (
  SELECT
    MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n11,
    MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n10,
    MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n01,
    MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n00,
    MAX(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s11,
    MAX(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s10,
    MAX(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s01,
    MAX(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s00
  FROM cells
)
SELECT n11, n10, n01, n00, s11, s10, s01, s00,
       CAST(s11 AS DOUBLE) / n11 AS m11,
       CAST(s10 AS DOUBLE) / n10 AS m10,
       CAST(s01 AS DOUBLE) / n01 AS m01,
       CAST(s00 AS DOUBLE) / n00 AS m00,
       (CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
         - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00) AS did
FROM w
""",
    category="pipelines",
)
def pipeline_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal-inference
    readout (treatment assigned by the deterministic Knuth hash of
    the user id, the pipeline_ab_test convention; pre/post split at a
    fixed calendar cutoff): the 2x2 cell means of purchase cents are
    carried as exact BIGINT (sum, count) pairs, each mean is ONE
    double division, and the DiD estimate (m11 - m10) - (m01 - m00)
    is a fixed-order chain of those four correctly-rounded values —
    identical in both engines. The parallel-trends counterfactual is
    the analyst's burden; the query's job is exact cells. Scale: one
    conditional aggregation onto the 4-cell domain — map-side
    partials collapse everything."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    r = ev.select(
        (
            (F.col("user_id").bitwiseAND((1 << 31) - 1) * 2654435761) % 2
        ).alias("treated"),
        F.when(F.col("ts") >= F.lit(_DID_CUT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        cents.alias("y"),
    )
    w = r.agg(
        *[
            F.sum(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"n{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        *[
            F.sum(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p), F.col("y")
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"s{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
    )
    m = {
        f"m{t}{p}": F.col(f"s{t}{p}").cast("double") / F.col(f"n{t}{p}")
        for t in (1, 0)
        for p in (1, 0)
    }
    return w.select(
        "n11", "n10", "n01", "n00", "s11", "s10", "s01", "s00",
        m["m11"].alias("m11"),
        m["m10"].alias("m10"),
        m["m01"].alias("m01"),
        m["m00"].alias("m00"),
        ((m["m11"] - m["m10"]) - (m["m01"] - m["m00"])).alias("did"),
    )

_KFOLD_K = 5


@query(
    "pipeline_group_kfold",
    oracle=f"""
WITH anchors AS (
  SELECT source, CAST(MIN(doc_id) AS BIGINT) AS anchor
  FROM documents GROUP BY source
),
folds AS (
  SELECT source,
         ((anchor & {(1 << 31) - 1}) * 2654435761) % {_KFOLD_K} AS fold
  FROM anchors
),
d AS (
  SELECT doc.doc_id, doc.n_chars, folds.source, folds.fold
  FROM documents doc JOIN folds ON folds.source = doc.source
),
per_fold AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
  FROM d GROUP BY fold
),
leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_sources
  FROM (SELECT source FROM d GROUP BY source
        HAVING COUNT(DISTINCT fold) > 1) t
)
SELECT CAST(per_fold.fold AS BIGINT) AS fold, per_fold.n_docs,
       per_fold.sum_chars, per_fold.n_sources, leak.n_leaky_sources
FROM per_fold CROSS JOIN leak
""",
    category="pipelines",
)
def pipeline_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group k-fold assignment (k = 5) — the leakage-proof eval split
    pipeline_train_split and pipeline_stratified_split do NOT give
    you: the fold is a pure function of the GROUP (source), so every
    document of a source lands in the same fold and a model evaluated
    on fold i never saw fold i's sources (the held-out-domain
    protocol). Portability subtlety this query pins: hashing the
    source STRING with each engine's hash() would silently diverge
    (Spark xxhash vs DuckDB's hash are different functions), so the
    group key is reduced to an engine-portable integer anchor first —
    the source's MIN doc id — and the fold is the 31-bit-masked Knuth
    hash of that anchor, identical arithmetic in both engines. The
    output is the per-fold manifest plus the leakage certificate
    n_leaky_sources == 0 (sources spanning more than one fold; pinned
    by test). Scale shape: one per-source anchor rollup (broadcast
    back — the source domain is small), one fold-domain rollup."""
    docs = table(spark, sf_dir, "documents")
    anchors = docs.groupBy("source").agg(
        F.min("doc_id").cast("long").alias("anchor")
    )
    folds = anchors.select(
        "source",
        (
            (F.col("anchor").bitwiseAND((1 << 31) - 1) * 2654435761)
            % _KFOLD_K
        ).alias("fold"),
    )
    d = docs.join(F.broadcast(folds), "source")
    per_fold = d.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    leak = (
        d.groupBy("source")
        .agg(F.countDistinct("fold").alias("nf"))
        .where(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaky_sources"))
    )
    return per_fold.crossJoin(F.broadcast(leak)).select(
        F.col("fold").cast("long").alias("fold"),
        "n_docs",
        "sum_chars",
        "n_sources",
        "n_leaky_sources",
    )


# ------------------------------------------------------------------ #
# differentially-private histogram release (r11 wave 1)
# ------------------------------------------------------------------ #

_DP_SHARED = """
WITH base AS (
  SELECT event_type, {dow} AS dow, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY event_type, {dow}
),
noised AS (
  SELECT event_type, dow, true_cnt,
         {uhash} AS u
  FROM base
)
SELECT event_type, dow, true_cnt,
       {noise} AS noise,
       GREATEST(CAST(0 AS BIGINT), true_cnt + ({noise})) AS released_cnt,
       ABS({noise}) AS abs_err
FROM noised
ORDER BY event_type, dow
"""


def _dp_oracle() -> str:
    u = "CAST(('0x' || substring(md5('dp|' || event_type || '|' || CAST({d} AS VARCHAR)), 1, 10)) AS BIGINT)"
    # DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7 — shift
    dow = "CAST(dayofweek(ts) + 1 AS BIGINT)"
    return _DP_SHARED.format(
        dow=dow, uhash=u.format(d="dow"), noise=_dp_noise_case("u")
    )


@query("pipeline_dp_histogram", oracle=_dp_oracle(), category="pipelines")
def pipeline_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-DP (eps = 1) histogram release of the per (event_type,
    weekday) event counts, with the absolute noise as the audit
    column.  Spark's dayofweek is 1=Sunday..7 (the oracle shifts
    DuckDB's 0..6).  Thin adapter over api.dp_noisy_counts."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(dayofweek(ts) AS BIGINT)").alias("dow")
    )
    return (
        dp_noisy_counts(ev, ["event_type", "dow"])
        .withColumn("abs_err", F.abs("noise"))
        .orderBy("event_type", "dow")
    )
