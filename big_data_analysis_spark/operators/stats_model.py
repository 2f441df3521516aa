"""Model-evaluation and robust-inference statistics (split out of the
r9-era screening.py catch-all per VERDICT r10 item 6): multiple-testing
control (Benjamini-Hochberg step-up), survival analysis (life-table
hazard, Harrell's C-index), paired designs (paired t, Cramer-von
Mises), shape-constrained fits (PAVA isotonic regression), structural
breaks (Pettitt), regression diagnostics (leverage, Newey-West HAC),
classical decomposition, and knee-point detection (Kneedle).

Shared discipline (stats_ext / stats_np lineage): exact integer cents
and lattice dots, doubled medians/midranks so ties stay integral,
HUGEINT/DECIMAL(38,0) with the VARCHAR double-crossing for anything
past int64, decision rules CROSS-MULTIPLIED into integer comparisons
(no float ever ranks or flags), fixed-order double chains only in
display columns, bounded-domain windows — and every data-proportional
ranking through the api_rank.global_rank_distributed kernel, never a
single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import register_views, table
from ..registry import query
from .stats_ext import _CENTS_SQL, _GRID_SQL, _day_grid
from ..api_rank import global_rank_distributed


_BH_ALPHA_DEN = 20  # alpha = 1/20 = 0.05


@query(
    "agg_bh_fdr",
    oracle=f"""
WITH c AS (
  SELECT user_id, {_CENTS_SQL} AS cents FROM events
),
grid AS (
  SELECT cents, CAST(COUNT(*) AS BIGINT) AS nt FROM c GROUP BY cents
),
w AS (
  SELECT cents, SUM(nt) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
         SUM(nt) OVER () AS n
  FROM grid
),
med AS (
  SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
       + MIN(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS med2
  FROM w
),
u AS (
  SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_u,
         CAST(SUM(CASE WHEN 2 * c.cents < med.med2 THEN 1 ELSE 0 END)
              AS BIGINT) AS b_u
  FROM c CROSS JOIN med GROUP BY c.user_id
),
r AS (
  SELECT *, CAST(b_u AS DOUBLE) / n_u AS p_hat,
         ROW_NUMBER() OVER (ORDER BY CAST(b_u AS DOUBLE) / n_u, user_id)
           AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM u
),
a AS (
  SELECT *, {_BH_ALPHA_DEN} * b_u * m <= rk * n_u AS accepted FROM r
),
k AS (SELECT COALESCE(MAX(CASE WHEN accepted THEN rk END), 0) AS cutoff
      FROM a)
SELECT a.user_id, a.n_u, a.b_u, a.p_hat, CAST(a.rk AS BIGINT) AS rk,
       a.m, a.accepted, a.rk <= k.cutoff AS flagged
FROM a CROSS JOIN k
""",
    category="aggregations",
)
def agg_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up screening over per-user spend
    profiles — the multiple-testing control layer an anomaly pipeline
    needs before paging anyone (screen m users at FDR alpha = 0.05,
    not per-user alpha): each user's score is the exact rational
    share b_u/n_u of their events below the GLOBAL median (the
    doubled-median machinery from agg_mood_median), users are ranked
    by ascending score, and the BH rule p_(k) <= alpha*k/m is
    CROSS-MULTIPLIED into the exact integer comparison 20*b*m <=
    k*n — no float ever decides acceptance; the step-up cutoff K =
    max accepted rank then flags ranks 1..K (that re-admission of
    interior rejections is what makes BH step-UP, pinned by test).
    The ordering key b/n is one correctly-rounded double division,
    identical in both engines, tie-broken by user_id. Scale shape:
    the median lives on the bounded cents value grid; the per-user
    rollup is one key-partitioned aggregation; the m-user ranking
    goes through the distributed-prefix kernel
    ``api_rank.global_rank_distributed``; the cutoff is a 1-row broadcast."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = ev.select("user_id", cents.alias("cents"))
    grid = c.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    wcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = grid.select(
        "cents",
        F.sum("nt").over(wcum).alias("cum"),
        F.sum("nt").over(wall).alias("n"),
    )
    med = w.agg(
        (
            F.min(
                F.when(
                    F.col("cum") >= (F.col("n") + 1).cast("long") / 2,
                    F.col("cents"),
                )
            )
            + F.min(
                F.when(
                    F.col("cum") >= F.col("n") / 2 + 1,
                    F.col("cents"),
                )
            )
        ).alias("med2")
    )
    u = (
        c.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_u"),
            F.sum(
                F.when(2 * F.col("cents") < F.col("med2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("b_u"),
        )
    )
    p_hat = (F.col("b_u").cast("double") / F.col("n_u")).alias("p_hat")
    scored = u.select("user_id", "n_u", "b_u", p_hat)
    ranked = global_rank_distributed(scored, ["p_hat", "user_id"], "rk")
    m = ranked.agg(F.count(F.lit(1)).cast("long").alias("m"))
    a = ranked.crossJoin(F.broadcast(m)).select(
        "user_id",
        "n_u",
        "b_u",
        "p_hat",
        F.col("rk").cast("long").alias("rk"),
        "m",
        (
            _BH_ALPHA_DEN * F.col("b_u") * F.col("m")
            <= F.col("rk") * F.col("n_u")
        ).alias("accepted"),
    )
    k = a.agg(
        F.coalesce(
            F.max(F.when(F.col("accepted"), F.col("rk"))), F.lit(0)
        ).alias("cutoff")
    )
    return a.crossJoin(F.broadcast(k)).select(
        "user_id",
        "n_u",
        "b_u",
        "p_hat",
        "rk",
        "m",
        "accepted",
        (F.col("rk") <= F.col("cutoff")).alias("flagged"),
    )

@query(
    "agg_survival_hazard",
    oracle=f"""
WITH lastd AS (
  SELECT user_id,
         MAX(CAST(date_trunc('day', ts) AS DATE)) AS churn_day
  FROM events GROUP BY user_id
),
d AS (
  SELECT churn_day, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM lastd GROUP BY churn_day
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lastd),
w AS (
  SELECT churn_day, n_churned,
         SUM(n_churned) OVER (ORDER BY churn_day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
  FROM d
)
SELECT CAST(w.churn_day AS TIMESTAMP) AS churn_day, w.n_churned,
       CAST(m.m - (w.cum - w.n_churned) AS BIGINT) AS n_at_risk,
       CAST(w.n_churned * 1000000 // (m.m - (w.cum - w.n_churned))
            AS BIGINT) AS hazard_ppm
FROM w CROSS JOIN m
""",
    category="aggregations",
)
def agg_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier ingredients table — the discrete-time survival /
    churn analysis every retention team runs: a user's churn day is
    their LAST observed event day, the at-risk set on day i is
    everyone who survived past i-1 (n_at_risk = m - users churned
    strictly before i, from one cumulative sum), and the discrete
    hazard d_i/n_i ships as the exact integer d*1e6 // n (the KM
    survival curve is the running product of (1 - hazard) — left to
    the caller because a cumulative PRODUCT is not exactly
    representable; every INPUT to it here is exact). churn_day is
    emitted as TIMESTAMP on both twins (the DATE canonicalization
    trap). Scale shape: one key-partitioned per-user max, one
    bounded-day-domain rollup (~tens of rows), the cumulative sum on
    that bounded grid, and a 1-row broadcast total."""
    ev = table(spark, sf_dir, "events")
    lastd = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("churn_day")
    )
    d = lastd.groupBy("churn_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_churned")
    )
    m = lastd.agg(F.count(F.lit(1)).cast("long").alias("m"))
    w = Window.orderBy("churn_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wd = d.select(
        "churn_day",
        "n_churned",
        F.sum("n_churned").over(w).alias("cum"),
    )
    j = wd.crossJoin(F.broadcast(m))
    at_risk = F.col("m") - (F.col("cum") - F.col("n_churned"))
    return j.select(
        F.col("churn_day").cast("timestamp").alias("churn_day"),
        "n_churned",
        at_risk.cast("long").alias("n_at_risk"),
        F.expr(
            "CAST(n_churned * 1000000 DIV (m - (cum - n_churned)) AS BIGINT)"
        ).alias("hazard_ppm"),
    )

@query(
    "agg_paired_t",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
a AS (SELECT d, x FROM g WHERE event_type = 'click'),
b AS (SELECT d, x FROM g WHERE event_type = 'purchase'),
p AS (
  SELECT a.x - b.x AS diff FROM a JOIN b ON a.d = b.d
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(diff) AS BIGINT) AS s1,
         SUM(CAST(diff AS HUGEINT) * diff) AS s2
  FROM p
)
SELECT n, s1,
       CAST(s1 AS DOUBLE) / n AS mean_d,
       sqrt((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
             - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) AS sd_d,
       (CAST(s1 AS DOUBLE) / n)
         / (sqrt((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / sqrt(n))
         AS t_stat
FROM m
""",
    category="aggregations",
)
def agg_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t test on (click, purchase) daily revenue — the
    dependent-samples member the t family was missing (agg_welch_t is
    the unpaired two-sample, agg_wilcoxon_signed_rank the
    non-parametric twin of THIS test): per-day differences are exact
    integer cents off the bounded day grid, the power sums run exact
    (diff^2 can pass int64 at sf0.1 -> HUGEINT/DECIMAL(38,0), VARCHAR
    route), and t = mean / (sd / sqrt(n)) is one fixed-order double
    chain shared by both engines. Scale: the pairing is a 1:1
    equi-join on the bounded day domain; the only unbounded pass is
    the grid aggregation."""
    g = _day_grid(spark, sf_dir)
    a = g.where(F.col("event_type") == "click").select("d", F.col("x").alias("xa"))
    b = g.where(F.col("event_type") == "purchase").select(
        "d", F.col("x").alias("xb")
    )
    p = a.join(b, "d").select((F.col("xa") - F.col("xb")).alias("diff"))
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("diff").cast("long").alias("s1"),
        F.sum(F.col("diff").cast("decimal(38,0)") * F.col("diff")).alias("s2"),
    )
    n = F.col("n")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("string").cast("double")
    mean_d = s1d / n
    sd_d = F.sqrt((s2d - s1d * F.col("s1") / n) / (n - 1))
    return m.select(
        "n",
        "s1",
        mean_d.alias("mean_d"),
        sd_d.alias("sd_d"),
        (mean_d / (sd_d / F.sqrt(n))).alias("t_stat"),
    )

@query(
    "agg_cramer_von_mises",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (
  SELECT x, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM g WHERE event_type IN ('click', 'purchase')
),
r AS (
  SELECT x, is_a,
         ROW_NUMBER() OVER (ORDER BY x, is_a) AS tie_rk
  FROM s
),
t AS (
  SELECT x, is_a, SUM(is_a) OVER () AS n, SUM(1 - is_a) OVER () AS m,
         MIN(tie_rk) OVER (PARTITION BY x) + MAX(tie_rk) OVER (PARTITION BY x)
           AS r2,
         ROW_NUMBER() OVER (PARTITION BY is_a ORDER BY x) AS i
  FROM r
),
u2 AS (
  SELECT MAX(n) AS n, MAX(m) AS m,
         SUM(CASE WHEN is_a = 1
                  THEN CAST(n AS HUGEINT)
                       * (CAST(r2 - 2 * i AS HUGEINT) * (r2 - 2 * i))
                  ELSE CAST(m AS HUGEINT)
                       * (CAST(r2 - 2 * i AS HUGEINT) * (r2 - 2 * i))
             END) AS u4
  FROM t
)
SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
       CAST(CAST(u4 AS VARCHAR) AS DOUBLE) / 4.0 AS u_stat,
       CAST(CAST(u4 AS VARCHAR) AS DOUBLE) / 4.0
         / (CAST(n AS DOUBLE) * m * (n + m))
         - (4.0 * CAST(n AS DOUBLE) * m - 1) / (6.0 * (n + m)) AS cvm_t
FROM u2
""",
    category="aggregations",
)
def agg_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises test (click vs purchase daily
    revenue) — the integrated-squared-ECDF-distance member that
    completes the EDF family (agg_ks_test is the sup-norm,
    agg_wasserstein_1d the L1): Anderson's rank formulation U =
    n*sum_i (r_i - i)^2 + m*sum_j (s_j - j)^2 with combined-sample
    midranks. Midranks are carried DOUBLED (r2 = min+max combined
    rank of the tie group, 2x) and within-sample indices doubled to
    match — r2 - 2i = 2(r_i - i), so U * 4 = sum of n|m *
    (r2 - 2i)^2 terms
    stays an exact HUGEINT/DECIMAL integer and crosses to double once
    via the VARCHAR route; T = U/(nm(n+m)) - (4nm-1)/(6(n+m)) is the
    standard normalization in one fixed-order chain. Scale: ranking
    and tie rollups run on the value-domain-bounded day grid."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type").isin("click", "purchase")).select(
        "x",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    w_rk = Window.orderBy("x", "is_a")
    r = s.select("x", "is_a", F.row_number().over(w_rk).alias("tie_rk"))
    w_all = Window.orderBy("x", "is_a").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_tie = Window.partitionBy("x")
    w_i = Window.partitionBy("is_a").orderBy("x")
    t = r.select(
        "x",
        "is_a",
        F.sum("is_a").over(w_all).alias("n"),
        F.sum(1 - F.col("is_a")).over(w_all).alias("m"),
        (F.min("tie_rk").over(w_tie) + F.max("tie_rk").over(w_tie)).alias(
            "r2"
        ),
        F.row_number().over(w_i).alias("i"),
    )
    dev = (F.col("r2") - 2 * F.col("i")).cast("decimal(38,0)")
    term = dev * (F.col("r2") - 2 * F.col("i"))
    u2 = t.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(
            F.when(
                F.col("is_a") == 1, F.col("n").cast("decimal(38,0)") * term
            ).otherwise(F.col("m").cast("decimal(38,0)") * term)
        ).alias("u4"),
    )
    n, m = F.col("n"), F.col("m")
    u4d = F.col("u4").cast("string").cast("double")
    return u2.select(
        n.cast("long").alias("n"),
        m.cast("long").alias("m"),
        (u4d / 4.0).alias("u_stat"),
        (
            u4d / 4.0 / (n.cast("double") * m * (n + m))
            - (4.0 * n.cast("double") * m - 1) / (6.0 * (n + m))
        ).alias("cvm_t"),
    )

@query(
    "agg_isotonic",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s0 AS (SELECT d, x FROM g WHERE event_type = 'click'),
idx AS (
  SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS i FROM s0
),
p AS (
  SELECT i, d, x,
         SUM(x) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS ps
  FROM idx
),
pairs AS (
  SELECT a.i AS s, b.i AS u,
         CAST(b.ps - a.ps + a.x AS DOUBLE) / (b.i - a.i + 1) AS seg_avg
  FROM p a JOIN p b ON a.i <= b.i
),
mm AS (
  SELECT t.i AS t, pr.s, MIN(pr.seg_avg) AS mn
  FROM idx t JOIN pairs pr ON pr.s <= t.i AND pr.u >= t.i
  GROUP BY t.i, pr.s
),
iso AS (SELECT t, MAX(mn) AS iso FROM mm GROUP BY t)
SELECT CAST(idx.d AS TIMESTAMP) AS d, idx.x, iso.iso AS iso_fit
FROM idx JOIN iso ON iso.t = idx.i
""",
    category="aggregations",
)
def agg_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of the click
    daily-revenue series — the shape-constrained fit behind
    calibration curves and dose-response monotonization, computed by
    the CLOSED minimax characterization iso_t = max_{s<=t}
    min_{u>=t} mean(x_s..x_u) instead of the sequential PAVA sweep
    (pool-adjacent-violators is an inherently ordered fold; the
    minimax form is pure joins+aggregates, so it distributes — and
    the equivalence to PAVA is a classical theorem, replayed against
    a literal PAVA implementation in the tests). Segment means come
    off one prefix-sum pass (b.ps - a.ps + a.x clears the s-1
    lookup); each is ONE double division evaluated identically in
    both engines, and MIN/MAX over identical double sets are
    order-free. Scale: the (s, t, u) enumeration is O(days^3) on the
    value-domain-bounded grid (~150 rows -> ~3M join rows, bounded
    BY DESIGN like the O(domain^2) stats tier — never on raw
    events); at hypertable scale the same query partitions by
    series key."""
    g = _day_grid(spark, sf_dir)
    s0 = g.where(F.col("event_type") == "click").select("d", "x")
    wi = Window.orderBy("d")
    idx = s0.select("d", "x", F.row_number().over(wi).alias("i"))
    wp = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = idx.select("i", "d", "x", F.sum("x").over(wp).alias("ps"))
    a = p.select(
        F.col("i").alias("s"), F.col("x").alias("xa"), F.col("ps").alias("psa")
    )
    b = p.select(F.col("i").alias("u"), F.col("ps").alias("psb"))
    pairs = a.join(b, F.col("s") <= F.col("u")).select(
        "s",
        "u",
        (
            (F.col("psb") - F.col("psa") + F.col("xa")).cast("double")
            / (F.col("u") - F.col("s") + 1)
        ).alias("seg_avg"),
    )
    t = idx.select(F.col("i").alias("t"))
    mm = (
        t.join(
            pairs,
            (F.col("s") <= F.col("t")) & (F.col("u") >= F.col("t")),
        )
        .groupBy("t", "s")
        .agg(F.min("seg_avg").alias("mn"))
    )
    iso = mm.groupBy("t").agg(F.max("mn").alias("iso_fit"))
    return idx.join(iso, idx["i"] == iso["t"]).select(
        F.col("d").cast("timestamp").alias("d"), "x", "iso_fit"
    )

_SD_PERIOD = 7  # weekly seasonality, centered MA window


@query(
    "agg_seasonal_decompose",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT d, x FROM g WHERE event_type = 'click'),
i AS (SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS rn,
             COUNT(*) OVER () AS n, isodow(d) - 1 AS wd
      FROM s),
tr AS (
  SELECT d, x, rn, wd,
         CASE WHEN rn > {_SD_PERIOD // 2} AND rn <= n - {_SD_PERIOD // 2}
              THEN SUM(x) OVER (ORDER BY rn
                                ROWS BETWEEN {_SD_PERIOD // 2} PRECEDING
                                AND {_SD_PERIOD // 2} FOLLOWING)
         END AS trend7
  FROM i
),
det AS (
  SELECT *, {_SD_PERIOD} * x - trend7 AS det7 FROM tr
  WHERE trend7 IS NOT NULL
),
seas AS (
  SELECT wd, CAST(SUM(det7) AS BIGINT) AS seas_num,
         CAST(COUNT(*) AS BIGINT) AS seas_den
  FROM det GROUP BY wd
)
SELECT CAST(tr.d AS TIMESTAMP) AS d, tr.x,
       CAST(tr.trend7 AS BIGINT) AS trend7_sum,
       CAST({_SD_PERIOD} * tr.x - tr.trend7 AS BIGINT) AS det7,
       seas.seas_num, seas.seas_den,
       CAST(tr.trend7 AS DOUBLE) / {_SD_PERIOD} AS trend,
       CAST(seas.seas_num AS DOUBLE) / seas.seas_den / {_SD_PERIOD}
         AS seasonal,
       tr.x - CAST(tr.trend7 AS DOUBLE) / {_SD_PERIOD}
            - CAST(seas.seas_num AS DOUBLE) / seas.seas_den / {_SD_PERIOD}
         AS residual
FROM tr JOIN seas ON seas.wd = tr.wd
WHERE tr.trend7 IS NOT NULL
""",
    category="aggregations",
)
def agg_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + weekly
    seasonal + residual) of the click daily-revenue series — the
    moving-average decomposition behind every STL-style seasonality
    readout: the trend is a CENTERED 7-day moving average carried as
    its exact integer SUM (trend7 = sum of the window; the /7 happens
    once, in the display column), the detrended series det7 = 7x -
    trend7 stays integer, the weekly seasonal component is the
    per-weekday mean of det7 carried as an exact num/den rational
    pair, and only the three display columns divide. Incomplete
    edge windows are dropped (the centered MA is undefined there).
    Spark weekday() == DuckDB isodow-1 (the engines' dayofweek
    origins disagree — the agg_anova_weekday trap re-pinned). Scale:
    everything runs on the value-domain-bounded day grid; the
    weekday rollup is a 7-key aggregate fanned back by a broadcast
    join."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type") == "click").select("d", "x")
    half = _SD_PERIOD // 2
    wi = Window.orderBy("d")
    wn = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    i = s.select(
        "d",
        "x",
        F.row_number().over(wi).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.weekday("d").alias("wd"),
    )
    wma = Window.orderBy("rn").rowsBetween(-half, half)
    tr = i.select(
        "d",
        "x",
        "wd",
        F.when(
            (F.col("rn") > half) & (F.col("rn") <= F.col("n") - half),
            F.sum("x").over(wma),
        ).alias("trend7"),
    ).where(F.col("trend7").isNotNull())
    det7 = _SD_PERIOD * F.col("x") - F.col("trend7")
    seas = (
        tr.select("wd", det7.alias("det7"))
        .groupBy("wd")
        .agg(
            F.sum("det7").cast("long").alias("seas_num"),
            F.count(F.lit(1)).cast("long").alias("seas_den"),
        )
    )
    j = tr.join(F.broadcast(seas), "wd")
    trend = F.col("trend7").cast("double") / _SD_PERIOD
    seasonal = (
        F.col("seas_num").cast("double") / F.col("seas_den") / _SD_PERIOD
    )
    return j.select(
        F.col("d").cast("timestamp").alias("d"),
        "x",
        F.col("trend7").cast("long").alias("trend7_sum"),
        det7.cast("long").alias("det7"),
        "seas_num",
        "seas_den",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        (F.col("x") - trend - seasonal).alias("residual"),
    )

@query(
    "agg_pettitt",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT d, x FROM g WHERE event_type = 'click'),
i AS (SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS t,
             COUNT(*) OVER () AS n
      FROM s),
v AS (
  SELECT a.t, a.d, a.n,
         CAST(SUM(CASE WHEN a.x > b.x THEN 1
                       WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS vt
  FROM i a JOIN i b ON a.t <> b.t
  GROUP BY a.t, a.d, a.n
),
u AS (
  SELECT t, d, n,
         SUM(vt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ut
  FROM v
),
k AS (
  SELECT MAX(abs(ut)) AS kstat FROM u WHERE t < n
)
SELECT CAST(u.d AS TIMESTAMP) AS d, CAST(u.t AS BIGINT) AS t,
       CAST(u.ut AS BIGINT) AS u_t,
       CAST(k.kstat AS BIGINT) AS k_stat,
       u.t < u.n AND abs(u.ut) = k.kstat
         AND u.t = (SELECT MIN(t) FROM u u2
                    WHERE abs(u2.ut) = k.kstat AND u2.t < u2.n)
         AS is_changepoint
FROM u CROSS JOIN k
""",
    category="aggregations",
)
def agg_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test on the click daily-revenue series —
    the rank-based single-changepoint detector that completes the
    drift tier (win_cusum_changepoint and agg_page_hinkley watch the
    MEAN; Pettitt is the Mann-Whitney-flavored nonparametric twin):
    U_t = sum_{{i<=t, j>t}} sgn(x_i - x_j) via the exact recurrence
    U_t = U_{{t-1}} + V_t with V_t = sum_j sgn(x_t - x_j), so one
    O(days^2) sign rollup on the bounded grid plus one cumulative sum
    replaces the O(days^3) direct enumeration; K = max |U_t| over
    t < n and the changepoint is its first attaining index
    (deterministic tie-break). Everything is exact integers — no
    float enters at any point. Scale: the pair join runs on the
    value-domain-bounded day grid, never on raw events."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type") == "click").select("d", "x")
    wi = Window.orderBy("d")
    wn = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    i = s.select(
        "d",
        "x",
        F.row_number().over(wi).alias("t"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    a = i.select(
        F.col("t").alias("ta"), F.col("d").alias("da"),
        F.col("x").alias("xa"), F.col("n").alias("na"),
    )
    b = i.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    v = (
        a.join(b, F.col("ta") != F.col("tb"))
        .groupBy("ta", "da", "na")
        .agg(
            F.sum(
                F.when(F.col("xa") > F.col("xb"), 1)
                .when(F.col("xa") < F.col("xb"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("vt")
        )
    )
    wu = Window.orderBy("ta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = v.select(
        "ta", "da", "na", F.sum("vt").over(wu).alias("ut")
    )
    k = u.where(F.col("ta") < F.col("na")).agg(
        F.max(F.abs(F.col("ut"))).alias("kstat")
    )
    first = (
        u.crossJoin(F.broadcast(k))
        .where(
            (F.col("ta") < F.col("na")) & (F.abs(F.col("ut")) == F.col("kstat"))
        )
        .agg(F.min("ta").alias("t_first"))
    )
    return (
        u.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(first))
        .select(
            F.col("da").cast("timestamp").alias("d"),
            F.col("ta").cast("long").alias("t"),
            F.col("ut").cast("long").alias("u_t"),
            F.col("kstat").cast("long").alias("k_stat"),
            (
                (F.col("ta") < F.col("na"))
                & (F.abs(F.col("ut")) == F.col("kstat"))
                & (F.col("ta") == F.col("t_first"))
            ).alias("is_changepoint"),
        )
    )

@query(
    "agg_leverage",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT d, x FROM g WHERE event_type = 'click'),
i AS (SELECT d, x AS y, ROW_NUMBER() OVER (ORDER BY d) AS t,
             COUNT(*) OVER () AS n
      FROM s),
m AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM i
)
SELECT CAST(i.d AS TIMESTAMP) AS d, CAST(i.t AS BIGINT) AS t, i.y,
       CAST((m.n * m.n - 1) + 3 * (2 * i.t - m.n - 1) * (2 * i.t - m.n - 1)
            AS BIGINT) AS h_num,
       CAST(m.n * (m.n * m.n - 1) AS BIGINT) AS h_den,
       CAST((m.n * m.n - 1)
            + 3 * (2 * i.t - m.n - 1) * (2 * i.t - m.n - 1) AS DOUBLE)
         / (m.n * (m.n * m.n - 1.0)) AS leverage,
       (m.n * m.n - 1)
         + 3 * (2 * i.t - m.n - 1) * (2 * i.t - m.n - 1)
         > 4 * (m.n * m.n - 1) AS high_leverage,
       (CAST(12 * m.sty AS DOUBLE) - 6.0 * (m.n + 1) * m.sy)
         / (m.n * (CAST(m.n AS DOUBLE) * m.n - 1)) AS slope,
       CAST(m.sy AS DOUBLE) / m.n
         - (CAST(12 * m.sty AS DOUBLE) - 6.0 * (m.n + 1) * m.sy)
           / (m.n * (CAST(m.n AS DOUBLE) * m.n - 1)) * (m.n + 1) / 2.0
         + (CAST(12 * m.sty AS DOUBLE) - 6.0 * (m.n + 1) * m.sy)
           / (m.n * (CAST(m.n AS DOUBLE) * m.n - 1)) * i.t
         AS fitted
FROM i CROSS JOIN m
""",
    category="aggregations",
)
def agg_leverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression leverage diagnostics for the trend fit of click
    daily revenue on time — the hat-matrix diagonal every influence
    audit starts from: for simple regression on the equispaced index
    t = 1..n the leverage has the CLOSED integer form h_t = [(n^2-1)
    + 3(2t-n-1)^2] / [n(n^2-1)] (exact h_num/h_den pair; the >2p/n
    rule-of-thumb flag h > 4/n is the exact integer comparison h_num
    > 4(n^2-1)), the OLS slope over the same index is b = [12*Sty -
    6(n+1)*Sy] / [n(n^2-1)] from two exact integer sums, and the
    fitted line is one fixed-order double chain. agg_linear_
    regression fits y-on-cents; this is its DIAGNOSTIC companion on
    the design the hat matrix is closed-form for. Scale: the grid
    rollup is bounded; the 1-row moment table broadcasts back."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type") == "click").select("d", "x")
    wi = Window.orderBy("d")
    wn = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    i = s.select(
        "d",
        F.col("x").alias("y"),
        F.row_number().over(wi).alias("t"),
        F.count(F.lit(1)).over(wn).alias("n0"),
    )
    m = i.agg(
        F.max("n0").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    j = i.crossJoin(F.broadcast(m))
    n, t, sy, sty = F.col("n"), F.col("t"), F.col("sy"), F.col("sty")
    dev = 2 * t - n - 1
    h_num = (n * n - 1) + 3 * dev * dev
    h_den = n * (n * n - 1)
    slope = (
        (12 * sty).cast("double") - 6.0 * (n + 1) * sy
    ) / (n * (n.cast("double") * n - 1))
    fitted = (
        sy.cast("double") / n
        - slope * (n + 1) / 2.0
        + slope * t
    )
    return j.select(
        F.col("d").cast("timestamp").alias("d"),
        t.cast("long").alias("t"),
        "y",
        h_num.cast("long").alias("h_num"),
        h_den.cast("long").alias("h_den"),
        (h_num.cast("double") / (n * (n * n - 1.0))).alias("leverage"),
        (h_num > 4 * (n * n - 1)).alias("high_leverage"),
        slope.alias("slope"),
        fitted.alias("fitted"),
    )

@query(
    "agg_c_index",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         MAX(CAST(date_trunc('day', ts) AS DATE)) AS churn_day,
         CAST(SUM({_CENTS_SQL}) AS BIGINT) AS spend
  FROM events GROUP BY user_id
),
pairs AS (
  SELECT a.user_id AS ia, b.user_id AS ib,
         CASE WHEN a.spend > b.spend THEN 2
              WHEN a.spend = b.spend THEN 1 ELSE 0 END AS conc2
  FROM u a JOIN u b
    ON a.churn_day < b.churn_day
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_comparable,
         CAST(SUM(conc2) AS BIGINT) AS conc2_sum
  FROM pairs
)
SELECT n_comparable, conc2_sum,
       CAST(conc2_sum AS DOUBLE) / (2 * n_comparable) AS c_index
FROM t
""",
    category="aggregations",
)
def agg_c_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index — the survival-analysis ranking
    metric joining agg_survival_hazard (whose churn clock this
    reuses: a user's event time is their last observed day) to
    pipeline_eval_auc (whose tie convention this doubles the same
    way): over all COMPARABLE pairs (i churns strictly before j),
    count score-concordant pairs — here score = lifetime spend, so
    c > 0.5 means higher spenders survive longer — with ties worth
    1/2, carried as the exact integer conc2 in {{0, 1, 2}} so
    c_index = conc2_sum / (2 * n_comparable) is exact integers + one
    double division. Scale shape: the comparable-pair join is a
    range join on churn_day — at production scale it blocks on the
    bounded day domain (every pair join here follows the
    dedup-blocking discipline); user count is data-proportional, so
    the demo's direct pair join stands in for the day-blocked plan
    the docstrings of dedup_edit_distance describe."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("churn_day"),
        F.sum(cents).cast("long").alias("spend"),
    )
    a = u.select(
        F.col("user_id").alias("ia"),
        F.col("churn_day").alias("da"),
        F.col("spend").alias("sa"),
    )
    b = u.select(
        F.col("user_id").alias("ib"),
        F.col("churn_day").alias("db"),
        F.col("spend").alias("sb"),
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        F.when(F.col("sa") > F.col("sb"), 2)
        .when(F.col("sa") == F.col("sb"), 1)
        .otherwise(0)
        .alias("conc2")
    )
    t = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_comparable"),
        F.sum("conc2").cast("long").alias("conc2_sum"),
    )
    return t.select(
        "n_comparable",
        "conc2_sum",
        (F.col("conc2_sum").cast("double") / (2 * F.col("n_comparable"))).alias(
            "c_index"
        ),
    )

_NW_LAGS = 3  # Bartlett truncation L


@query(
    "agg_newey_west",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT d, x FROM g WHERE event_type = 'click'),
i AS (SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS t FROM s),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM i),
c AS (SELECT i.t, CAST(m.n * i.x - m.sx AS BIGINT) AS e, m.n
      FROM i CROSS JOIN m),
l AS (
  SELECT e, n,
         {", ".join(f"lead(e, {k}) OVER (ORDER BY t) AS e{k}" for k in range(1, _NW_LAGS + 1))}
  FROM c
),
a AS (
  SELECT MAX(n) AS n,
         SUM(CAST(e AS HUGEINT) * e) AS g0,
         {", ".join(f"SUM(CAST(e AS HUGEINT) * e{k}) AS g{k}" for k in range(1, _NW_LAGS + 1))}
  FROM l
)
SELECT CAST(n AS BIGINT) AS n, CAST({_NW_LAGS} AS BIGINT) AS n_lags,
       CAST(CAST(g0 AS VARCHAR) AS DOUBLE)
         / (CAST(n AS DOUBLE) * n * n) AS gamma0,
       (CAST(CAST(g0 AS VARCHAR) AS DOUBLE)
        + {" + ".join(
            f"2.0 * {_NW_LAGS + 1 - k} / {_NW_LAGS + 1}.0"
            f" * CAST(CAST(g{k} AS VARCHAR) AS DOUBLE)"
            for k in range(1, _NW_LAGS + 1))})
         / (CAST(n AS DOUBLE) * n * n) AS nw_variance
FROM a
""",
    category="aggregations",
)
def agg_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC) long-run variance of the click daily-revenue
    series (Bartlett kernel, L = 3) — the autocorrelation-robust
    variance every serially-correlated standard error leans on:
    sigma^2_NW = gamma_0 + 2 sum_l (1 - l/(L+1)) gamma_l. The
    autocovariance numerators come from n-SCALED deviations e_t =
    n*x_t - S (the agg_ljung_box machinery — exact HUGEINT products,
    VARCHAR route), and each Bartlett weight 1 - l/4 enters the one
    fixed-order double chain as the exact rational (4-l)/4 — no
    float accumulates across rows anywhere. Scale: lead windows and
    the rollup on the value-domain-bounded day grid."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type") == "click").select("d", "x")
    m = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    c = s.crossJoin(F.broadcast(m)).select(
        "d",
        (F.col("n") * F.col("x") - F.col("sx")).cast("long").alias("e"),
        "n",
    )
    w = Window.orderBy("d")
    l = c.select(
        "e",
        "n",
        *[F.lead("e", k).over(w).alias(f"e{k}") for k in range(1, _NW_LAGS + 1)],
    )
    edec = F.col("e").cast("decimal(38,0)")
    a = l.agg(
        F.max("n").alias("n"),
        F.sum(edec * F.col("e")).alias("g0"),
        *[
            F.sum(edec * F.col(f"e{k}")).alias(f"g{k}")
            for k in range(1, _NW_LAGS + 1)
        ],
    )
    n = F.col("n")
    n3 = n.cast("double") * n * n
    g0d = F.col("g0").cast("string").cast("double")
    nw = g0d
    for k in range(1, _NW_LAGS + 1):
        nw = nw + 2.0 * (_NW_LAGS + 1 - k) / float(_NW_LAGS + 1) * F.col(
            f"g{k}"
        ).cast("string").cast("double")
    return a.select(
        n.cast("long").alias("n"),
        F.lit(_NW_LAGS).cast("long").alias("n_lags"),
        (g0d / n3).alias("gamma0"),
        (nw / n3).alias("nw_variance"),
    )

@query(
    "agg_kneedle",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (SELECT d, x FROM g WHERE event_type = 'click'),
i AS (SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS t FROM s),
c AS (
  SELECT d, t,
         SUM(x) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM i
),
ends AS (
  SELECT MIN(t) AS t1, MAX(t) AS t2,
         MIN(CASE WHEN t = 1 THEN cum END) AS y1,
         MAX(CASE WHEN t = tmax THEN cum END) AS y2
  FROM (SELECT c.*, MAX(t) OVER () AS tmax FROM c) w
),
cross_ AS (
  SELECT c.d, c.t, CAST(c.cum AS BIGINT) AS cum,
         CAST((ends.t2 - ends.t1) * (c.cum - ends.y1)
              - (ends.y2 - ends.y1) * (c.t - ends.t1) AS BIGINT)
           AS cross_num
  FROM c CROSS JOIN ends
),
best AS (
  SELECT MAX(abs(cross_num)) AS k FROM cross_
  WHERE t NOT IN (SELECT t1 FROM ends) AND t NOT IN (SELECT t2 FROM ends)
),
pick AS (
  SELECT MIN(t) AS t_knee FROM cross_ CROSS JOIN best
  WHERE abs(cross_num) = best.k
)
SELECT CAST(cross_.d AS TIMESTAMP) AS d, CAST(cross_.t AS BIGINT) AS t,
       cross_.cum, cross_.cross_num,
       cross_.t = pick.t_knee AS is_knee
FROM cross_ CROSS JOIN pick
""",
    category="aggregations",
)
def agg_kneedle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee-point detection (the Kneedle idea reduced to its exact
    geometric core) on the cumulative click-revenue curve — the
    diminishing-returns cutoff pickers use for k selection, budget
    cutoffs and CCDF truncation: the knee is the interior point
    maximizing distance to the first-to-last chord, and since that
    distance is |cross product| / |chord| with the chord CONSTANT,
    the argmax is decided entirely by the exact integer cross product
    (t2-t1)(cum-y1) - (y2-y1)(t-t1) — no normalization, no float,
    deterministic first-index tie-break. Scale: one cumulative sum
    and a 1-row endpoint broadcast on the bounded day grid."""
    g = _day_grid(spark, sf_dir)
    s = g.where(F.col("event_type") == "click").select("d", "x")
    wt = Window.orderBy("d")
    wc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    i = s.select("d", "x", F.row_number().over(wt).alias("t"))
    c = i.select("d", "t", F.sum("x").over(wc).alias("cum"))
    ends = c.agg(
        F.min("t").alias("t1"),
        F.max("t").alias("t2"),
        F.min(F.when(F.col("t") == 1, F.col("cum"))).alias("y1"),
        F.max(F.col("cum")).alias("y2_tmp"),
        F.max("t").alias("tmax"),
    ).select(
        "t1",
        "t2",
        "y1",
        F.col("y2_tmp").alias("y2"),
    )
    # y2 = cum at t = tmax == running max of a positive series == max
    cross = c.crossJoin(F.broadcast(ends)).select(
        "d",
        "t",
        F.col("cum").cast("long").alias("cum"),
        (
            (F.col("t2") - F.col("t1")) * (F.col("cum") - F.col("y1"))
            - (F.col("y2") - F.col("y1")) * (F.col("t") - F.col("t1"))
        )
        .cast("long")
        .alias("cross_num"),
        "t1",
        "t2",
    )
    interior = cross.where(
        (F.col("t") != F.col("t1")) & (F.col("t") != F.col("t2"))
    )
    best = interior.agg(F.max(F.abs(F.col("cross_num"))).alias("k"))
    pick = (
        interior.crossJoin(F.broadcast(best))
        .where(F.abs(F.col("cross_num")) == F.col("k"))
        .agg(F.min("t").alias("t_knee"))
    )
    return cross.crossJoin(F.broadcast(pick)).select(
        F.col("d").cast("timestamp").alias("d"),
        F.col("t").cast("long").alias("t"),
        "cum",
        "cross_num",
        (F.col("t") == F.col("t_knee")).alias("is_knee"),
    )


# ------------------------------------------------------------------ #
# CUPED variance reduction (r11 wave 1)
# ------------------------------------------------------------------ #

_CUPED_CUT = "2024-01-16"  # pre/post boundary (events span Jan 2024)

_CUPED_SHARED = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_CUT} 00:00:00'
                       THEN {{cents}} ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT} 00:00:00'
                       THEN {{cents}} ELSE 0 END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_CUT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_post
  FROM events GROUP BY user_id
),
cohort AS (
  SELECT x, y FROM per_user WHERE n_pre > 0 AND n_post > 0
),
moms AS (
  SELECT CAST(COUNT(*) AS {{big}}) AS n,
         CAST(SUM(CAST(x AS {{big}})) AS {{big}}) AS sx,
         CAST(SUM(CAST(y AS {{big}})) AS {{big}}) AS sy,
         CAST(SUM(CAST(x AS {{big}}) * CAST(y AS {{big}})) AS {{big}}) AS sxy,
         CAST(SUM(CAST(x AS {{big}}) * CAST(x AS {{big}})) AS {{big}}) AS sxx,
         CAST(SUM(CAST(y AS {{big}}) * CAST(y AS {{big}})) AS {{big}}) AS syy
  FROM cohort
),
dets AS (
  SELECT CAST(n AS BIGINT) AS n_users,
         n * sxy - sx * sy AS cov_c,
         n * sxx - sx * sx AS varx_c,
         n * syy - sy * sy AS vary_c
  FROM moms
)
SELECT n_users,
       (CAST(CAST(cov_c AS {{vc}}) AS DOUBLE)
          / CAST(CAST(varx_c AS {{vc}}) AS DOUBLE)) AS theta,
       ((CAST(CAST(cov_c AS {{vc}}) AS DOUBLE)
           / CAST(CAST(varx_c AS {{vc}}) AS DOUBLE))
        * (CAST(CAST(cov_c AS {{vc}}) AS DOUBLE)
           / CAST(CAST(vary_c AS {{vc}}) AS DOUBLE))) AS rho2
FROM dets
"""


def _cuped_sql(engine: str) -> str:
    big = "DECIMAL(38,0)" if engine == "spark" else "HUGEINT"
    vc = "STRING" if engine == "spark" else "VARCHAR"
    return _CUPED_SHARED.format(cents=_CENTS_SQL, big=big, vc=vc)


@query("agg_cuped", oracle=_cuped_sql("duck"), category="aggregations")
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Existing Data, Deng et
    al. WSDM'13) — the variance-reduction coefficient an A/B platform
    fits before reading out an experiment: per-user pre-period spend
    X and post-period spend Y (exact cents, pre/post split at
    {cut}), theta* = cov(X,Y)/var(X) over users active in BOTH
    periods, and the achieved variance-reduction fraction rho^2 =
    theta* x cov/var(Y).  All five moment sums run on the integer
    cents lattice in DECIMAL(38,0)/HUGEINT (cross-products of
    per-user cent totals pass int64), determinants n*Sxy - Sx*Sy
    stay exact, and each engine does the identical fixed-order
    double chain on VARCHAR-crossed operands — bit-equal output.

    Execution shape: one user-keyed groupBy (map-side partial aggs)
    then a single 6-column global reduce; nothing data-proportional
    crosses the wire after the first shuffle.  At 100 TB this is the
    canonical two-stage mean/moment plan."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_cuped_sql("spark"))


# ------------------------------------------------------------------ #
# Mantel-Haenszel stratified odds ratio (r11 wave 1)
# ------------------------------------------------------------------ #

_MH_OUT_CENTS = 5000  # outcome: event value >= 50.00
_MH_STRATA = range(1, 8)  # weekday 1..7 (Spark dayofweek convention)


def _mh_sql(engine: str) -> str:
    big = "DECIMAL(38,0)" if engine == "spark" else "HUGEINT"
    vc = "STRING" if engine == "spark" else "VARCHAR"
    dow = (
        "CAST(dayofweek(ts) AS BIGINT)"
        if engine == "spark"
        else "CAST(dayofweek(ts) + 1 AS BIGINT)"
    )
    cells = []
    for k in _MH_STRATA:
        for cell, e, o in (("a", 1, 1), ("b", 1, 0), ("c", 0, 1), ("d", 0, 0)):
            cells.append(
                f"CAST(SUM(CASE WHEN dow = {k} AND exposed = {e} AND"
                f" outcome = {o} THEN 1 ELSE 0 END) AS {big}) AS {cell}{k}"
            )
        cells.append(
            f"CAST(SUM(CASE WHEN dow = {k} THEN 1 ELSE 0 END) AS {big})"
            f" AS n{k}"
        )
    def others(i: int) -> str:
        return " * ".join(f"n{j}" for j in _MH_STRATA if j != i)
    num = " + ".join(f"a{i} * d{i} * {others(i)}" for i in _MH_STRATA)
    den = " + ".join(f"b{i} * c{i} * {others(i)}" for i in _MH_STRATA)
    sa = " + ".join(f"a{i}" for i in _MH_STRATA)
    sb = " + ".join(f"b{i}" for i in _MH_STRATA)
    sc = " + ".join(f"c{i}" for i in _MH_STRATA)
    sd = " + ".join(f"d{i}" for i in _MH_STRATA)
    return f"""
WITH flagged AS (
  SELECT {dow} AS dow,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS exposed,
         CASE WHEN {_CENTS_SQL} >= {_MH_OUT_CENTS} THEN 1 ELSE 0 END
           AS outcome
  FROM events
),
cells AS (
  SELECT {', '.join(cells)}
  FROM flagged
)
SELECT CAST({sa} AS BIGINT) AS n_a,
       CAST({sb} AS BIGINT) AS n_b,
       CAST({sc} AS BIGINT) AS n_c,
       CAST({sd} AS BIGINT) AS n_d,
       (CAST(CAST({num} AS {vc}) AS DOUBLE)
          / CAST(CAST({den} AS {vc}) AS DOUBLE)) AS mh_odds_ratio,
       (CAST(CAST(({sa}) * ({sd}) AS {vc}) AS DOUBLE)
          / CAST(CAST(({sb}) * ({sc}) AS {vc}) AS DOUBLE)) AS crude_odds_ratio
FROM cells
"""


@query("agg_mantel_haenszel", oracle=_mh_sql("duck"), category="aggregations")
def agg_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio across weekday strata — the
    confounder-adjusted effect estimate (does 'purchase' exposure
    predict a high-value outcome once day-of-week is held fixed?)
    next to the crude pooled OR it corrects (Simpson's-paradox
    guard).  The MH estimator Sum(a_i d_i / n_i) / Sum(b_i c_i / n_i)
    is cleared of its per-stratum divisions by multiplying through
    by prod(n_j): both numerator and denominator become EXACT
    DECIMAL(38,0)/HUGEINT integers (7 strata x 8 factors stays under
    38 digits through sf0.1), VARCHAR-crossed to double for the one
    final division — bit-equal cross-engine, no float ever touches a
    cell count.

    Execution shape: one pass over events building 35 conditional
    integer sums map-side (the bounded 7x4+7 pivot — agg_chi_square's
    one-row trick), then pure literal arithmetic on a single row; at
    100 TB the cost is one scan + one 35-column partial-agg reduce."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_mh_sql("spark"))


# ------------------------------------------------------------------ #
# TOST equivalence test (r11 wave 2)
# ------------------------------------------------------------------ #

_TOST_DELTA_CENTS = 500  # equivalence margin: mean difference < $5.00
# dyadic conservative critical value z = 7/4 (alpha ~ 0.04 one-sided):
# z^2 = 49/16 keeps the decision rule exact-integer with one x16 scale
_TOST_Z_NUM2, _TOST_Z_DEN2 = 49, 16

_TOST_SHARED = f"""
WITH flagged AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
         {{cents}} AS cents
  FROM events WHERE event_type IN ('click', 'view')
),
moms AS (
  SELECT
    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS {{big}}) AS n1,
    CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS {{big}}) AS n2,
    CAST(SUM(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS {{big}}) AS s1,
    CAST(SUM(CASE WHEN grp = 2 THEN cents ELSE 0 END) AS {{big}}) AS s2,
    CAST(SUM(CASE WHEN grp = 1 THEN cents * cents ELSE 0 END) AS {{big}})
      AS q1,
    CAST(SUM(CASE WHEN grp = 2 THEN cents * cents ELSE 0 END) AS {{big}})
      AS q2
  FROM flagged
),
dets AS (
  SELECT n1, n2, s1, s2,
         n2 * s1 - n1 * s2 AS dnum,           -- (m1 - m2) * n1 * n2
         n1 * q1 - s1 * s1 AS v1,             -- n1^2 (n1-1) s1^2 / n1 ... exact SSE*n1
         n2 * q2 - s2 * s2 AS v2
  FROM moms
),
rules AS (
  SELECT n1, n2, s1, s2, dnum, v1, v2,
         -- se^2 * (n1 n2)^2 * (n1-1)(n2-1) cleared of all divisions:
         v1 * n2 * n2 * (n2 - 1) + v2 * n1 * n1 * (n1 - 1) AS se2_c,
         (dnum + {_TOST_DELTA_CENTS} * n1 * n2) AS lo_c,
         ({_TOST_DELTA_CENTS} * n1 * n2 - dnum) AS hi_c
  FROM dets
)
SELECT CAST(n1 AS BIGINT) AS n_click,
       CAST(n2 AS BIGINT) AS n_view,
       (CAST(CAST(dnum AS {{vc}}) AS DOUBLE)
          / CAST(CAST(n1 * n2 AS {{vc}}) AS DOUBLE)) AS mean_diff_cents,
       CAST(CASE WHEN lo_c > 0 AND hi_c > 0
             AND {_TOST_Z_DEN2} * lo_c * lo_c * (n1 - 1) * (n2 - 1)
                   > {_TOST_Z_NUM2} * se2_c
             AND {_TOST_Z_DEN2} * hi_c * hi_c * (n1 - 1) * (n2 - 1)
                   > {_TOST_Z_NUM2} * se2_c
            THEN 1 ELSE 0 END AS INT) AS equivalent
FROM rules
"""


def _tost_sql(engine: str) -> str:
    big = "DECIMAL(38,0)" if engine == "spark" else "HUGEINT"
    vc = "STRING" if engine == "spark" else "VARCHAR"
    return _TOST_SHARED.format(cents=_CENTS_SQL, big=big, vc=vc)


@query("agg_tost_equivalence", oracle=_tost_sql("duck"), category="aggregations")
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann's two one-sided tests) —
    the readout that PROVES two variants are the same within a
    margin, instead of merely failing to prove a difference: are
    click-event and view-event mean values equivalent within $5?
    Both one-sided z comparisons run as EXACT integer
    cross-multiplications: the mean difference is carried as the
    lattice integer n2*S1 - n1*S2, the pooled squared standard
    error is cleared of every division into v1*n2^2*(n2-1) +
    v2*n1^2*(n1-1) (DECIMAL(38,0)/HUGEINT), and the critical value
    is the dyadic z = 7/4 (alpha ~ 0.04, conservative), so z^2
    multiplies through as 49/16 and the flag never touches a float.
    The displayed mean difference is the usual one-division
    VARCHAR-crossed double.

    Execution shape: one filtered scan into a 6-column global
    conditional-moment reduce (map-side partials), then literal
    arithmetic on one row — the same 100-TB envelope as agg_cuped."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_tost_sql("spark"))
