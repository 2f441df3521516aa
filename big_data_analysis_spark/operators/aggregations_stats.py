"""Statistical / sketch / robust aggregation tier (split from
aggregations.py per VERDICT r10 item 6's module-size cap): outlier
and association statistics (MAD fences, OLS regression, KS test,
Mann-Whitney U, bootstrap CI, Spearman, Welch t), time-weighted and
decayed rollups (TWA, rolling DAU, exponential decay, Holt linear),
frequency/cardinality sketches with exact twins (mergeable HLL,
KLL quantiles, theta set-ops, count-min, approx top-k), Pareto
deciles, diversity indices, dynamic session windows, grouping-id
lattices and transposition.

Same exactness discipline as aggregations.py / stats_ext.py: exact
integer cents everywhere, doubled medians so ties stay integral,
DECIMAL(38,0)/HUGEINT past int64, one final double division per
output column; every data-proportional rank rides the
api_rank.global_rank_distributed kernel, never a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exact import davg, dsum
from .. import api
from ..io import table
from ..registry import query


@query(
    "agg_mad_outliers",
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
med AS (
  SELECT event_type, median(cents) AS med FROM c GROUP BY event_type
),
dev AS (
  SELECT c.event_type, c.cents, m.med,
         ABS(CAST(c.cents AS DOUBLE) - m.med) AS adev
  FROM c JOIN med m ON m.event_type = c.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(d.med / 100.0 AS DOUBLE) AS median_value,
       CAST(m.mad / 100.0 AS DOUBLE) AS mad_value,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CASE WHEN d.adev > 3 * m.mad THEN 1 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, d.med, m.mad
""",
    category="aggregations",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    z-score alternative that one fat-tailed spike cannot poison:
    per event type, median value, MAD, and the count of events whose
    absolute deviation exceeds 3*MAD. Both medians run over exact
    integer cents (even-count interpolation halves are exact doubles
    in both engines), deviations are exact differences, and the
    3*MAD threshold compares exactly — so the whole robust pipeline
    is oracle-exact with no tolerance anywhere.

    Shape: two grouped medians (the exact small-group tier — the
    100 TB swap-in is approx_percentile, as with
    agg_equidepth_histogram) with broadcast joins back; one shuffle
    of the fact per median level."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = ev.select("event_type", cents.alias("cents"))
    med = c.groupBy("event_type").agg(F.median("cents").alias("med"))
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("cents").cast("double") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            (F.col("med") / 100.0).alias("median_value"),
            (F.col("mad") / 100.0).alias("mad_value"),
            "n_events",
            "n_outliers",
        )
    )


@query(
    "agg_linear_regression",
    oracle="""
WITH t AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS x,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM t GROUP BY event_type
)
SELECT event_type, n_events,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_cents_per_sec,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0
         AS intercept_value,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m
""",
    category="aggregations",
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time — the "is this
    metric drifting" regression every dashboard fits: slope,
    intercept and R^2 from the closed-form normal equations over
    int64-exact power sums (x = whole seconds since 2024-01-01 so
    x*x and x*y sums stay far under 2^53 on the one-month fixture;
    the epoch re-basing is the documented requirement at longer
    ranges), with the identical expression shape in both engines —
    bit-reproducible like agg_corr/agg_autocorr. One aggregation,
    map-side combined."""
    ev = table(spark, sf_dir, "events")
    # integer floor-division on BOTH sides: a double divide + cast
    # truncates in Spark but rounds in DuckDB — off-by-one-second
    # x values shift every sum
    x = (F.unix_micros(F.col("ts")) - F.lit(1_704_067_200_000_000)) / F.lit(1_000_000)
    x = F.floor(x).cast("long")
    y = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.count(F.lit(1)).alias("n_events"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "event_type",
        "n_events",
        slope.alias("slope_cents_per_sec"),
        ((sy - slope * sx) / n / 100.0).alias("intercept_value"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


@query(
    "agg_ks_test",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 'A' ELSE 'B' END AS arm,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
per_v AS (
  SELECT cents,
         CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS na,
         CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS nb
  FROM t GROUP BY cents
),
cum AS (
  SELECT cents,
         CAST(SUM(na) OVER w AS BIGINT) AS ca,
         CAST(SUM(nb) OVER w AS BIGINT) AS cb,
         CAST((SELECT SUM(na) FROM per_v) AS BIGINT) AS tot_a,
         CAST((SELECT SUM(nb) FROM per_v) AS BIGINT) AS tot_b
  FROM per_v
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT tot_a AS n_a, tot_b AS n_b,
       CAST(MAX(ABS(ca * tot_b - cb * tot_a)) AS BIGINT) AS d_numerator,
       CAST(MAX(ABS(ca * tot_b - cb * tot_a)) AS DOUBLE)
         / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)) AS ks_d
FROM cum
GROUP BY tot_a, tot_b
""",
    category="aggregations",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the purchase-
    value distributions of the two hash arms — computed EXACTLY:
    D = max_v |F_A(v) - F_B(v)| is evaluated as the integer
    cross-multiplication max |cumA*N_B - cumB*N_A| over the distinct
    value grid, with ONE double division at the end. The supremum of
    a difference of step functions needs no epsilon and no float
    compare — the classically "continuous" test is exact rational
    arithmetic on a discrete sample, so the oracle matches
    bit-for-bit. Shape: per-value counts (one shuffle), a global
    ordered running sum over the distinct-value grid (small), one
    max. The unpartitioned window is safe because the grid is
    VALUE-DOMAIN bounded (cents of a price-like measure), not
    data-proportional — enforced by
    tests/test_quality.py::test_value_grid_windows_stay_domain_bounded;
    a high-cardinality measure must route through
    api_rank.global_rank_distributed instead."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    arm = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296 < 2147483648, "A"
    ).otherwise("B")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(arm.alias("arm"), cents.alias("cents"))
    per_v = t.groupBy("cents").agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("na"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("nb"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tots = per_v.agg(
        F.sum("na").alias("tot_a"), F.sum("nb").alias("tot_b")
    )
    cum = per_v.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    ).crossJoin(F.broadcast(tots))
    return (
        cum.groupBy("tot_a", "tot_b")
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("tot_b") - F.col("cb") * F.col("tot_a"))
            ).alias("d_numerator")
        )
        .select(
            F.col("tot_a").alias("n_a"),
            F.col("tot_b").alias("n_b"),
            "d_numerator",
            (
                F.col("d_numerator").cast("double")
                / (F.col("tot_a").cast("double") * F.col("tot_b").cast("double"))
            ).alias("ks_d"),
        )
    )


@query(
    "agg_mann_whitney",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 'A' ELSE 'B' END AS arm,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
per_v AS (
  SELECT cents,
         CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS na,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM t GROUP BY cents
),
rk AS (
  -- midrank of a tie group, doubled to stay integer:
  -- 2*rank = 2*(#values strictly below) + (#tied + 1)
  SELECT na, nt,
         2 * (CAST(COALESCE(SUM(nt) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
           + nt + 1 AS rank2
  FROM per_v
),
m AS (
  SELECT CAST(SUM(na * rank2) AS BIGINT) AS r2a,
         CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(nt - na) AS BIGINT) AS n_b
  FROM rk
)
SELECT n_a, n_b,
       CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
       CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
       CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS auc
FROM m
""",
    category="aggregations",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the two hash arms' purchase values —
    exact, like agg_ks_test: tie midranks are kept INTEGER by
    doubling (2*rank = 2*below + tied + 1), so U_A = R_A - n_A(n_A+1)/2
    is carried as the integer 2U until two final divisions. Also
    emits U/(n_A*n_B), which IS the AUC / probability-of-superiority
    estimate P(X_A > X_B) + P(tie)/2 — the effect size readers
    actually want from a rank test. Same shape as the KS kernel:
    per-value counts, one ordered pass over the distinct-value grid,
    one rollup — grid boundedness enforced by the same guard test
    (test_value_grid_windows_stay_domain_bounded)."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    arm_a = (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296 < 2147483648
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(arm_a.alias("is_a"), cents.alias("cents"))
    per_v = t.groupBy("cents").agg(
        F.count(F.when(F.col("is_a"), 1)).alias("na"),
        F.count(F.lit(1)).alias("nt"),
    )
    w_prev = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    rk = per_v.select(
        "na",
        "nt",
        (
            2 * F.coalesce(F.sum("nt").over(w_prev), F.lit(0))
            + F.col("nt")
            + 1
        ).alias("rank2"),
    )
    m = rk.agg(
        F.sum(F.col("na") * F.col("rank2")).alias("r2a"),
        F.sum("na").alias("n_a"),
        F.sum(F.col("nt") - F.col("na")).alias("n_b"),
    )
    u2 = F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)
    return m.select(
        "n_a",
        "n_b",
        u2.alias("u2_a"),
        (u2.cast("double") / 2.0).alias("u_a"),
        (
            u2.cast("double")
            / 2.0
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("auc"),
    )


# Deterministic bootstrap parameters: B replicates, avalanche-hash
# resampling so both engines draw the IDENTICAL resample indices.
# The mixer is two multiply-xorshift rounds in 32-bit space (Mueller's
# 32-bit finalizer, constant 0x45d9f3b) — a plain LCG/Weyl progression
# here makes per-replicate draw counts near-uniform instead of
# multinomial, which under-disperses replicate means and voids the
# CI's bootstrap coverage.  All intermediates stay below 2^58, so the
# arithmetic is exact signed-int64 in both engines (no ANSI overflow).
_BOOT_B = 200
_BOOT_MIX = 0x45D9F3B
_BOOT_MOD = 1 << 32


@query(
    "agg_bootstrap_ci",
    oracle=f"""
WITH v AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         row_number() OVER (ORDER BY event_id) - 1 AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase'
),
d0 AS (
  SELECT b.b, v0.n, ((b.b * v0.n + s.i) % {_BOOT_MOD}) AS h0
  FROM (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
  CROSS JOIN (SELECT MAX(n) AS n FROM v) v0
  CROSS JOIN (SELECT i FROM v) s
),
d1 AS (
  SELECT b, n, ((xor(h0 >> 16, h0) * {_BOOT_MIX}) % {_BOOT_MOD}) AS h1 FROM d0
),
d2 AS (
  SELECT b, n, ((xor(h1 >> 16, h1) * {_BOOT_MIX}) % {_BOOT_MOD}) AS h2 FROM d1
),
draws AS (
  SELECT b, (xor(h2 >> 16, h2) % n) AS j FROM d2
),
reps AS (
  SELECT d.b,
         CAST(SUM(v.cents) AS DOUBLE) / COUNT(*) / 100.0 AS mean_rep
  FROM draws d JOIN v ON v.i = d.j
  GROUP BY d.b
),
ranked AS (
  SELECT mean_rep, row_number() OVER (ORDER BY mean_rep, b) AS r FROM reps
)
SELECT
  (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 FROM v) AS sample_mean,
  (SELECT mean_rep FROM ranked WHERE r = {int(_BOOT_B * 0.025)}) AS ci_lo,
  (SELECT mean_rep FROM ranked WHERE r = {int(_BOOT_B * 0.975)}) AS ci_hi,
  CAST({_BOOT_B} AS BIGINT) AS n_replicates
""",
    category="aggregations",
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence interval for the mean purchase value
    — with a DETERMINISTIC resampler: replicate b's i-th draw is
    mix32(b*n + i) % n where mix32 is a two-round multiply-xorshift
    avalanche finalizer, pure integer arithmetic both engines
    reproduce exactly, replacing RNG state with a hash (the same
    trick as pipeline_train_split — resampling becomes a pure
    function, so the CI is auditable and the oracle matches
    bit-for-bit).  The avalanche matters statistically, not just
    cryptographically: an LCG/Weyl progression visits indices in an
    arithmetic sweep, giving each replicate near-uniform draw counts
    (variance ~0 instead of the multinomial's ~1) and replicate means
    that under-disperse by 2-10x on skewed data; the mixed hash makes
    per-replicate draw counts empirically multinomial
    (test_bootstrap_draw_counts_multinomial). Replicate means are exact-decimal sums with one
    division; the CI bounds are DISCRETE order statistics of the
    200 replicate means (rank 5 and 195 — no quantile interpolation,
    hence no float-combination divergence).

    Shape: one global index assignment over the filtered sample
    (via the distributed-prefix kernel
    ``api_rank.global_rank_distributed``), a B x n draw table joined
    back on index (the resample fan-out — at 100 TB you bootstrap
    per-partition block sums, the classic 'bag of little bootstraps'
    refinement), per-replicate rollup, and a rank over B rows."""
    from ..api_rank import global_rank_distributed

    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    v = global_rank_distributed(
        ev.select(cents.alias("cents"), "event_id"), ["event_id"], "rk"
    ).select(
        "cents", (F.col("rk") - 1).alias("i")
    ).crossJoin(
        F.broadcast(
            ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    ).persist()
    h0 = (F.col("b") * F.col("n") + F.col("i")) % _BOOT_MOD
    h1 = (F.shiftright(h0, 16).bitwiseXOR(h0) * _BOOT_MIX) % _BOOT_MOD
    h2 = (F.shiftright(h1, 16).bitwiseXOR(h1) * _BOOT_MIX) % _BOOT_MOD
    mixed = F.shiftright(h2, 16).bitwiseXOR(h2)
    draws = v.select("i", "n").select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "i",
        "n",
    ).select(
        "b",
        (mixed % F.col("n")).alias("j"),
    )
    reps = (
        draws.join(v.select(F.col("i").alias("j"), "cents"), "j")
        .groupBy("b")
        .agg(
            (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
                "mean_rep"
            )
        )
    )
    ranked = reps.select(
        "mean_rep",
        F.row_number().over(Window.orderBy("mean_rep", "b")).alias("r"),
    )
    sample_mean = v.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
            "sample_mean"
        )
    )
    lo = ranked.where(F.col("r") == int(_BOOT_B * 0.025)).select(
        F.col("mean_rep").alias("ci_lo")
    )
    hi = ranked.where(F.col("r") == int(_BOOT_B * 0.975)).select(
        F.col("mean_rep").alias("ci_hi")
    )
    out = (
        sample_mean.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "sample_mean",
            "ci_lo",
            "ci_hi",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        )
    )
    result = out.localCheckpoint(eager=True)
    v.unpersist()
    return result


@query(
    "agg_spearman",
    oracle="""
WITH t AS (
  SELECT c.c_custkey,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
),
rx AS (
  SELECT bal,
         2 * (CAST(COALESCE(SUM(cnt) OVER (ORDER BY bal
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
           + cnt + 1 AS rank2
  FROM (SELECT bal, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY bal)
),
ry AS (
  SELECT n_orders,
         2 * (CAST(COALESCE(SUM(cnt) OVER (ORDER BY n_orders
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
           + cnt + 1 AS rank2
  FROM (SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY n_orders)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx.rank2) AS BIGINT) AS sx,
         CAST(SUM(ry.rank2) AS BIGINT) AS sy,
         CAST(SUM(rx.rank2 * ry.rank2) AS BIGINT) AS sxy,
         CAST(SUM(rx.rank2 * rx.rank2) AS BIGINT) AS sxx,
         CAST(SUM(ry.rank2 * ry.rank2) AS BIGINT) AS syy
  FROM t JOIN rx ON rx.bal = t.bal JOIN ry ON ry.n_orders = t.n_orders
)
SELECT n,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
FROM s
""",
    category="aggregations",
)
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their order count — Pearson over TIE-AWARE MIDRANKS kept
    integer by doubling (the agg_mann_whitney trick): every sum in
    the correlation is then exact int64 (n*2rank^2 <= 2^58 at any
    tested SF) and the statistic needs exactly two IEEE sqrts and one
    division at the end — bit-reproducible, no rank() window over a
    nondeterministic tie order anywhere.

    Shape: one join+agg to build (bal, n_orders) per customer, two
    per-VALUE rank grids (running sums over distinct values, tiny),
    two equi-joins back, one global rollup. The bal grid is capped at
    1.1M rows by the fixed acctbal domain [-999.99, 9999.99] and the
    n_orders grid by the per-customer order-count range — both
    enforced by test_value_grid_windows_stay_domain_bounded."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    t = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("bal"),
            "n_orders",
        )
    )

    def rank2_grid(df: DataFrame, col: str) -> DataFrame:
        per_v = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w_prev = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return per_v.select(
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w_prev), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias("rank2"),
        )

    rx = rank2_grid(t, "bal").withColumnRenamed("rank2", "r2x")
    ry = rank2_grid(t, "n_orders").withColumnRenamed("rank2", "r2y")
    s = (
        t.join(rx, "bal")
        .join(ry, "n_orders")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r2x").alias("sx"),
            F.sum("r2y").alias("sy"),
            F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
            F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
            F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        )
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "n",
        cov.alias("cov_num"),
        (cov.cast("double") / (F.sqrt(vx) * F.sqrt(vy))).alias("spearman_rho"),
    )


@query(
    "agg_welch_t",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 'A' ELSE 'B' END AS arm,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT
    CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS na,
    CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN arm = 'A' THEN cents ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN arm = 'B' THEN cents ELSE 0 END) AS BIGINT) AS sb,
    CAST(SUM(CASE WHEN arm = 'A' THEN cents * cents ELSE 0 END) AS BIGINT) AS qa,
    CAST(SUM(CASE WHEN arm = 'B' THEN cents * cents ELSE 0 END) AS BIGINT) AS qb
  FROM t
),
d AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0 AS mean_a,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0 AS mean_b,
         (CAST(qa * na - sa * sa AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
           / CAST(na AS DOUBLE) / 10000.0 AS sea,
         (CAST(qb * nb - sb * sb AS DOUBLE)
            / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))
           / CAST(nb AS DOUBLE) / 10000.0 AS seb
  FROM m
)
SELECT na AS n_a, nb AS n_b, mean_a, mean_b,
       (mean_a - mean_b) / sqrt(sea + seb) AS t_stat,
       ((sea + seb) * (sea + seb))
         / (sea * sea / CAST(na - 1 AS DOUBLE)
            + seb * seb / CAST(nb - 1 AS DOUBLE)) AS welch_df
FROM d
""",
    category="aggregations",
)
def agg_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between the hash arms' purchase
    values — the workhorse A/B significance test. Moments are exact
    int64 (count / sum / sum-of-squares of 2-decimal cents; qa*na <=
    2^60 at the tested SFs), and the statistic plus the
    Welch-Satterthwaite df are derived with an IDENTICAL fixed
    sequence of IEEE double ops in both engines (each division,
    multiply and sqrt correctly rounded -> bit-equal). Shape: ONE
    conditional-aggregate pass, no shuffle beyond the 1-row rollup."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    arm_a = (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296 < 2147483648
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(arm_a.alias("is_a"), cents.alias("cents"))
    m = t.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("na"),
        F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        F.sum(F.when(F.col("is_a"), F.col("cents")).otherwise(0)).alias("sa"),
        F.sum(F.when(~F.col("is_a"), F.col("cents")).otherwise(0)).alias("sb"),
        F.sum(
            F.when(F.col("is_a"), F.col("cents") * F.col("cents")).otherwise(0)
        ).alias("qa"),
        F.sum(
            F.when(~F.col("is_a"), F.col("cents") * F.col("cents")).otherwise(0)
        ).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    mean_a = F.col("sa").cast("double") / na.cast("double") / 100.0
    mean_b = F.col("sb").cast("double") / nb.cast("double") / 100.0
    sea = (
        (F.col("qa") * na - F.col("sa") * F.col("sa")).cast("double")
        / (na.cast("double") * (na - 1).cast("double"))
    ) / na.cast("double") / 10000.0
    seb = (
        (F.col("qb") * nb - F.col("sb") * F.col("sb")).cast("double")
        / (nb.cast("double") * (nb - 1).cast("double"))
    ) / nb.cast("double") / 10000.0
    d = m.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        sea.alias("sea"),
        seb.alias("seb"),
    )
    se2 = F.col("sea") + F.col("seb")
    return d.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)).alias("t_stat"),
        (
            (se2 * se2)
            / (
                F.col("sea") * F.col("sea") / (F.col("n_a") - 1).cast("double")
                + F.col("seb") * F.col("seb") / (F.col("n_b") - 1).cast("double")
            )
        ).alias("welch_df"),
    )


@query(
    "agg_time_weighted_avg",
    oracle="""
WITH s AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(epoch_us(ts) AS BIGINT) AS us,
         lead(CAST(epoch_us(ts) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
  FROM events WHERE event_type = 'purchase'
),
agg AS (
  SELECT user_id,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * (next_us - us)) AS DECIMAL(38,0))
           AS num,
         CAST(SUM(next_us - us) AS BIGINT) AS den,
         CAST(COUNT(*) AS BIGINT) AS n_samples
  FROM s WHERE next_us IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, CAST(num AS DOUBLE) AS twa_num, den AS span_us,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS time_weighted_avg,
       n_samples
FROM agg WHERE den > 0
""",
    category="aggregations",
)
def agg_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average purchase value per user over irregular
    samples (the TimescaleDB time_weight idiom): each observation is
    weighted by how long it was the CURRENT value (LOCF hold until
    the next sample; the open-ended last sample carries no weight).
    Plain AVG over-weights bursts — for billing/telemetry the
    time-weighted mean is the correct statistic.

    Exactness & scale: the numerator is SUM(cents x hold-micros) in
    DECIMAL(38,0) — int64 would overflow once per-user spans exceed
    ~(2^63 / max_cents) microseconds (~3 years at $1000 values), the
    denominator is the exact total covered span, and the single
    double division happens once per user. DECIMAL stays internal:
    the final twa_num is cast to DOUBLE on both twins because the
    driver comparator hashes Spark decimal.Decimal objects unequal
    to DuckDB's float64 rendering of DECIMAL(38,0). One shuffle on user_id
    (window + agg share it), users with <2 samples drop (zero
    covered span)."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    agg = s.groupBy("user_id").agg(
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * (F.col("next_us") - F.col("us"))
        )
        .cast("decimal(38,0)")
        .alias("twa_num"),
        F.sum(F.col("next_us") - F.col("us")).alias("span_us"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return agg.where(F.col("span_us") > 0).select(
        "user_id",
        F.col("twa_num").cast("double").alias("twa_num"),
        "span_us",
        (
            F.col("twa_num").cast("double") / F.col("span_us").cast("double") / 100.0
        ).alias("time_weighted_avg"),
        "n_samples",
    )


@query(
    "agg_rolling_dau",
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
),
du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events
)
SELECT d.day,
       CAST(COUNT(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS BIGINT)
         AS dau,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau_7d
FROM days d
JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
""",
    category="aggregations",
)
def agg_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day distinct users (WAU) per day — the
    engagement metric COUNT(DISTINCT) OVER a RANGE frame cannot
    express in Spark (distinct window aggregates are unsupported):
    instead the (day, user) distinct pairs join to the bounded
    day spine over the 7-day band, and one grouped distinct-count
    does the rest. The spine is tiny (one row per day) so the band
    join fans each (day,user) pair out at most 7x — at any corpus
    scale the cost is 7x the DISTINCT pair table, never n^2. DuckDB
    twin computes the same via the identical band join."""
    ev = table(spark, sf_dir, "events")
    from .. import api

    return (
        api.rolling_distinct(ev, "ts", "user_id", window_days=7)
        .withColumnRenamed("n_current", "dau")
        .withColumnRenamed("n_7d", "wau_7d")
    )


@query(
    "agg_grouping_id",
    oracle="""
SELECT COALESCE(o_orderpriority, '<all>') AS priority,
       COALESCE(o_orderstatus, '<all>') AS status,
       GROUPING(o_orderpriority) AS g_priority,
       GROUPING(o_orderstatus) AS g_status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
    category="aggregations",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicator columns over a rollup — the ANSI way to
    tell a real NULL group from a subtotal row (agg_rollup
    disambiguates by COALESCE alone, which would conflate them if
    the key column were nullable). grouping()=1 marks the dimension
    as rolled away on that row."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").alias("g_priority"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            "g_priority",
            "g_status",
            "n",
        )
    )


@query("agg_hll_mergeable", oracle=None, category="aggregations")
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count SKETCHES (Apache DataSketches HLL via
    Spark's first-class hll_* aggregates) — the constant-state
    distributed alternative to COUNT(DISTINCT) that production
    rollups actually persist: per-month partial sketches are built
    independently, OR-merged with hll_union_agg, and the merged
    estimate must equal the flat single-pass estimate EXACTLY (HLL
    union is lossless over sketch registers — the property that makes
    per-partition/per-day partials composable at 100 TB without ever
    reshuffling raw ids; the exact-integer twin is agg_bitmap_rollup).

    Rows-only (DuckDB cannot reproduce DataSketches registers); the
    mergeability equality and the |est-exact|/exact < 5% calibration
    are asserted in tests/test_quality.py. Emits one row of
    deterministic scalars."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m")).agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("n_month"),
    )
    merged = monthly.agg(
        F.round(F.hll_sketch_estimate(F.hll_union_agg("sk")), 6).alias("est_merged"),
        F.count(F.lit(1)).alias("n_partials"),
        F.sum("n_month").alias("sum_monthly_distinct"),
    )
    flat = o.agg(
        F.round(F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")), 6).alias(
            "est_flat"
        ),
        F.countDistinct("o_custkey").alias("n_exact"),
    )
    return merged.crossJoin(F.broadcast(flat)).select(
        "est_merged", "est_flat", "n_exact", "n_partials", "sum_monthly_distinct"
    )


@query(
    "agg_session_window_dynamic",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         ts + CASE event_type WHEN 'click' THEN INTERVAL 30 MINUTE
                              WHEN 'purchase' THEN INTERVAL 60 MINUTE
                              ELSE INTERVAL 15 MINUTE END AS e
  FROM events
),
m AS (
  SELECT user_id, ts, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_prev
  FROM g
),
f AS (
  SELECT user_id, ts, e,
         CASE WHEN max_prev IS NULL OR ts >= max_prev THEN 1 ELSE 0 END AS is_new
  FROM m
),
s AS (
  SELECT user_id, ts, e,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM f
)
SELECT user_id, MIN(ts) AS session_start, MAX(e) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
""",
    category="aggregations",
)
def agg_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows — Spark's session_window with a
    per-event gap expression (clicks keep a session alive 30 min,
    purchases 60, everything else 15): the engagement-dependent
    sessionization real funnels use, where a conversion event extends
    the session longer than a passive view. Windows [ts, ts+gap)
    merge on overlap; the oracle re-derives the merge independently
    via the running-max-end formulation (new session iff ts >= max of
    all previous ends — tie-order-insensitive, unlike the naive
    lag-based split, which is only correct for constant gaps).

    Same scale shape as the fixed-gap native query: one shuffle on
    user_id, per-key ordered merge inside the session-window
    aggregation."""
    e = table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("30 minutes"))
        .when(F.col("event_type") == "purchase", F.lit("60 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    return (
        e.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query("agg_approx_top_k", oracle=None, category="aggregations")
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k heavy hitters — the bounded-state sketch for "top
    values of a high-cardinality column" (frequent-items / Misra-
    Gries family): constant memory per partition, mergeable partials,
    one pass. Emits the top-3 event types with estimated counts,
    exploded to scalar rows. Rows-only (sketch); the exactness
    property under the maxItemsTracked bound — estimates EQUAL the
    true counts when the tracked-item budget exceeds the distinct
    count — is asserted in tests/test_quality.py."""
    e = table(spark, sf_dir, "events")
    e.select("event_type").createOrReplaceTempView("events_for_topk")
    return spark.sql(
        """
        SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS est_n
        FROM (
          SELECT explode(approx_top_k(event_type, 3)) AS t
          FROM events_for_topk
        )
        """
    )


@query(
    "agg_diversity_simpson",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_i
  FROM documents GROUP BY source, lang
),
s AS (
  SELECT source,
         CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(n_i * n_i) AS BIGINT) AS sum_sq,
         CAST(COUNT(*) AS BIGINT) AS n_langs
  FROM c GROUP BY source
)
SELECT source, n, n_langs, sum_sq,
       1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         AS simpson_diversity
FROM s
""",
    category="aggregations",
)
def agg_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson diversity index per corpus source — 1 − Σp_i²,
    the no-logarithm diversity metric (companion of agg_hhi, which is
    Σp_i² itself over activity): the probability two random docs from
    a source differ in language, the mix-health check of a corpus
    recipe. All mass terms exact integers; floats enter only in the
    final fixed-order divide/subtract, so both engines agree
    bit-for-bit. Two bounded hash-aggs (domain: sources × langs)."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_i"))
    s = c.groupBy("source").agg(
        F.sum("n_i").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return s.select(
        "source",
        "n",
        "n_langs",
        "sum_sq",
        (
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        ).alias("simpson_diversity"),
    )


@query(
    "agg_decayed_value",
    oracle="""
WITH d AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') AS age
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents * (CAST(1 AS BIGINT) << (31 - LEAST(31, GREATEST(1, age)))))
            AS BIGINT) AS decayed_num,
       CAST(SUM(cents * (CAST(1 AS BIGINT) << (31 - LEAST(31, GREATEST(1, age)))))
            AS DOUBLE) / 214748364800.0 AS decayed_score
FROM d
GROUP BY user_id
""",
    category="aggregations",
)
def agg_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED engagement score — the recency-weighted feature a
    feature store maintains per user (halving per day of age):
    score = Σ value·2^(−age_days). Computed as EXACT dyadic
    rationals: each term is cents·2^(31−age) in int64 (value ≤
    2^15 cents, exponent ≤ 30, row term ≤ 2^45 — a billion-row user
    still fits int64), summed exactly, with ONE double division by
    the common denominator 2^31·100 at the end. The weight 2^e is an
    exactly-representable power of two (DuckDB shifts; Spark's
    pow(2, e) is exact for integer e ≤ 30 and is cast straight back
    to int64), so there is no float-summation order dependence —
    bit-identical across engines and partitionings.

    One hash-agg on user_id; the decay weight is map-side
    arithmetic."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    age = F.datediff(F.lit("2024-02-01").cast("date"), F.col("ts").cast("date"))
    expo = 31 - F.least(F.lit(31), F.greatest(F.lit(1), age))
    term = cents * F.expr("CAST(1 AS BIGINT)") * F.pow(F.lit(2.0), expo).cast("long")
    d = e.select("user_id", term.alias("term"))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("term").alias("decayed_num"),
        (F.sum("term").cast("double") / F.lit(214748364800.0)).alias(
            "decayed_score"
        ),
    )


@query(
    "agg_pareto_deciles",
    oracle="""
WITH d AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM orders
),
s AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(p) AS DECIMAL(28,2)) AS rev
  FROM d GROUP BY decile
),
t AS (SELECT CAST(SUM(p) AS DECIMAL(28,2)) AS total FROM d)
SELECT decile, n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(SUM(CAST(rev AS DOUBLE)) OVER (ORDER BY decile) AS DOUBLE)
         / CAST(total AS DOUBLE) AS cum_share
FROM s, t
""",
    category="aggregations",
)
def agg_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE CONCENTRATION (Pareto) curve — deciles of orders by
    value with each decile's exact-decimal revenue, share, and
    cumulative share (the 80/20 readout next to agg_gini/agg_hhi,
    which compress the same curve to one number). Decile assignment
    is a total order (price desc, orderkey tie-break); revenue sums
    are exact DECIMAL before the one cast-to-double per output
    column; the cumulative share sums 10 doubles in a fixed order.

    Decile assignment runs through the distributed-prefix kernel
    ``api_rank.ntile_distributed``; the 10-row rollup afterwards is
    trivially bounded."""
    from ..api_rank import ntile_distributed

    o = table(spark, sf_dir, "orders")
    d = ntile_distributed(
        o.select("o_totalprice", "o_orderkey"),
        10,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        "decile",
    ).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"), "decile"
    )
    s = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("p").cast("decimal(28,2)").alias("rev"),
    )
    t = d.agg(F.sum("p").cast("decimal(28,2)").alias("total"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            (F.col("rev").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            (
                F.sum(F.col("rev").cast("double")).over(wc)
                / F.col("total").cast("double")
            ).alias("cum_share"),
        )
    )


@query(
    "agg_new_vs_returning",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
f AS (
  SELECT user_id, day,
         MIN(day) OVER (PARTITION BY user_id) AS first_day
  FROM d
)
SELECT day,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM f
GROUP BY day
""",
    category="aggregations",
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily NEW vs RETURNING active users — the growth-accounting
    split every product dashboard leads with: a user's first-seen
    day classifies each of their active days. One distinct over
    (user, day), a per-user MIN window on the same partitioning, and
    a bounded per-day rollup — no self-join against history (the
    naive formulation), no second scan. Day stays TIMESTAMP per the
    DATE canonicalization rule.

    At 100 TB the (user, day) distinct is the only corpus-scale
    stage; the window rides its partitioning."""
    e = table(spark, sf_dir, "events")
    d = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    f = d.withColumn(
        "first_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return f.groupBy("day").agg(
        F.sum((F.col("day") == F.col("first_day")).cast("int")).cast("long").alias(
            "n_new"
        ),
        F.sum((F.col("day") > F.col("first_day")).cast("int")).cast("long").alias(
            "n_returning"
        ),
        F.count(F.lit(1)).alias("n_active"),
    )


@query("agg_kll_quantile_sketch", oracle=None, category="aggregations")
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Apache DataSketches KLL via Spark
    4's first-class kll_* aggregates) — the constant-state
    distributed alternative to exact percentile that production
    rollups persist: per-month partial sketches of order totals are
    built independently, merged with kll_merge_agg_double, and
    queried for the quartiles + p90; the flat single-pass sketch is
    computed alongside. Merged and flat estimates differ (KLL
    compaction depends on how the stream was split into partials)
    but BOTH must sit within the sketch's normalized rank-error
    bound of the exact percentile — asserted in
    tests/test_quality.py.

    This is the at-scale sibling of agg_percentile (exact, needs the
    full value multiset per group) and agg_percentile_approx
    (Spark's t-digest-style built-in): per-day/per-partition KLL
    partials compose at 100 TB without ever reshuffling raw values.
    Rows-only (DuckDB has no DataSketches KLL)."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.kll_sketch_agg_double("o_totalprice").alias("sk"))
    qs = [0.25, 0.5, 0.75, 0.9]
    merged = monthly.agg(
        *[
            F.expr(
                f"kll_sketch_get_quantile_double(kll_merge_agg_double(sk), {q})"
            ).alias(f"m{int(q * 100)}")
            for q in qs
        ]
    )
    flat = o.agg(
        *[
            F.expr(
                "kll_sketch_get_quantile_double("
                f"kll_sketch_agg_double(o_totalprice), {q})"
            ).alias(f"f{int(q * 100)}")
            for q in qs
        ],
        F.expr(
            "percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.9))"
        ).alias("exact"),
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.col(f"m{int(q * 100)}").alias("est_merged"),
                F.col(f"f{int(q * 100)}").alias("est_flat"),
                F.element_at("exact", i + 1).alias("exact_pct"),
            )
            for i, q in enumerate(qs)
        ]
    )
    return (
        merged.crossJoin(F.broadcast(flat))
        .select(F.explode(pairs).alias("r"))
        .select("r.q", "r.est_merged", "r.est_flat", "r.exact_pct")
    )


@query("agg_theta_sketch_setops", oracle=None, category="aggregations")
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches via Spark 4's theta_*
    functions) — distinct-count sketches that, unlike HLL, support
    full SET ALGEBRA: estimate |buyers ∪ clickers|,
    |buyers ∩ clickers| and |buyers \\ clickers| from two
    independently-built sketches, next to the exact distinct counts
    computed from the raw events. The audience-overlap question
    ("how many purchasers never click?") is THE production use of
    sketch intersection — with HLL it requires re-scanning raw ids,
    with theta it's a driver-free sketch-to-sketch operation that
    composes over per-partition partials (theta_union_agg) at
    100 TB. Calibration (estimates within 5% of exact at fixture
    cardinalities) is asserted in tests/test_quality.py.
    Rows-only (DuckDB has no DataSketches theta)."""
    e = table(spark, sf_dir, "events")
    buyers = e.where(F.col("event_type") == "purchase").agg(
        F.expr("theta_sketch_agg(user_id)").alias("s"),
        F.countDistinct("user_id").alias("n"),
    )
    clickers = e.where(F.col("event_type") == "click").agg(
        F.expr("theta_sketch_agg(user_id)").alias("s"),
        F.countDistinct("user_id").alias("n"),
    )
    exact = e.where(F.col("event_type").isin("purchase", "click")).agg(
        F.countDistinct("user_id").alias("n_union"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_buy"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("n_click"),
    )
    b, c = buyers.alias("b"), clickers.alias("c")
    return (
        b.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(exact))
        .select(
            F.round(
                F.expr("theta_sketch_estimate(theta_union(b.s, c.s))"), 6
            ).alias("est_union"),
            F.round(
                F.expr("theta_sketch_estimate(theta_intersection(b.s, c.s))"),
                6,
            ).alias("est_intersect"),
            F.round(
                F.expr("theta_sketch_estimate(theta_difference(b.s, c.s))"), 6
            ).alias("est_buyers_only"),
            F.col("n_union").alias("exact_union"),
            (F.col("n_buy") + F.col("n_click") - F.col("n_union")).alias(
                "exact_intersect"
            ),
            (F.col("n_union") - F.col("n_click")).alias("exact_buyers_only"),
        )
    )


_CMS_PROBE_KEYS = [1, 2, 3, 4, 5]


@query("agg_count_min_sketch", oracle=None, category="aggregations")
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch — mergeable FREQUENCY estimation (how many
    orders did customer k place?) in constant state per partial,
    completing the sketch family (HLL/theta: distinct; KLL:
    quantiles; CMS: per-key counts). Monthly partial sketches of
    o_custkey are built with count_min_sketch(eps=0.001, conf=0.99,
    seed=42), MERGED driver-side through the JVM sketch library's
    mergeInPlace (bounded staging: one ~8 KB sketch per month), and
    probed for five customer keys next to the flat single-pass
    sketch and the exact counts. CMS guarantees est >= exact and
    est <= exact + eps*N w.p. conf — both asserted in
    tests/test_quality.py. Rows-only (no DuckDB CMS).

    Classic-session only: the driver-side merge reaches the JVM
    sketch library through ``spark.sparkContext._jvm``, a private
    gateway that does not exist under Spark Connect (there the merge
    would need a connect-side plugin or an ``F.expr`` merge if Spark
    ever exposes one). An empty orders table degrades cleanly: the
    flat sketch aggregate still yields one (empty) sketch row, and
    the monthly merge seeds from a fresh empty JVM sketch with the
    identical (eps, conf, seed) triple rather than staying None."""
    o = table(spark, sf_dir, "orders")
    cms = "count_min_sketch(o_custkey, 0.001d, 0.99d, 42)"
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.expr(cms).alias("sk"))
    flat_sk = bytes(o.agg(F.expr(cms).alias("sk")).collect()[0]["sk"])
    jvm = spark.sparkContext._jvm
    CMS = jvm.org.apache.spark.util.sketch.CountMinSketch

    def read(b: bytes):
        return CMS.readFrom(jvm.java.io.ByteArrayInputStream(b))

    # Seed with an empty same-parameter sketch: an empty orders table
    # produces zero monthly rows, and a None seed would blow up at
    # estimateCount below.
    merged = CMS.create(0.001, 0.99, 42)
    for r in monthly.collect():
        merged = merged.mergeInPlace(read(bytes(r["sk"])))
    flat = read(flat_sk)
    est = {
        int(k): (int(merged.estimateCount(k)), int(flat.estimateCount(k)))
        for k in _CMS_PROBE_KEYS
    }
    exact = {
        r["o_custkey"]: r["n"]
        for r in o.where(F.col("o_custkey").isin(_CMS_PROBE_KEYS))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = [
        (k, est[k][0], est[k][1], int(exact.get(k, 0)))
        for k in _CMS_PROBE_KEYS
    ]
    return spark.createDataFrame(
        rows, "custkey long, est_merged long, est_flat long, exact long"
    )


_TRANSPOSE_TYPES = ["click", "error", "purchase", "signup", "view"]
_TP_CELL = (
    "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)"
)


@query(
    "agg_transpose",
    oracle=f"""
WITH r AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {_TP_CELL} AS sum_cents
  FROM events GROUP BY event_type
)
SELECT 'n_events' AS key,
  (SELECT n_events FROM r WHERE event_type = 'click') AS click,
  (SELECT n_events FROM r WHERE event_type = 'error') AS error,
  (SELECT n_events FROM r WHERE event_type = 'purchase') AS purchase,
  (SELECT n_events FROM r WHERE event_type = 'signup') AS signup,
  (SELECT n_events FROM r WHERE event_type = 'view') AS view
UNION ALL
SELECT 'sum_cents',
  (SELECT sum_cents FROM r WHERE event_type = 'click'),
  (SELECT sum_cents FROM r WHERE event_type = 'error'),
  (SELECT sum_cents FROM r WHERE event_type = 'purchase'),
  (SELECT sum_cents FROM r WHERE event_type = 'signup'),
  (SELECT sum_cents FROM r WHERE event_type = 'view')
""",
    category="aggregations",
)
def agg_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose()`` — the Spark 4.0 relational transpose
    (SPARK-47081): the per-event-type metric rollup flips so metrics
    become rows and event types become columns — the
    report/crosstab-final-mile shape analysts otherwise hand-roll
    with k pivot expressions.  Metric cells are exact int64 (count,
    decimal-cents sum) so the transposed frame hash-compares.

    Semantics pinned here: the FIRST column supplies the new header
    (values must be distinct; Spark errors otherwise), the remaining
    columns must share a least-common type (all BIGINT here), and
    the original column names arrive in a ``key`` column.  The final
    select pins the fixture's five event types IN ORDER, so a
    fixture drift fails loudly instead of silently reshaping.

    Scale: transpose is header-driven — the input here is the
    BOUNDED rollup (5 rows), never the fact table; the data-
    proportional work is the ordinary partial/final hash aggregate
    that produced it (one shuffle).  Transposing a data-proportional
    frame would put the row count in the SCHEMA, which is the
    documented anti-pattern this query avoids."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    roll = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
        .orderBy("event_type")
    )
    return roll.transpose().select("key", *_TRANSPOSE_TYPES)


@query(
    "agg_holt_linear",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
ord AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily
),
n AS (SELECT event_type, MAX(rn) AS n_days FROM ord GROUP BY event_type),
rec AS (
  SELECT o1.event_type, 2 AS t, o1.v AS l, o1.v - o0.v AS b
  FROM ord o1 JOIN ord o0 ON o1.event_type = o0.event_type
  WHERE o1.rn = 2 AND o0.rn = 1
  UNION ALL
  SELECT r.event_type, r.t + 1,
         0.5 * o.v + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * o.v + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM rec r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.t + 1
)
SELECT rec.event_type, CAST(n.n_days AS BIGINT) AS n_days,
       rec.l AS level, rec.b AS trend, rec.l + rec.b AS forecast_next
FROM rec JOIN n ON rec.event_type = n.event_type
WHERE rec.t = n.n_days AND n.n_days >= 2
""",
    category="aggregations",
)
def agg_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend,
    alpha = beta = 0.5) over each event type's daily revenue series,
    with the one-step-ahead forecast — the classic ops-forecasting
    primitive (capacity planning, anomaly baselines) missing between
    agg_ewma's single smoother and pipeline_traffic_anomaly's
    trailing baseline. Initialization l = x2, b = x2 - x1;
    recursion l_t = a*x_t + (1-a)*(l+b), b_t = g*(l_t - l) + (1-g)*b.

    The recursion is inherently sequential, so it runs as an ARRAY
    FOLD (F.aggregate) over each type's sorted 30-day series — state
    per group is bounded by CALENDAR DAYS, not data volume: at
    100 TB the shape is the same two partial/final hash aggregations
    (type×day rollup, then per-type fold), no window over raw
    events, no Python. The 0.5 coefficients are exact binary
    fractions and the fold order is totally specified, so every
    intermediate is the same IEEE double in both engines — the
    DuckDB twin replays the recursion as a recursive CTE and the
    grade is hash-exact (verified at all three SFs)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(dsum(F.col("value")).alias("v"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "v"))),
                lambda s: s.getField("v"),
            ).alias("xs"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") >= 2)
    )
    xs = F.col("xs")
    init = F.struct(
        xs[1].alias("l"), (xs[1] - xs[0]).alias("b")
    )
    def step(acc, x):
        l_new = 0.5 * x + 0.5 * (acc.getField("l") + acc.getField("b"))
        return F.struct(
            l_new.alias("l"),
            (0.5 * (l_new - acc.getField("l")) + 0.5 * acc.getField("b")).alias("b"),
        )
    fin = F.aggregate(
        F.slice(xs, F.lit(3), F.greatest(F.size(xs) - 2, F.lit(0))),
        init,
        step,
    )
    return series.select(
        "event_type",
        "n_days",
        fin.getField("l").alias("level"),
        fin.getField("b").alias("trend"),
        (fin.getField("l") + fin.getField("b")).alias("forecast_next"),
    )
