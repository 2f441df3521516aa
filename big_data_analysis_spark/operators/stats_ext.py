"""Second statistics wave (SURVEY.md §2.4/§2.5 additions): rank
correlation between two series (Kendall tau-b), non-parametric trend
(Mann-Kendall), inter-rater agreement (Cohen's kappa), randomness
(Wald-Wolfowitz runs), and two anomaly/forecast windows (rolling
z-score flags, seasonal-naive error).

Shared discipline with the first statistics tier
(operators/aggregations.py agg_corr/agg_ks_test/...): every statistic
is assembled from EXACT integer counts/sums over cents so the final
one-or-two double operations have the identical operand values and
expression shape in both engines — bit-reproducible despite divisions
and square roots.

Scale note shared by the day-grid operators: the per-(event_type,
day) rollup is bounded by the VALUE DOMAIN (5 types x 30 days here;
types x days generally), not by row count — the O(grid^2) pair joins
below are constant-size however large events grows.  What grows with
data is the one groupBy producing the grid (a single shuffle with
map-side partial aggregation).  Squared daily sums exceed int64 once
daily volume passes ~2^31 cents, so every squared comparison runs in
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import lifecycle
from ..io import table
from ..registry import query

# Exact cents from the double `value` column: the decimal cast is the
# engine-portable way to read back the fixture's 2-decimal payload.
_CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

# Shared day grid: per-(event_type, day) exact cent sums.
_GRID_SQL = f"""
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM({_CENTS_SQL}) AS BIGINT) AS x
  FROM events
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
"""


def _day_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) exact cent sums, materialized ONCE via an
    eager localCheckpoint: the statistics below reference the grid
    from several plan branches (self-joins, tie rollups), and without
    the checkpoint Catalyst re-scans and re-aggregates the raw events
    table once per branch (11 Exchanges in agg_mann_kendall's naive
    plan — measured). The grid is value-domain-bounded (types × days),
    so materializing it costs one tiny job and every branch reuses the
    same ~150 rows."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.sum(cents).alias("x"))
    return lifecycle.checkpoint(grid)


@query(
    "agg_kendall_tau",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
a AS (SELECT d, x FROM g WHERE event_type = 'click'),
b AS (SELECT d, x FROM g WHERE event_type = 'purchase'),
s AS (
  SELECT a.d, a.x AS xa, b.x AS xb
  FROM a JOIN b ON a.d = b.d
),
p AS (
  SELECT CASE WHEN (s2.xa - s1.xa) * (s2.xb - s1.xb) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (s2.xa - s1.xa) * (s2.xb - s1.xb) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN s2.xa = s1.xa THEN 1 ELSE 0 END AS tie_a,
         CASE WHEN s2.xb = s1.xb THEN 1 ELSE 0 END AS tie_b
  FROM s s1 JOIN s s2 ON s1.d < s2.d
)
SELECT CAST(SUM(conc) AS BIGINT) AS n_concordant,
       CAST(SUM(disc) AS BIGINT) AS n_discordant,
       CAST(SUM(tie_a) AS BIGINT) AS n_tie_a,
       CAST(SUM(tie_b) AS BIGINT) AS n_tie_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) - SUM(disc) AS DOUBLE)
         / (sqrt(CAST(COUNT(*) - SUM(tie_a) AS DOUBLE))
            * sqrt(CAST(COUNT(*) - SUM(tie_b) AS DOUBLE))) AS tau_b
FROM p
""",
    category="aggregations",
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the click and purchase
    daily-revenue series — the robust alternative to agg_corr's
    Pearson (exact pair concordance counts instead of float moments)
    and to agg_spearman (tau handles ties via the b-correction that
    the concordant/discordant/tie counts make exact).  The pair join
    runs on the bounded 30-day grid (module docstring: O(days^2)
    pairs regardless of event volume); products of cent deltas stay
    int64 until daily sums pass ~2^31 cents — beyond that the sign
    test would move to DECIMAL like win_zscore_anomaly's.  tau_b's
    two sqrts see identical exact integers in both engines."""
    g = _day_grid(spark, sf_dir)
    a = g.where(F.col("event_type") == "click").select("d", F.col("x").alias("xa"))
    b = g.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("d2"), F.col("x").alias("xb")
    )
    s = a.join(b, a["d"] == b["d2"]).select("d", "xa", "xb")
    s1 = s.select(
        F.col("d").alias("d1"), F.col("xa").alias("xa1"), F.col("xb").alias("xb1")
    )
    s2 = s.select(
        F.col("d").alias("d2"), F.col("xa").alias("xa2"), F.col("xb").alias("xb2")
    )
    pairs = s1.join(s2, F.col("d1") < F.col("d2"))
    prod = (F.col("xa2") - F.col("xa1")) * (F.col("xb2") - F.col("xb1"))
    agg = pairs.agg(
        F.sum(F.when(prod > 0, 1).otherwise(0)).alias("n_concordant"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).alias("n_discordant"),
        F.sum(F.when(F.col("xa1") == F.col("xa2"), 1).otherwise(0)).alias("n_tie_a"),
        F.sum(F.when(F.col("xb1") == F.col("xb2"), 1).otherwise(0)).alias("n_tie_b"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    nc, nd = F.col("n_concordant"), F.col("n_discordant")
    np_, ta, tb = F.col("n_pairs"), F.col("n_tie_a"), F.col("n_tie_b")
    tau = (nc - nd).cast("double") / (
        F.sqrt((np_ - ta).cast("double")) * F.sqrt((np_ - tb).cast("double"))
    )
    return agg.select(
        "n_concordant", "n_discordant", "n_tie_a", "n_tie_b", "n_pairs",
        tau.alias("tau_b"),
    )


@query(
    "agg_mann_kendall",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
p AS (
  SELECT g1.event_type,
         CASE WHEN g2.x > g1.x THEN 1 WHEN g2.x < g1.x THEN -1 ELSE 0 END AS sgn
  FROM g g1 JOIN g g2 ON g1.event_type = g2.event_type AND g1.d < g2.d
),
s AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
  FROM p GROUP BY event_type
),
n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM g GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
  FROM (SELECT event_type, x, COUNT(*) AS t FROM g GROUP BY event_type, x) tg
  WHERE t > 1
  GROUP BY event_type
)
SELECT s.event_type, n.n_days, s.s_stat,
       CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
            - COALESCE(ties.tie18, 0) AS BIGINT) AS var18,
       CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                 / sqrt(CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                             - COALESCE(ties.tie18, 0) AS DOUBLE) / 18.0)
            WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                 / sqrt(CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                             - COALESCE(ties.tie18, 0) AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat
FROM s
JOIN n ON n.event_type = s.event_type
LEFT JOIN ties ON ties.event_type = s.event_type
""",
    category="aggregations",
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily-revenue
    series: S = sum over day pairs i<j of sign(x_j - x_i), the
    standard tie-corrected variance (18*Var = n(n-1)(2n+5) -
    sum t(t-1)(2t+5) over tie groups), and the continuity-corrected
    z.  The distribution-free "is this metric drifting?" monitor —
    no slope model, no normality assumption (contrast
    agg_linear_regression).  S, n, and 18*Var are exact integers;
    z's single sqrt+divide sees identical operands in both engines.
    Pair join bounded by the day grid (module docstring)."""
    g = _day_grid(spark, sf_dir)
    g1 = g.select(
        F.col("event_type").alias("et"), F.col("d").alias("d1"), F.col("x").alias("x1")
    )
    g2 = g.select(
        F.col("event_type").alias("et2"), F.col("d").alias("d2"), F.col("x").alias("x2")
    )
    pairs = g1.join(g2, (F.col("et") == F.col("et2")) & (F.col("d1") < F.col("d2")))
    sgn = (
        F.when(F.col("x2") > F.col("x1"), 1)
        .when(F.col("x2") < F.col("x1"), -1)
        .otherwise(0)
    )
    s = pairs.groupBy(F.col("et").alias("event_type")).agg(
        F.sum(sgn).cast("long").alias("s_stat")
    )
    n = g.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    t = F.col("t")
    ties = (
        g.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(t > 1)
        .groupBy("event_type")
        .agg(F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0)).cast("long").alias("tie18"))
    )
    j = (
        s.join(n, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tie18", F.coalesce(F.col("tie18"), F.lit(0).cast("long")))
    )
    nd = F.col("n_days")
    var18 = (nd * (nd - 1) * (2 * nd + 5) - F.col("tie18")).cast("long")
    ss = F.col("s_stat")
    denom = F.sqrt(F.col("var18").cast("double") / 18.0)
    z = (
        F.when(ss > 0, (ss - 1).cast("double") / denom)
        .when(ss < 0, (ss + 1).cast("double") / denom)
        .otherwise(F.lit(0.0))
    )
    return j.withColumn("var18", var18).select(
        "event_type", "n_days", "s_stat", "var18", z.alias("z_stat")
    )


@query(
    "agg_cohens_kappa",
    oracle=f"""
WITH r AS (
  SELECT CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END AS ra,
         CASE WHEN {_CENTS_SQL} >= 5000 THEN 1 ELSE 0 END AS rb
  FROM events
),
c AS (
  SELECT CAST(SUM(ra * rb) AS BIGINT) AS n11,
         CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
         CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
         CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
  FROM r
)
SELECT n11, n10, n01, n00,
       CAST(2 * (CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01) AS DOUBLE)
       / CAST((CAST(n11 AS HUGEINT) + n10) * (CAST(n10 AS HUGEINT) + n00)
              + (CAST(n11 AS HUGEINT) + n01) * (CAST(n01 AS HUGEINT) + n00) AS DOUBLE)
         AS kappa
FROM c
""",
    category="aggregations",
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    deterministic binary raters (rater A: engagement event types;
    rater B: high-value threshold at 50.00): the label-quality /
    annotator-agreement metric every labeling pipeline reports.
    Uses the closed-form 2x2 identity
    kappa = 2(n11*n00 - n10*n01) / ((n11+n10)(n10+n00) + (n11+n01)(n01+n00)),
    so the whole statistic is ONE exact integer ratio -> one double
    division.  Count products overflow int64 once cell counts pass
    ~2^31 (≈100 TB of events), so the products run in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB).  Plan: one map + one global agg —
    no shuffle beyond the 4-cell partial-aggregate merge."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    ra = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
    rb = F.when(cents >= 5000, 1).otherwise(0)
    c = e.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("long").alias("n00"),
    )
    big = lambda col: F.col(col).cast("decimal(38,0)")
    num = 2 * (big("n11") * big("n00") - big("n10") * big("n01"))
    den = (big("n11") + big("n10")) * (big("n10") + big("n00")) + (
        big("n11") + big("n01")
    ) * (big("n01") + big("n00"))
    return c.select(
        "n11", "n10", "n01", "n00",
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


@query(
    "agg_runs_test",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
d AS (
  SELECT event_type, d,
         x - lag(x) OVER (PARTITION BY event_type ORDER BY d) AS diff
  FROM g
),
s AS (
  SELECT event_type, d,
         CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
  FROM d WHERE diff IS NOT NULL AND diff <> 0
),
c AS (
  SELECT event_type, sgn,
         lag(sgn) OVER (PARTITION BY event_type ORDER BY d) AS prev
  FROM s
)
SELECT event_type,
       CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev THEN 1 ELSE 0 END)
            AS BIGINT) AS n_runs,
       1.0 + 2.0 * CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 * CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS expected_runs
FROM c
GROUP BY event_type
""",
    category="aggregations",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the day-over-day direction of each
    event type's daily revenue: up/down sign sequence (zero diffs
    dropped, the standard treatment), observed run count via one
    lag-and-compare pass, and the exact-ratio expected run count
    1 + 2*n_up*n_down/n.  Too few runs = momentum/trend, too many =
    oscillation — the randomness check behind SPC monitoring.  Two
    bounded windows over the 30-row-per-type grid + one aggregate;
    every reported quantity except expected_runs is an exact
    integer."""
    g = _day_grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    d = g.withColumn("diff", F.col("x") - F.lag("x").over(w))
    s = d.where(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "event_type", "d", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("sgn")
    )
    c = s.withColumn("prev", F.lag("sgn").over(w))
    up = F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("long")
    down = F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).cast("long")
    changes = F.sum(
        F.when(F.col("prev").isNotNull() & (F.col("sgn") != F.col("prev")), 1).otherwise(0)
    )
    return c.groupBy("event_type").agg(
        up.alias("n_up"),
        down.alias("n_down"),
        (1 + changes).cast("long").alias("n_runs"),
        (
            1.0
            + 2.0 * up.cast("double") * down.cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("expected_runs"),
    )


@query(
    "win_zscore_anomaly",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
m AS (
  SELECT event_type, d, x,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS ss
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x, n, s,
       CAST(CASE WHEN n = 7 AND
         CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * x - s)
           * (CAST(n AS HUGEINT) * x - s)
         > 4 * CAST(n AS HUGEINT) * (n * ss - CAST(s AS HUGEINT) * s)
       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM m
WHERE n = 7
""",
    category="windows",
)
def win_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags with ZERO floating point: a day
    is anomalous when its revenue sits more than 2 population sigmas
    from the trailing-7-day baseline (the frame excludes the current
    day — a self-including baseline dilutes the very spike it should
    flag).  |x-mu| > 2*sigma is decided by the exact integer
    cross-multiplication  n*(n*x-s)^2 > 4*n*(n*ss - s^2), so unlike
    win_bollinger (which reports the float bands) the DECISION here
    never touches a double — the squares run in DECIMAL(38,0) /
    HUGEINT because (n*x-s)^2 passes int64 once daily sums exceed
    ~2^31 cents.  One shuffle on event_type; the frame keeps running
    power sums.  The day grid is value-domain-bounded (module
    docstring), so the window partition can never become the
    single-task bottleneck that global windows have."""
    g = _day_grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    m = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).over(w).alias("ss"),
    ).where(F.col("n") == 7)
    big = lambda c: c.cast("decimal(38,0)")
    n, s, ss, x = F.col("n"), F.col("s"), F.col("ss"), F.col("x")
    dev = big(n) * x - s
    lhs = big(n) * dev * dev
    rhs = 4 * big(n) * (n * ss - big(s) * s)
    return m.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        "n",
        "s",
        F.when(lhs > rhs, 1).otherwise(0).cast("long").alias("is_anomaly"),
    )


@query(
    "win_seasonal_error",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
f AS (
  SELECT event_type, d, x,
         lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS forecast
  FROM g
)
SELECT event_type,
       CAST(COUNT(forecast) AS BIGINT) AS n_scored,
       CAST(SUM(abs(x - forecast)) AS BIGINT) AS sum_abs_err_cents,
       CAST(MAX(abs(x - forecast)) AS BIGINT) AS max_abs_err_cents,
       CAST(SUM(abs(x - forecast)) AS DOUBLE) / COUNT(forecast) / 100.0 AS mae
FROM f
WHERE forecast IS NOT NULL
GROUP BY event_type
""",
    category="windows",
)
def win_seasonal_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: forecast each day's revenue with the
    value 7 days earlier (the no-model baseline every forecast must
    beat — agg_holt_linear's sanity floor) and report per-type exact
    absolute-error mass in cents plus the one-division MAE.  One lag
    window + one aggregate over the bounded day grid; errors are
    int64-exact so the backtest is bit-reproducible."""
    g = _day_grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("d")
    f = g.withColumn("forecast", F.lag("x", 7).over(w)).where(
        F.col("forecast").isNotNull()
    )
    err = F.abs(F.col("x") - F.col("forecast"))
    return f.groupBy("event_type").agg(
        F.count("forecast").cast("long").alias("n_scored"),
        F.sum(err).cast("long").alias("sum_abs_err_cents"),
        F.max(err).cast("long").alias("max_abs_err_cents"),
        (F.sum(err).cast("double") / F.count("forecast") / 100.0).alias("mae"),
    )


@query(
    "agg_wilson_ci",
    oracle=f"""
WITH arms AS (
  SELECT CASE WHEN ((event_id & 2147483647) * 2654435761) % 2 = 0 THEN 'A' ELSE 'B' END
           AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
c AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS successes
  FROM arms GROUP BY arm
)
SELECT arm, n, successes,
       CAST(successes AS DOUBLE) / n AS p_hat,
       (CAST(successes AS DOUBLE) / n + 3.8416 / (2 * n)
        - 1.96 * sqrt((CAST(successes AS DOUBLE) / n
                       * (1.0 - CAST(successes AS DOUBLE) / n)
                       + 3.8416 / (4 * n)) / n))
         / (1.0 + 3.8416 / n) AS wilson_lo,
       (CAST(successes AS DOUBLE) / n + 3.8416 / (2 * n)
        + 1.96 * sqrt((CAST(successes AS DOUBLE) / n
                       * (1.0 - CAST(successes AS DOUBLE) / n)
                       + 3.8416 / (4 * n)) / n))
         / (1.0 + 3.8416 / n) AS wilson_hi
FROM c
""",
    category="aggregations",
)
def agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%, z=1.96, z²=3.8416) for the
    conversion rate of two deterministic hash arms — the guardrail
    CI every experimentation platform reports instead of the
    normal-approximation interval (Wilson never leaves [0,1] and
    behaves at small n/extreme p). Counts are exact integers; both
    engines evaluate the identical closed-form expression tree on
    identical (successes, n), so even the sqrt-bearing bounds are
    bit-reproducible — the win_bollinger discipline applied to
    proportions. One map + one 2-row aggregate."""
    e = table(spark, sf_dir, "events")
    arm = F.when((F.col("event_id").bitwiseAND(2147483647) * 2654435761) % 2 == 0, "A").otherwise("B")
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    c = e.select(arm.alias("arm"), conv.alias("conv")).groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("successes"),
    )
    n = F.col("n")
    p = F.col("successes").cast("double") / n
    z2 = 3.8416
    center = p + z2 / (2 * n)
    margin = 1.96 * F.sqrt((p * (1.0 - p) + z2 / (4 * n)) / n)
    denom = 1.0 + z2 / n
    return c.select(
        "arm",
        "n",
        "successes",
        p.alias("p_hat"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


@query(
    "win_vwap",
    oracle=f"""
WITH t AS (
  SELECT event_type, ts, event_id,
         {_CENTS_SQL} AS px,
         1 + (event_id % 9) AS qty
  FROM events
),
c AS (
  SELECT event_type, ts, event_id, px, qty,
         CAST(SUM(px * qty) OVER w AS BIGINT) AS cum_pv,
         CAST(SUM(qty) OVER w AS BIGINT) AS cum_q
  FROM t
  WINDOW w AS (PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, event_id, cum_pv, cum_q,
       CAST(cum_pv AS DOUBLE) / cum_q / 100.0 AS vwap
FROM c
WHERE event_id % 37 = 0
""",
    category="windows",
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday running VWAP (volume-weighted average price) per
    (instrument, day) — the execution-quality benchmark every
    trading/market-data stack computes: cumulative price×quantity
    over cumulative quantity in exact int64 cents (quantity is a
    deterministic 1-9 lot from the event id), one double division at
    read-out. The window partitions on (type, day) — a day boundary
    resets the accumulation, and the partition count grows with the
    calendar and instrument count, never one global task. Output
    row-sampled (event_id % 37) to keep the graded payload small
    while still covering every partition."""
    e = table(spark, sf_dir, "events")
    px = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    qty = (1 + F.col("event_id") % 9).cast("long")
    t = e.select(
        "event_type",
        "ts",
        "event_id",
        px.alias("px"),
        qty.alias("qty"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    )
    w = (
        Window.partitionBy("event_type", "d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.select(
        "event_type",
        "event_id",
        F.sum(F.col("px") * F.col("qty")).over(w).cast("long").alias("cum_pv"),
        F.sum("qty").over(w).cast("long").alias("cum_q"),
    )
    return c.where(F.col("event_id") % 37 == 0).select(
        "event_type",
        "event_id",
        "cum_pv",
        "cum_q",
        (F.col("cum_pv").cast("double") / F.col("cum_q") / 100.0).alias("vwap"),
    )


@query(
    "agg_capture_recapture",
    oracle="""
WITH s1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ((event_id & 2147483647) * 2654435761) % 10 < 3
),
s2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE (event_id * 40503) % 10 < 3
),
c AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s1 WHERE user_id IN (SELECT user_id FROM s2))
           AS m
)
SELECT CAST(c.n1 AS BIGINT) AS n1, CAST(c.n2 AS BIGINT) AS n2,
       CAST(c.m AS BIGINT) AS n_recaptured,
       CAST((CAST(c.n1 AS HUGEINT) + 1) * (c.n2 + 1) // (c.m + 1) - 1
            AS BIGINT) AS chapman_estimate,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS true_population
FROM c
""",
    category="aggregations",
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Chapman estimator):
    two independent deterministic hash samples of observed users,
    the recapture overlap, and N̂ = (n1+1)(n2+1)/(m+1) − 1 — the
    ecology/fraud-analytics trick for sizing a population you can
    only sample (how many TOTAL users exist if two independent 30%
    sightings overlap this much).  The estimator is an exact
    integer floor division in both engines (HUGEINT/DECIMAL
    products); the true distinct count rides along to expose the
    estimator's bias.  Two distinct aggregations + a semi-join on
    the small sample tables."""
    e = table(spark, sf_dir, "events")
    s1 = (
        e.where((F.col("event_id").bitwiseAND(2147483647) * 2654435761) % 10 < 3)
        .select("user_id")
        .distinct()
    )
    s2 = (
        e.where((F.col("event_id") * 40503) % 10 < 3)
        .select("user_id")
        .distinct()
    )
    n1 = s1.count()
    n2 = s2.count()
    m = s1.join(s2, "user_id", "left_semi").count()
    true_pop = e.select("user_id").distinct().count()
    chapman = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    return spark.createDataFrame(
        [(n1, n2, m, chapman, true_pop)],
        "n1 long, n2 long, n_recaptured long, chapman_estimate long, "
        "true_population long",
    )


@query(
    "agg_log2_histogram",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS cents FROM events
  WHERE {_CENTS_SQL} > 0
),
b AS (
  SELECT event_type, length(printf('%b', cents)) - 1 AS bucket, cents
  FROM c
)
SELECT event_type, CAST(bucket AS BIGINT) AS log2_bucket,
       CAST(1 << bucket AS BIGINT) AS bucket_lo_cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM b
GROUP BY event_type, bucket
""",
    category="aggregations",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (log2) histogram — the latency/size-distribution
    workhorse (HDR-style buckets) computed with ZERO logarithms:
    bucket = floor(log2(cents)) = bit-length − 1, read off the binary
    string length (Spark bin(), DuckDB printf('%%b') — both render
    positive int64 without padding, so the lengths agree exactly).
    Exponential buckets keep the histogram bounded (≤ 63 buckets per
    type at ANY data volume — the value-domain-bounded discipline of
    this module) while resolving both the cents tail and the
    max-value head. One map + one grouped aggregate."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = e.select("event_type", cents.alias("cents")).where(F.col("cents") > 0)
    bucket = (F.length(F.bin(F.col("cents"))) - 1).cast("long")
    b = c.select("event_type", bucket.alias("log2_bucket"), "cents")
    return (
        b.groupBy("event_type", "log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .withColumn(
            "bucket_lo_cents",
            F.expr("CAST(shiftleft(1L, CAST(log2_bucket AS INT)) AS BIGINT)"),
        )
        .select("event_type", "log2_bucket", "bucket_lo_cents", "n", "sum_cents")
    )


@query(
    "agg_theil_sen",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
p AS (
  SELECT g1.event_type,
         g1.d AS d1, g2.d AS d2,
         (g2.x - g1.x) * 1000000 AS num,
         date_diff('day', g1.d, g2.d) AS den
  FROM g g1 JOIN g g2
    ON g1.event_type = g2.event_type AND g1.d < g2.d
),
s AS (
  SELECT event_type, d1, d2,
         CASE WHEN num >= 0 THEN num // den
              ELSE -((-num + den - 1) // den) END AS slope_ppm
  FROM p
),
r AS (
  SELECT event_type, slope_ppm,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope_ppm, d1, d2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM s
)
SELECT event_type,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(slope_ppm AS BIGINT) AS median_slope_ppm,
       CAST(slope_ppm AS DOUBLE) / 1000000.0 / 100.0
         AS slope_per_day
FROM r WHERE rn = (n_pairs + 1) // 2
""",
    category="aggregations",
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator — the slope companion to
    agg_mann_kendall's sign test (median of all pairwise
    daily-revenue slopes per event type, immune to outliers that
    wreck agg_linear_regression's least squares).  Exactness: each
    pairwise slope is floored to ppm with an EXPLICIT negative-safe
    floor division (num DIV den on the non-negative branch, the
    mirrored ceiling on the negative branch — only non-negative
    operands ever reach DIV, sidestepping any trunc-vs-floor
    divergence), and the median picks the (n+1) DIV 2-th element
    under the total order (slope_ppm, d1, d2) — deterministic in
    both engines with zero float arithmetic until the final display
    division.  Scale: the pair join and the rank window run on the
    value-domain-bounded day grid (module docstring — O(days^2)
    pairs per type regardless of event volume); the only
    data-proportional work is the grid groupBy itself."""
    g = _day_grid(spark, sf_dir)
    g1 = g.select(
        "event_type", F.col("d").alias("d1"), F.col("x").alias("x1")
    )
    g2 = g.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("x").alias("x2"),
    )
    p = g1.join(
        g2, (F.col("event_type") == F.col("et2")) & (F.col("d1") < F.col("d2"))
    ).select(
        "event_type",
        "d1",
        "d2",
        ((F.col("x2") - F.col("x1")) * 1000000).alias("num"),
        F.datediff("d2", "d1").cast("long").alias("den"),
    )
    s = p.select(
        "event_type",
        "d1",
        "d2",
        F.expr(
            "CASE WHEN num >= 0 THEN num DIV den"
            " ELSE -((-num + den - 1) DIV den) END"
        ).alias("slope_ppm"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope_ppm", "d1", "d2")
    w_all = Window.partitionBy("event_type")
    r = s.select(
        "event_type",
        "slope_ppm",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
    )
    return r.where(F.expr("rn = (n_pairs + 1) DIV 2")).select(
        "event_type",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("slope_ppm").cast("long").alias("median_slope_ppm"),
        (F.col("slope_ppm").cast("double") / 1000000.0 / 100.0).alias(
            "slope_per_day"
        ),
    )


_TRIM_PCT = 10  # percent trimmed from EACH tail

@query(
    "agg_trimmed_mean",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS cents FROM events
),
grid AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c GROUP BY event_type, cents
),
w AS (
  SELECT event_type, cents, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM grid
),
kept AS (
  SELECT event_type, n, n // {100 // _TRIM_PCT} AS k,
         GREATEST(0, LEAST(cum_before + cnt, n - n // {100 // _TRIM_PCT})
                     - GREATEST(cum_before, n // {100 // _TRIM_PCT})) AS kc,
         cents
  FROM w
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(k) AS BIGINT) AS k_trimmed_each_side,
       CAST(SUM(kc) AS BIGINT) AS n_kept,
       CAST(SUM(kc * cents) AS BIGINT) AS kept_sum_cents,
       CAST(SUM(kc * cents) AS DOUBLE) / SUM(kc) / 100.0 AS trimmed_mean
FROM kept
GROUP BY event_type
""",
    category="aggregations",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per event type — the robust location
    estimate (drop the k = n DIV 10 smallest and largest
    observations, average the rest) computed WITHOUT ranking any
    raw row: the per-(type, cents) count grid carries running
    counts, and each grid cell contributes
    max(0, min(cum_before + cnt, n-k) - max(cum_before, k)) kept
    observations — the exact overlap of its rank range [cum_before,
    cum_before + cnt) with the kept band [k, n-k).  All integers
    until the single final division.  Scale: the rank window runs
    over the value-domain-bounded cents grid (enforced by
    test_value_grid_windows_stay_domain_bounded for this fixture's
    [0, ~56k-cent] domain), never over raw rows — the
    data-proportional work is one grid groupBy with map-side
    partials."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_before = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("event_type")
    w = grid.select(
        "event_type",
        "cents",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_before), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    kept = w.select(
        "event_type",
        "n",
        F.expr(f"n DIV {100 // _TRIM_PCT}").alias("k"),
        F.expr(
            f"GREATEST(0, LEAST(cum_before + cnt, n - n DIV {100 // _TRIM_PCT})"
            f" - GREATEST(cum_before, n DIV {100 // _TRIM_PCT}))"
        ).alias("kc"),
        "cents",
    )
    return kept.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("k_trimmed_each_side"),
        F.sum("kc").cast("long").alias("n_kept"),
        F.sum(F.col("kc") * F.col("cents")).cast("long").alias("kept_sum_cents"),
        (
            F.sum(F.col("kc") * F.col("cents")).cast("double")
            / F.sum("kc")
            / 100.0
        ).alias("trimmed_mean"),
    )


@query(
    "agg_winsorized_mean",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS cents FROM events
),
grid AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c GROUP BY event_type, cents
),
w AS (
  SELECT event_type, cents, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM grid
),
bounds AS (
  SELECT event_type, MAX(n) AS n, MAX(n) // 10 AS k,
         MIN(CASE WHEN cum >= n // 10 + 1 THEN cents END) AS v_lo,
         MIN(CASE WHEN cum >= n - n // 10 THEN cents END) AS v_hi
  FROM w GROUP BY event_type
)
SELECT g.event_type,
       CAST(b.n AS BIGINT) AS n,
       CAST(b.k AS BIGINT) AS k_clamped_each_side,
       CAST(b.v_lo AS BIGINT) AS lo_cents,
       CAST(b.v_hi AS BIGINT) AS hi_cents,
       CAST(SUM(g.cnt * LEAST(GREATEST(g.cents, b.v_lo), b.v_hi)) AS BIGINT)
         AS winsorized_sum_cents,
       CAST(SUM(g.cnt * LEAST(GREATEST(g.cents, b.v_lo), b.v_hi)) AS DOUBLE)
         / b.n / 100.0 AS winsorized_mean
FROM grid g JOIN bounds b ON g.event_type = b.event_type
GROUP BY g.event_type, b.n, b.k, b.v_lo, b.v_hi
""",
    category="aggregations",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-winsorized mean per event type — agg_trimmed_mean's
    sibling that CLAMPS the tails to the k+1-th and (n-k)-th order
    statistics instead of dropping them (the estimator preserving
    sample size for downstream variance math).  Both boundary order
    statistics are read off the same cents-grid running counts
    (smallest value whose cumulative count reaches the rank), so the
    whole computation is exact integers until the final division.
    Scale: grid windows only (value-domain-bounded, module
    docstring); the bounds table is one tiny row per type,
    broadcast back onto the grid."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = lifecycle.checkpoint(  # referenced by bounds AND final sum
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    w = grid.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    bounds = w.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.expr("MAX(n) DIV 10").alias("k"),
        F.min(F.expr("CASE WHEN cum >= n DIV 10 + 1 THEN cents END")).alias(
            "v_lo"
        ),
        F.min(F.expr("CASE WHEN cum >= n - n DIV 10 THEN cents END")).alias(
            "v_hi"
        ),
    )
    b = F.broadcast(bounds.withColumnRenamed("event_type", "et_b"))
    j = grid.join(b, grid["event_type"] == F.col("et_b"))
    clamped = F.expr("LEAST(GREATEST(cents, v_lo), v_hi)")
    return j.groupBy("event_type", "n", "k", "v_lo", "v_hi").agg(
        F.sum(F.col("cnt") * clamped).cast("long").alias("winsorized_sum_cents"),
        (
            F.sum(F.col("cnt") * clamped).cast("double")
            / F.col("n")
            / 100.0
        ).alias("winsorized_mean"),
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_clamped_each_side"),
        F.col("v_lo").cast("long").alias("lo_cents"),
        F.col("v_hi").cast("long").alias("hi_cents"),
        "winsorized_sum_cents",
        "winsorized_mean",
    )


@query(
    "agg_weighted_median",
    oracle="""
WITH grid AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_c,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)) AS BIGINT)
           AS w
  FROM lineitem
  GROUP BY l_returnflag,
           CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
),
cum AS (
  SELECT flag, disc_c, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY disc_c
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(w) OVER (PARTITION BY flag) AS total_w
  FROM grid
)
SELECT flag,
       CAST(MAX(total_w) AS BIGINT) AS total_weight,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_values,
       CAST(MIN(CASE WHEN 2 * cw >= total_w THEN disc_c END) AS BIGINT)
         AS weighted_median_disc_pct_x100
FROM cum
GROUP BY flag
""",
    category="aggregations",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted median discount per return
    flag) — the order statistic a revenue-mix analysis needs when
    each observation carries a weight: the first value whose running
    weight reaches half the total (lower weighted median, the
    standard convention), read off a cumulative window over the
    bounded discount grid.  Discounts and quantities are decimal-
    cast to exact integers, so the crossing test 2*cw >= W is pure
    int64 and both engines pick the identical value.  Scale: the
    grid is 11 discount levels x 3 flags however large lineitem
    grows — one data-proportional groupBy, then constant-size
    windows."""
    li = table(spark, sf_dir, "lineitem")
    disc_c = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    qty = F.col("l_quantity").cast("decimal(18,2)").cast("long")
    grid = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            disc_c.alias("disc_c"),
            qty.alias("q"),
        )
        .groupBy("flag", "disc_c")
        .agg(F.sum("q").cast("long").alias("w"))
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("disc_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("flag")
    cum = grid.select(
        "flag",
        "disc_c",
        "w",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("total_w"),
    )
    return cum.groupBy("flag").agg(
        F.max("total_w").cast("long").alias("total_weight"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_values"),
        F.min(F.expr("CASE WHEN 2 * cw >= total_w THEN disc_c END"))
        .cast("long")
        .alias("weighted_median_disc_pct_x100"),
    )


@query(
    "agg_cohens_d",
    oracle=f"""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296
                   < 2147483648 THEN 1 ELSE 0 END AS is_a,
         {_CENTS_SQL} AS cents
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
         SUM(CASE WHEN is_a = 1 THEN CAST(cents AS HUGEINT) * cents
                  ELSE 0 END) AS ss_a,
         SUM(CASE WHEN is_a = 0 THEN CAST(cents AS HUGEINT) * cents
                  ELSE 0 END) AS ss_b
  FROM t
)
SELECT n_a, n_b,
       CAST(s_a AS DOUBLE) / n_a / 100.0 AS mean_a,
       CAST(s_b AS DOUBLE) / n_b / 100.0 AS mean_b,
       sqrt(((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
             + (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b))
            / (n_a + n_b - 2)) / 100.0 AS pooled_sd,
       (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
         / sqrt(((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
                 + (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b))
                / (n_a + n_b - 2)) AS cohens_d
FROM m
""",
    category="aggregations",
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size for the A/B purchase split — the
    magnitude companion to agg_welch_t's significance test (a tiny
    p-value with a negligible d is the classic big-data trap, so a
    pipeline reports both).  Pooled-variance form: exact integer
    n/s/ss per arm (squares in DECIMAL(38,0)/HUGEINT — module
    docstring), then ONE fixed-shape double expression — identical
    operand values and operation order in both engines make even
    the sqrt-bearing d bit-reproducible (agg_welch_t's certified
    trick).  The arm hash pre-masks user_id to 31 bits so the Knuth
    multiply can never overflow int64.  One conditional-aggregate
    pass, no shuffle beyond the 1-row rollup."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    arm_a = (
        F.col("user_id").bitwiseAND(2147483647) * 2654435761
    ) % 4294967296 < 2147483648
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(
        F.when(arm_a, 1).otherwise(0).alias("is_a"), cents.alias("cents")
    )
    big = F.col("cents").cast("decimal(38,0)") * F.col("cents")
    m = t.agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("is_a") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(F.col("is_a") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_b"),
        F.sum(F.when(F.col("is_a") == 1, big).otherwise(0)).alias("ss_a"),
        F.sum(F.when(F.col("is_a") == 0, big).otherwise(0)).alias("ss_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a"), F.col("s_b")
    dssa = F.col("ss_a").cast("double")
    dssb = F.col("ss_b").cast("double")
    pooled_var = (
        (dssa - s_a.cast("double") * s_a / n_a)
        + (dssb - s_b.cast("double") * s_b / n_b)
    ) / (n_a + n_b - 2)
    return m.select(
        "n_a",
        "n_b",
        (s_a.cast("double") / n_a / 100.0).alias("mean_a"),
        (s_b.cast("double") / n_b / 100.0).alias("mean_b"),
        (F.sqrt(pooled_var) / 100.0).alias("pooled_sd"),
        (
            (s_a.cast("double") / n_a - s_b.cast("double") / n_b)
            / F.sqrt(pooled_var)
        ).alias("cohens_d"),
    )


@query(
    "win_stochastic_osc",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
w AS (
  SELECT event_type, d, x,
         COUNT(*) OVER w14 AS n14,
         MIN(x) OVER w14 AS lo14,
         MAX(x) OVER w14 AS hi14
  FROM g
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
k AS (
  SELECT event_type, d, x, lo14, hi14,
         CASE WHEN hi14 > lo14 THEN (x - lo14) * 10000 // (hi14 - lo14)
              ELSE 5000 END AS k_bp
  FROM w WHERE n14 = 14
),
sm AS (
  SELECT event_type, d, x, lo14, hi14, k_bp,
         lag(k_bp, 1) OVER (PARTITION BY event_type ORDER BY d) AS k1,
         lag(k_bp, 2) OVER (PARTITION BY event_type ORDER BY d) AS k2
  FROM k
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(lo14 AS BIGINT) AS lo14, CAST(hi14 AS BIGINT) AS hi14,
       CAST(k_bp AS BIGINT) AS k_bp,
       CAST((k_bp + k1 + k2) // 3 AS BIGINT) AS d_bp
FROM sm WHERE k2 IS NOT NULL
""",
    category="windows",
)
def win_stochastic_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator (%K/%D) over the daily-revenue series —
    the where-in-the-range momentum indicator joining win_rsi /
    win_bollinger in the TA family: %K = position of today's value
    inside the trailing-14-day [low, high] band in basis points,
    %D = its 3-day simple moving average.  Both are EXACT integers:
    the band position is a non-negative floor division (flat bands
    pin %K to the 5000 midpoint by convention), and %D floors the
    3-term sum — zero float arithmetic anywhere.  Scale: trailing
    windows over the value-domain-bounded day grid (module
    docstring); one shuffle on event_type shared by both window
    passes."""
    g = _day_grid(spark, sf_dir)
    w14 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    )
    w = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.min("x").over(w14).alias("lo14"),
        F.max("x").over(w14).alias("hi14"),
    ).where(F.col("n14") == 14)
    k = w.select(
        "event_type",
        "d",
        "x",
        "lo14",
        "hi14",
        F.expr(
            "CASE WHEN hi14 > lo14 THEN (x - lo14) * 10000 DIV (hi14 - lo14)"
            " ELSE 5000 END"
        ).alias("k_bp"),
    )
    w1 = Window.partitionBy("event_type").orderBy("d")
    sm = k.select(
        "event_type",
        "d",
        "x",
        "lo14",
        "hi14",
        "k_bp",
        F.lag("k_bp", 1).over(w1).alias("k1"),
        F.lag("k_bp", 2).over(w1).alias("k2"),
    ).where(F.col("k2").isNotNull())
    return sm.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("lo14").cast("long").alias("lo14"),
        F.col("hi14").cast("long").alias("hi14"),
        F.col("k_bp").cast("long").alias("k_bp"),
        F.expr("(k_bp + k1 + k2) DIV 3").cast("long").alias("d_bp"),
    )


@query(
    "win_obv",
    oracle=f"""
WITH g AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM({_CENTS_SQL}) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS vol
  FROM events
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
),
f AS (
  SELECT event_type, d, x, vol,
         lag(x) OVER (PARTITION BY event_type ORDER BY d) AS prev_x
  FROM g
),
s AS (
  SELECT event_type, d, x, vol,
         CASE WHEN prev_x IS NULL THEN 0
              WHEN x > prev_x THEN vol
              WHEN x < prev_x THEN -vol
              ELSE 0 END AS flow
  FROM f
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x, vol,
       CAST(flow AS BIGINT) AS flow,
       CAST(SUM(flow) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS obv
FROM s
""",
    category="windows",
)
def win_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over the daily series — the classic
    volume-flow accumulation indicator: each day contributes its
    event count with the SIGN of the revenue move vs the previous
    day, and OBV is the running total (divergence between OBV and
    the value series is the standard exhaustion signal).  Entirely
    exact integers: a sign decision, a signed count, a running sum —
    bit-reproducible by construction.  Scale: one data-proportional
    groupBy builds the (type, day) grid with count AND sum in the
    same pass; the lag + cumulative windows run over the bounded
    grid, sharing one event_type shuffle."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(
        F.sum(cents).cast("long").alias("x"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    )
    w1 = Window.partitionBy("event_type").orderBy("d")
    f = g.withColumn("prev_x", F.lag("x").over(w1))
    s = f.select(
        "event_type",
        "d",
        "x",
        "vol",
        F.when(F.col("prev_x").isNull(), 0)
        .when(F.col("x") > F.col("prev_x"), F.col("vol"))
        .when(F.col("x") < F.col("prev_x"), -F.col("vol"))
        .otherwise(0)
        .alias("flow"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return s.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        "vol",
        F.col("flow").cast("long").alias("flow"),
        F.sum("flow").over(w_cum).cast("long").alias("obv"),
    )


@query(
    "win_aroon",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
i AS (
  SELECT * FROM (
    SELECT event_type, d, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS idx
    FROM g
  ) t WHERE idx < 1024
),
w AS (
  SELECT event_type, d, x, idx,
         COUNT(*) OVER w14 AS n14,
         MAX(x * 1024 + idx) OVER w14 AS hi_code,
         MIN(x * 1024 + (1024 - idx)) OVER w14 AS lo_code
  FROM i
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(idx - hi_code % 1024 AS BIGINT) AS days_since_high,
       CAST(idx - (1024 - lo_code % 1024) AS BIGINT) AS days_since_low,
       CAST((14 - (idx - hi_code % 1024)) * 100 // 14 AS BIGINT) AS aroon_up,
       CAST((14 - (idx - (1024 - lo_code % 1024))) * 100 // 14 AS BIGINT)
         AS aroon_down
FROM w WHERE n14 = 14
""",
    category="windows",
)
def win_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down over the daily series — time-since-extreme
    momentum (how recently did the trailing 14 days set their high /
    low), the indicator pair that needs an ARGMAX POSITION inside a
    window frame, which neither engine exposes directly: encoded
    exactly as MAX(x * 1024 + idx) — the day index rides in the low
    bits under the value, so the max recovers the most-recent
    highest day (ties break to the later day in BOTH engines by the
    same arithmetic), and MIN(x * 1024 + (1024 - idx)) mirrors it
    for the low.  Everything is int64 (sound while daily sums stay
    below 2^52 cents; past that the encoding moves to DECIMAL —
    module docstring) and the Aroon percentages are non-negative
    floor divisions — bit-exact, zero floats.  Scale: windows over
    the bounded day grid; the 1024 stride bounds the index domain at
    1024 days per partition, enforced by the idx < 1024 guard."""
    g = _day_grid(spark, sf_dir)
    w1 = Window.partitionBy("event_type").orderBy("d")
    i = g.select(
        "event_type", "d", "x", F.row_number().over(w1).alias("idx")
    ).where(F.col("idx") < 1024)
    w14 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    w = i.select(
        "event_type",
        "d",
        "x",
        "idx",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.max(F.col("x") * 1024 + F.col("idx")).over(w14).alias("hi_code"),
        F.min(F.col("x") * 1024 + (1024 - F.col("idx")))
        .over(w14)
        .alias("lo_code"),
    ).where(F.col("n14") == 14)
    since_hi = F.col("idx") - F.col("hi_code") % 1024
    since_lo = F.col("idx") - (1024 - F.col("lo_code") % 1024)
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        since_hi.cast("long").alias("days_since_high"),
        since_lo.cast("long").alias("days_since_low"),
        F.expr("(14 - (idx - hi_code % 1024)) * 100 DIV 14")
        .cast("long")
        .alias("aroon_up"),
        F.expr("(14 - (idx - (1024 - lo_code % 1024))) * 100 DIV 14")
        .cast("long")
        .alias("aroon_down"),
    )


@query(
    "agg_grubbs",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ss
  FROM g GROUP BY event_type
),
dev AS (
  SELECT g.event_type, m.n, m.s, m.ss,
         ABS(m.n * g.x - m.s) AS d, g.d AS day
  FROM g JOIN m ON m.event_type = g.event_type
),
mx AS (
  SELECT event_type, n, s, ss, MAX(d) AS max_dev
  FROM dev GROUP BY event_type, n, s, ss
)
SELECT mx.event_type, mx.n,
       CAST(mx.max_dev AS BIGINT) AS max_dev_scaled,
       strftime(MIN(dev.day), '%Y-%m-%d') AS outlier_day,
       CAST(mx.max_dev AS DOUBLE) / mx.n
         / sqrt((CAST(mx.n AS DOUBLE) * CAST(mx.ss AS DOUBLE)
                 - CAST(mx.s AS DOUBLE) * mx.s)
                / (CAST(mx.n AS DOUBLE) * (mx.n - 1))) AS grubbs_g
FROM mx JOIN dev ON dev.event_type = mx.event_type AND dev.d = mx.max_dev
GROUP BY mx.event_type, mx.n, mx.max_dev, mx.s, mx.ss
""",
    category="aggregations",
)
def agg_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs outlier test per event type over the daily series —
    the single-most-extreme-observation test (the formal version of
    win_zscore_anomaly's per-day flags): G = max|x - mean| / sd,
    with the deviation carried as the EXACT integer |n*x - s| (the
    mean's denominator cleared) so the argmax day is chosen by pure
    integer comparison (ties resolve to the earliest day via MIN),
    and G itself is ONE fixed-shape double expression over exact
    n/s/ss — bit-reproducible (the agg_welch_t certification;
    squares run in DECIMAL(38,0)/HUGEINT per the module docstring).
    Scale: one data-proportional groupBy builds the grid; moments
    and argmax run on the bounded grid with the 5-row moment table
    broadcast back."""
    g = _day_grid(spark, sf_dir)
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    dev = g.join(
        F.broadcast(m.withColumnRenamed("event_type", "et_m")),
        g["event_type"] == F.col("et_m"),
    ).select(
        "event_type",
        "n",
        "s",
        "ss",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("dv"),
        F.col("d").alias("day"),
    )
    mx = dev.groupBy("event_type", "n", "s", "ss").agg(
        F.max("dv").alias("max_dev")
    )
    j = mx.join(
        dev.select(
            F.col("event_type").alias("et_d"),
            F.col("dv"),
            F.col("day"),
        ),
        (F.col("event_type") == F.col("et_d")) & (F.col("dv") == F.col("max_dev")),
    )
    sd = F.sqrt(
        (
            F.col("n").cast("double") * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return j.groupBy("event_type", "n", "max_dev", "s", "ss").agg(
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("outlier_day"),
    ).select(
        "event_type",
        "n",
        F.col("max_dev").cast("long").alias("max_dev_scaled"),
        "outlier_day",
        (F.col("max_dev").cast("double") / F.col("n") / sd).alias("grubbs_g"),
    )


@query(
    "win_ulcer_index",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
rm AS (
  SELECT event_type, d, x,
         MAX(x) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_max
  FROM g
),
dd AS (
  SELECT event_type, d, x, run_max,
         CASE WHEN run_max > 0 THEN (run_max - x) * 10000 // run_max
              ELSE 0 END AS dd_bp
  FROM rm
),
w AS (
  SELECT event_type, d, x, dd_bp,
         COUNT(*) OVER w14 AS n14,
         SUM(dd_bp * dd_bp) OVER w14 AS sum_dd2
  FROM dd
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(dd_bp AS BIGINT) AS dd_bp,
       CAST(sum_dd2 AS BIGINT) AS sum_dd2,
       sqrt(CAST(sum_dd2 AS DOUBLE) / 14.0) AS ulcer_bp
FROM w WHERE n14 = 14
""",
    category="windows",
)
def win_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index over the daily series — the downside-risk
    companion to win_drawdown (root-mean-square of the trailing
    14-day percentage drawdowns; unlike max drawdown it punishes
    DURATION underwater, not just depth): drawdowns are exact
    integer basis points off the running maximum (non-negative
    floor division; run_max >= x always), their squares and the
    14-day sum stay int64 (dd <= 10^4 so sum_dd2 <= 1.4e9), and
    the single final sqrt sees the identical exact integer in both
    engines.  Scale: a cumulative-max window plus a trailing frame
    over the value-domain-bounded day grid, sharing one event_type
    shuffle."""
    g = _day_grid(spark, sf_dir)
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rm = g.select(
        "event_type", "d", "x", F.max("x").over(w_run).alias("run_max")
    )
    dd = rm.select(
        "event_type",
        "d",
        "x",
        F.expr(
            "CASE WHEN run_max > 0 THEN (run_max - x) * 10000 DIV run_max"
            " ELSE 0 END"
        ).alias("dd_bp"),
    )
    w14 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    w = dd.select(
        "event_type",
        "d",
        "x",
        "dd_bp",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.sum(F.col("dd_bp") * F.col("dd_bp")).over(w14).alias("sum_dd2"),
    ).where(F.col("n14") == 14)
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("dd_bp").cast("long").alias("dd_bp"),
        F.col("sum_dd2").cast("long").alias("sum_dd2"),
        F.sqrt(F.col("sum_dd2").cast("double") / 14.0).alias("ulcer_bp"),
    )


@query(
    "agg_gini_impurity",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY source, lang
),
t AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_labels,
         SUM(CAST(cnt AS HUGEINT) * cnt) AS sum_sq
  FROM c GROUP BY source
)
SELECT source, n, n_labels,
       CAST((CAST(n AS HUGEINT) * n - sum_sq) * 1000000
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS impurity_ppm,
       1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS impurity
FROM t
""",
    category="aggregations",
)
def agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of the language mix per source — the label-
    mixedness diagnostic (decision-tree split criterion; here: how
    language-pure each corpus shard is, the stratification signal a
    curation pipeline reads before deciding to split a source):
    1 - sum(p_l^2), carried as the EXACT integer rational
    (n^2 - sum(c^2)) / n^2 and emitted both as a floor-scaled ppm
    (pure integer — the squares run in DECIMAL(38,0)/HUGEINT so the
    identity survives n past 2^31) and as the one-division double.
    Distinct from agg_gini (the wealth-concentration coefficient
    over a sorted value distribution) and agg_diversity_simpson
    (1/sum(p^2) over event types): same family, different statistic
    and different table.  One groupBy to the (source, lang) grid,
    one rollup — both key-partitioned."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias(
            "sum_sq"
        ),
    )
    nn = F.col("n").cast("decimal(38,0)") * F.col("n")
    return t.select(
        "source",
        "n",
        "n_labels",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * n - sum_sq) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("impurity_ppm"),
        (
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("impurity"),
    )


@query(
    "win_keltner",
    oracle=f"""
WITH g AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         arg_min({_CENTS_SQL}, ts) AS o,
         MAX({_CENTS_SQL}) AS h,
         MIN({_CENTS_SQL}) AS l,
         arg_max({_CENTS_SQL}, ts) AS c
  FROM events
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
),
tr AS (
  SELECT event_type, d, c, h, l,
         CASE WHEN lag(c) OVER w IS NULL THEN h - l
              ELSE GREATEST(h - l, ABS(h - lag(c) OVER w),
                            ABS(l - lag(c) OVER w)) END AS tr
  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
k AS (
  SELECT event_type, d, c, tr,
         COUNT(*) OVER w14 AS n14,
         SUM(tr) OVER w14 // 14 AS atr_c,
         SUM(c) OVER w14 // 14 AS mid_c
  FROM tr
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(c AS BIGINT) AS close_c, CAST(tr AS BIGINT) AS tr_c,
       CAST(atr_c AS BIGINT) AS atr_c, CAST(mid_c AS BIGINT) AS mid_c,
       CAST(mid_c + 2 * atr_c AS BIGINT) AS upper_c,
       CAST(mid_c - 2 * atr_c AS BIGINT) AS lower_c
FROM k WHERE n14 = 14
""",
    category="windows",
)
def win_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channel over daily OHLC bars — the volatility
    envelope built from TRUE RANGE (which sees overnight gaps via
    the previous close, unlike win_bollinger's close-only sigma):
    per (type, day) OHLC in exact cents (selection aggregates —
    arg_min/arg_max by the globally-unique ts), TR =
    max(h-l, |h-prev_c|, |l-prev_c|) in pure integers (first day
    falls back to h-l), ATR and the midline are trailing-14 sums
    floor-divided by 14, and the bands are mid ± 2*ATR — zero float
    arithmetic anywhere.  Scale: one data-proportional groupBy
    builds the OHLC grid; the lag + trailing windows run on the
    bounded day grid sharing one event_type shuffle."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = e.select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        "ts",
        cents.alias("cents"),
    ).groupBy("event_type", "d").agg(
        F.min_by("cents", "ts").alias("o"),
        F.max("cents").alias("h"),
        F.min("cents").alias("l"),
        F.max_by("cents", "ts").alias("c"),
    )
    w1 = Window.partitionBy("event_type").orderBy("d")
    prev_c = F.lag("c").over(w1)
    tr = g.select(
        "event_type",
        "d",
        "c",
        F.when(prev_c.isNull(), F.col("h") - F.col("l"))
        .otherwise(
            F.greatest(
                F.col("h") - F.col("l"),
                F.abs(F.col("h") - prev_c),
                F.abs(F.col("l") - prev_c),
            )
        )
        .alias("tr"),
    )
    w14 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    k = tr.select(
        "event_type",
        "d",
        "c",
        "tr",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.expr("SUM(tr) OVER (PARTITION BY event_type ORDER BY d"
               " ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) DIV 14").alias("atr_c"),
        F.expr("SUM(c) OVER (PARTITION BY event_type ORDER BY d"
               " ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) DIV 14").alias("mid_c"),
    ).where(F.col("n14") == 14)
    return k.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").cast("long").alias("close_c"),
        F.col("tr").cast("long").alias("tr_c"),
        F.col("atr_c").cast("long").alias("atr_c"),
        F.col("mid_c").cast("long").alias("mid_c"),
        (F.col("mid_c") + 2 * F.col("atr_c")).cast("long").alias("upper_c"),
        (F.col("mid_c") - 2 * F.col("atr_c")).cast("long").alias("lower_c"),
    )


@query(
    "agg_tukey_outliers",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS cents FROM events
),
grid AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c GROUP BY event_type, cents
),
w AS (
  SELECT event_type, cents, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM grid
),
q AS (
  SELECT event_type, MAX(n) AS n,
         MIN(CASE WHEN cum >= (n + 3) // 4 THEN cents END) AS q1,
         MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END) AS q3
  FROM w GROUP BY event_type
)
SELECT g.event_type, CAST(q.n AS BIGINT) AS n,
       CAST(q.q1 AS BIGINT) AS q1_cents,
       CAST(q.q3 AS BIGINT) AS q3_cents,
       CAST(q.q3 - q.q1 AS BIGINT) AS iqr_cents,
       CAST(SUM(CASE WHEN 2 * g.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     THEN g.cnt ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 2 * g.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN g.cnt ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM grid g JOIN q ON q.event_type = g.event_type
GROUP BY g.event_type, q.n, q.q1, q.q3
""",
    category="aggregations",
)
def agg_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type — the boxplot rule
    (beyond Q1/Q3 ∓ 1.5*IQR) that agg_mad_outliers' median-based
    variant complements: quartiles are EXACT order statistics read
    off the cents-grid running counts (ceil-rank convention
    (n+3) DIV 4 / (3n+3) DIV 4), and the half-integer 1.5*IQR
    fences are compared at 2x scale so everything stays integer —
    2*v < 2*Q1 - 3*IQR — with zero rounding anywhere.  Scale: grid
    windows only (value-domain-bounded, the module discipline); the
    4-row quartile table joins back per type."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = lifecycle.checkpoint(  # read by quartiles AND census
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    w = grid.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    q = w.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.expr("CASE WHEN cum >= (n + 3) DIV 4 THEN cents END")).alias(
            "q1"
        ),
        F.min(
            F.expr("CASE WHEN cum >= (3 * n + 3) DIV 4 THEN cents END")
        ).alias("q3"),
    )
    j = grid.join(
        F.broadcast(q.withColumnRenamed("event_type", "et_q")),
        grid["event_type"] == F.col("et_q"),
    )
    low = F.expr("2 * cents < 2 * q1 - 3 * (q3 - q1)")
    high = F.expr("2 * cents > 2 * q3 + 3 * (q3 - q1)")
    return j.groupBy("event_type", "n", "q1", "q3").agg(
        F.sum(F.when(low, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_low_outliers"),
        F.sum(F.when(high, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_high_outliers"),
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("q1").cast("long").alias("q1_cents"),
        F.col("q3").cast("long").alias("q3_cents"),
        (F.col("q3") - F.col("q1")).cast("long").alias("iqr_cents"),
        "n_low_outliers",
        "n_high_outliers",
    )
