"""Fourth statistics wave (r9, for the r10 grading window;
SURVEY.md §2.4/§2.5 additions): the non-parametric / categorical
inference tier — Mood's median test, Cochran's Q, McNemar's paired
test, odds ratio / relative risk, Cliff's delta, the Hodges-Lehmann
shift estimator, the seasonal Mann-Kendall trend test, Fleiss' kappa
for 3+ raters, a two-sample Poisson rate test, and the Wilcoxon
signed-rank test.

Same discipline as stats_ext / ta_stats: exact integer counts and
rank machinery (doubled midranks, 2x-scaled medians, value-domain
grids), the agg_chi_square one-row pivot for cross-group combination
over the FIXED five-type domain, and one fixed-order double
expression at the end.  Squared terms that can pass int64 run in
DECIMAL(38,0)/HUGEINT and cross into doubles via VARCHAR (the
agg_jarque_bera rounding gotcha: DuckDB's direct HUGEINT->DOUBLE is
not correctly rounded; string->double is, in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import lifecycle
from ..io import table
from ..registry import query
from .stats_ext import _CENTS_SQL, _GRID_SQL, _day_grid
from .ta_stats import _TYPES


@query(
    "agg_mood_median",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS cents FROM events
),
grid AS (
  SELECT cents,
         {", ".join(f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}" for t in _TYPES)},
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM c GROUP BY cents
),
w AS (
  SELECT *, SUM(nt) OVER (ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cum,
         SUM(nt) OVER () AS n
  FROM grid
),
med AS (
  SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
       + MIN(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS med2
  FROM w
),
m AS (
  SELECT
    {", ".join(f"CAST(SUM(CASE WHEN 2 * g.cents > med.med2 THEN g.n_{t} ELSE 0 END) AS BIGINT) AS a_{t}" for t in _TYPES)},
    {", ".join(f"CAST(SUM(CASE WHEN 2 * g.cents < med.med2 THEN g.n_{t} ELSE 0 END) AS BIGINT) AS b_{t}" for t in _TYPES)},
    CAST(SUM(CASE WHEN 2 * g.cents = med.med2 THEN g.nt ELSE 0 END)
         AS BIGINT) AS n_at_median
  FROM grid g CROSS JOIN med
),
t2 AS (
  SELECT m.*,
         {" + ".join(f"a_{t}" for t in _TYPES)} AS ca,
         {" + ".join(f"b_{t}" for t in _TYPES)} AS cb,
         {" + ".join(f"a_{t} + b_{t}" for t in _TYPES)} AS nn
  FROM m
)
SELECT {", ".join(f"a_{t}" for t in _TYPES)},
       {", ".join(f"b_{t}" for t in _TYPES)},
       n_at_median, CAST(nn AS BIGINT) AS n_used,
       CAST(4 AS BIGINT) AS dof,
       {" + ".join(
         f"(CAST(a_{t} AS DOUBLE) * nn - (a_{t} + b_{t}) * CAST(ca AS DOUBLE))"
         f" * (CAST(a_{t} AS DOUBLE) * nn - (a_{t} + b_{t}) * CAST(ca AS DOUBLE))"
         f" / ((a_{t} + b_{t}) * CAST(ca AS DOUBLE) * nn)"
         f" + (CAST(b_{t} AS DOUBLE) * nn - (a_{t} + b_{t}) * CAST(cb AS DOUBLE))"
         f" * (CAST(b_{t} AS DOUBLE) * nn - (a_{t} + b_{t}) * CAST(cb AS DOUBLE))"
         f" / ((a_{t} + b_{t}) * CAST(cb AS DOUBLE) * nn)"
         for t in _TYPES)} AS chi2
FROM t2
""",
    category="aggregations",
)
def agg_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five event types — does any
    type's value distribution sit above/below the POOLED median
    (the quick-and-robust k-sample location screen beside
    agg_kruskal_wallis's rank-powered version): the pooled median is
    an exact doubled order statistic off the global cents grid,
    above/below counts per type compare at 2x scale (values AT the
    median are excluded, counted separately — the standard
    convention), and the 5x2 chi-square combines the ten integer
    counts in one fixed-order expression (the agg_chi_square
    pivot).  Scale: one grid groupBy + one ordered window pass;
    everything after is value-domain-bounded."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = lifecycle.checkpoint(  # read by median pass AND census
        e.select("event_type", cents.alias("cents"))
        .groupBy("cents")
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, 1))
                .cast("long")
                .alias(f"n_{t}")
                for t in _TYPES
            ],
            F.count(F.lit(1)).cast("long").alias("nt"),
        )
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    w = grid.select(
        "cents",
        "nt",
        F.sum("nt").over(w_cum).alias("cum"),
        F.sum("nt").over(w_all).alias("n"),
    )
    med = w.agg(
        (
            F.min(F.expr("CASE WHEN cum >= (n + 1) DIV 2 THEN cents END"))
            + F.min(F.expr("CASE WHEN cum >= n DIV 2 + 1 THEN cents END"))
        ).alias("med2")
    )
    m = grid.crossJoin(F.broadcast(med)).agg(
        *[
            F.sum(
                F.when(2 * F.col("cents") > F.col("med2"), F.col(f"n_{t}")).otherwise(0)
            )
            .cast("long")
            .alias(f"a_{t}")
            for t in _TYPES
        ],
        *[
            F.sum(
                F.when(2 * F.col("cents") < F.col("med2"), F.col(f"n_{t}")).otherwise(0)
            )
            .cast("long")
            .alias(f"b_{t}")
            for t in _TYPES
        ],
        F.sum(F.when(2 * F.col("cents") == F.col("med2"), F.col("nt")).otherwise(0))
        .cast("long")
        .alias("n_at_median"),
    )
    ca = None
    cb = None
    nn = None
    for t in _TYPES:
        ca = F.col(f"a_{t}") if ca is None else ca + F.col(f"a_{t}")
        cb = F.col(f"b_{t}") if cb is None else cb + F.col(f"b_{t}")
        rt = F.col(f"a_{t}") + F.col(f"b_{t}")
        nn = rt if nn is None else nn + rt
    t2 = m.select("*", ca.alias("ca"), cb.alias("cb"), nn.alias("nn"))
    chi2 = None
    for t in _TYPES:
        a, b = F.col(f"a_{t}"), F.col(f"b_{t}")
        row = a + b
        da = a.cast("double") * F.col("nn") - row * F.col("ca").cast("double")
        db = b.cast("double") * F.col("nn") - row * F.col("cb").cast("double")
        for term in (
            da * da / (row * F.col("ca").cast("double") * F.col("nn")),
            db * db / (row * F.col("cb").cast("double") * F.col("nn")),
        ):
            chi2 = term if chi2 is None else chi2 + term
    return t2.select(
        *[F.col(f"a_{t}") for t in _TYPES],
        *[F.col(f"b_{t}") for t in _TYPES],
        "n_at_median",
        F.col("nn").cast("long").alias("n_used"),
        F.lit(4).cast("long").alias("dof"),
        chi2.alias("chi2"),
    )


@query(
    "agg_cochran_q",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
med AS (
  SELECT event_type,
         MIN(m1) + MIN(m2) AS med2 FROM (
    SELECT event_type,
           CASE WHEN cum >= (n + 1) // 2 THEN x END AS m1,
           CASE WHEN cum >= n // 2 + 1 THEN x END AS m2
    FROM (
      SELECT event_type, x,
             SUM(1) OVER (PARTITION BY event_type ORDER BY x, d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM g
    ) w
  ) q GROUP BY event_type
),
x AS (
  SELECT g.d, g.event_type,
         CASE WHEN 2 * g.x > m.med2 THEN 1 ELSE 0 END AS hi
  FROM g JOIN med m ON m.event_type = g.event_type
),
full_d AS (SELECT d FROM x GROUP BY d HAVING COUNT(*) = 5),
b AS (SELECT x.* FROM x JOIN full_d f ON f.d = x.d),
rows_ AS (
  SELECT d, CAST(SUM(hi) AS BIGINT) AS r FROM b GROUP BY d
),
m AS (
  SELECT
    {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN hi END) AS BIGINT) AS c_{t}" for t in _TYPES)},
    CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days
  FROM b
),
rm AS (
  SELECT CAST(SUM(r) AS BIGINT) AS sum_r,
         CAST(SUM(r * r) AS BIGINT) AS sum_r2
  FROM rows_
)
SELECT n_days, {", ".join(f"c_{t}" for t in _TYPES)},
       sum_r, sum_r2, CAST(4 AS BIGINT) AS dof,
       4.0 * (5.0 * ({" + ".join(f"CAST(c_{t} AS DOUBLE) * CAST(c_{t} AS DOUBLE)" for t in _TYPES)})
              - CAST(sum_r AS DOUBLE) * CAST(sum_r AS DOUBLE))
         / (5.0 * CAST(sum_r AS DOUBLE) - CAST(sum_r2 AS DOUBLE)) AS q_stat
FROM m CROSS JOIN rm
""",
    category="aggregations",
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the five event types — the k-treatment
    extension of McNemar for BINARY outcomes on matched blocks: the
    outcome is "this type's daily revenue beat its own series
    median" (an exact doubled-median comparison, so every x_ij is a
    pure integer bit), blocks are complete 5-type days, and
    Q = (k-1)(k*sum C_j^2 - (sum C_j)^2) / (k*sum R_i - sum R_i^2)
    combines the integer column totals (one-row pivot over the fixed
    type domain) and row-sum moments in ONE double expression.
    Scale: windows over the bounded day grid; the binary matrix is
    days x 5."""
    g = _day_grid(spark, sf_dir)
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("x", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    w = g.select(
        "event_type",
        "d",
        "x",
        F.sum(F.lit(1)).over(w_cum).alias("cum"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    med = w.groupBy("event_type").agg(
        (
            F.min(F.expr("CASE WHEN cum >= (n + 1) DIV 2 THEN x END"))
            + F.min(F.expr("CASE WHEN cum >= n DIV 2 + 1 THEN x END"))
        ).alias("med2")
    )
    x = g.join(
        F.broadcast(med.withColumnRenamed("event_type", "et_m")),
        g["event_type"] == F.col("et_m"),
    ).select(
        "d",
        "event_type",
        F.when(2 * F.col("x") > F.col("med2"), 1).otherwise(0).alias("hi"),
    )
    full_d = x.groupBy("d").agg(F.count(F.lit(1)).alias("k")).where(F.col("k") == 5)
    b = lifecycle.checkpoint(x.join(full_d.select("d"), "d"))
    rows_ = b.groupBy("d").agg(F.sum("hi").cast("long").alias("r"))
    m = b.agg(
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("hi")))
            .cast("long")
            .alias(f"c_{t}")
            for t in _TYPES
        ],
        F.countDistinct("d").cast("long").alias("n_days"),
    )
    rm = rows_.agg(
        F.sum("r").cast("long").alias("sum_r"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_r2"),
    )
    j = m.crossJoin(F.broadcast(rm))
    csq = None
    for t in _TYPES:
        tt = F.col(f"c_{t}").cast("double") * F.col(f"c_{t}").cast("double")
        csq = tt if csq is None else csq + tt
    q_stat = (
        F.lit(4.0)
        * (
            F.lit(5.0) * csq
            - F.col("sum_r").cast("double") * F.col("sum_r").cast("double")
        )
        / (F.lit(5.0) * F.col("sum_r").cast("double") - F.col("sum_r2").cast("double"))
    )
    return j.select(
        "n_days",
        *[F.col(f"c_{t}") for t in _TYPES],
        "sum_r",
        "sum_r2",
        F.lit(4).cast("long").alias("dof"),
        q_stat.alias("q_stat"),
    )


@query(
    "agg_mcnemar",
    oracle="""
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN CAST(date_trunc('day', ts) AS DATE) < DATE '2024-01-16'
                  THEN 1 ELSE 0 END) AS h1,
         MAX(CASE WHEN CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-16'
                  THEN 1 ELSE 0 END) AS h2
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(SUM(h1 * h2) AS BIGINT) AS both_halves,
         CAST(SUM(h1 * (1 - h2)) AS BIGINT) AS first_only,
         CAST(SUM((1 - h1) * h2) AS BIGINT) AS second_only,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM u
)
SELECT n_users, both_halves, first_only, second_only,
       CASE WHEN first_only + second_only = 0 THEN 0.0
            ELSE CAST(first_only - second_only AS DOUBLE)
                 * CAST(first_only - second_only AS DOUBLE)
                 / CAST(first_only + second_only AS DOUBLE) END AS chi2,
       CASE WHEN first_only + second_only = 0 THEN 0.0
            ELSE (ABS(CAST(first_only AS DOUBLE)
                      - CAST(second_only AS DOUBLE)) - 1.0)
                 * (ABS(CAST(first_only AS DOUBLE)
                        - CAST(second_only AS DOUBLE)) - 1.0)
                 / CAST(first_only + second_only AS DOUBLE) END
         AS chi2_corrected
FROM m
""",
    category="aggregations",
)
def agg_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired user activity — did the population's
    active-user set SHIFT between the two halves of the month (the
    retention drift question a DAU curve can't answer, because only
    the DISCORDANT users carry signal): per user two binary flags
    (active in days 1-15 / days 16-30), the 2x2 discordant cells
    b = active-then-gone and c = newly-active are exact integer
    counts, and chi2 = (b-c)^2/(b+c) plus Edwards' continuity
    correction are one fixed double expression each (a fully
    concordant population — zero discordant users, as happens at the
    smallest fixture SF — pins both statistics to 0.0 instead of
    dividing by zero; ANSI mode makes the unguarded division an
    ERROR, not a NULL).  Scale: one
    user_id hash-agg with map-side partials; four counters out."""
    e = table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(day < F.lit("2024-01-16").cast("date"), 1).otherwise(0)
        ).alias("h1"),
        F.max(
            F.when(day >= F.lit("2024-01-16").cast("date"), 1).otherwise(0)
        ).alias("h2"),
    )
    m = u.agg(
        F.sum(F.col("h1") * F.col("h2")).cast("long").alias("both_halves"),
        F.sum(F.col("h1") * (1 - F.col("h2"))).cast("long").alias("first_only"),
        F.sum((1 - F.col("h1")) * F.col("h2")).cast("long").alias("second_only"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    d = F.col("first_only").cast("double") - F.col("second_only").cast("double")
    tot = (F.col("first_only") + F.col("second_only")).cast("double")
    dd = (
        F.col("first_only") - F.col("second_only")
    ).cast("double")
    no_disc = F.col("first_only") + F.col("second_only") == 0
    return m.select(
        "n_users",
        "both_halves",
        "first_only",
        "second_only",
        F.when(no_disc, F.lit(0.0)).otherwise(dd * dd / tot).alias("chi2"),
        F.when(no_disc, F.lit(0.0))
        .otherwise((F.abs(d) - 1.0) * (F.abs(d) - 1.0) / tot)
        .alias("chi2_corrected"),
    )


@query(
    "agg_odds_ratio",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
),
m AS (
  SELECT CAST(SUM(is_a * is_conv) AS BIGINT) AS a,
         CAST(SUM(is_a * (1 - is_conv)) AS BIGINT) AS b,
         CAST(SUM((1 - is_a) * is_conv) AS BIGINT) AS c,
         CAST(SUM((1 - is_a) * (1 - is_conv)) AS BIGINT) AS d
  FROM t
)
SELECT a, b, c, d,
       CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
         / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS odds_ratio,
       (CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
         / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)) AS relative_risk,
       1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
         + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)
         AS log_or_variance
FROM m
""",
    category="aggregations",
)
def agg_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio + relative risk for purchase between the hash arms
    — the 2x2 effect sizes agg_two_proportion_z's significance
    number doesn't give: four exact integer cells, OR = ad/bc and
    RR = (a/(a+b))/(c/(c+d)) each ONE fixed double expression, plus
    the Woolf log-OR variance 1/a+1/b+1/c+1/d (the CI building
    block; the log itself is libm and stays out — documented).
    Scale: one shuffle-free conditional aggregation, four
    counters."""
    ev = table(spark, sf_dir, "events")
    is_a = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296
        < 2147483648,
        1,
    ).otherwise(0)
    is_conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    t = ev.select(is_a.alias("is_a"), is_conv.alias("is_conv"))
    m = t.agg(
        F.sum(F.col("is_a") * F.col("is_conv")).cast("long").alias("a"),
        F.sum(F.col("is_a") * (1 - F.col("is_conv"))).cast("long").alias("b"),
        F.sum((1 - F.col("is_a")) * F.col("is_conv")).cast("long").alias("c"),
        F.sum((1 - F.col("is_a")) * (1 - F.col("is_conv"))).cast("long").alias("d"),
    )
    da, db = F.col("a").cast("double"), F.col("b").cast("double")
    dc, dd = F.col("c").cast("double"), F.col("d").cast("double")
    return m.select(
        "a",
        "b",
        "c",
        "d",
        (da * dd / (db * dc)).alias("odds_ratio"),
        (
            (da / (F.col("a") + F.col("b")).cast("double"))
            / (dc / (F.col("c") + F.col("d")).cast("double"))
        ).alias("relative_risk"),
        (1.0 / da + 1.0 / db + 1.0 / dc + 1.0 / dd).alias("log_or_variance"),
    )


@query(
    "agg_cliffs_delta",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 1 ELSE 0 END AS is_a,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
per_v AS (
  SELECT cents,
         CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM t GROUP BY cents
),
w AS (
  SELECT na, nb,
         CAST(COALESCE(SUM(nb) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS nb_below,
         CAST(COALESCE(SUM(nb) OVER (ORDER BY cents
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS BIGINT) AS nb_above
  FROM per_v
),
m AS (
  SELECT CAST(SUM(na * nb_below) AS BIGINT) AS n_gt,
         CAST(SUM(na * nb_above) AS BIGINT) AS n_lt,
         CAST(SUM(na) AS BIGINT) AS n_a,
         CAST(SUM(nb) AS BIGINT) AS n_b
  FROM w
)
SELECT n_a, n_b, n_gt, n_lt,
       CAST(n_a * n_b - n_gt - n_lt AS BIGINT) AS n_tie,
       CAST(n_gt - n_lt AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS cliffs_delta
FROM m
""",
    category="aggregations",
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between the hash arms' purchase values — the
    ordinal effect size P(X_A > X_B) - P(X_A < X_B) that
    agg_mann_whitney's AUC maps to linearly but reads differently
    (0 = stochastic equality, ±1 = complete dominance): the
    greater/less pair counts are EXACT integers computed without
    touching pairs — per-value arm counts on the cents grid, one
    forward and one backward cumulative window give each value's
    opposite-arm mass below/above, and the pair totals are products
    summed over the grid.  delta is one double division.  Scale:
    one data-proportional groupBy to the grid; two ordered passes
    over the value domain."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    is_a = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296
        < 2147483648,
        1,
    ).otherwise(0)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(is_a.alias("is_a"), cents.alias("cents"))
    per_v = t.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
    )
    w_below = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    w_above = Window.orderBy("cents").rowsBetween(1, Window.unboundedFollowing)
    w = per_v.select(
        "na",
        "nb",
        F.coalesce(F.sum("nb").over(w_below), F.lit(0)).cast("long").alias("nb_below"),
        F.coalesce(F.sum("nb").over(w_above), F.lit(0)).cast("long").alias("nb_above"),
    )
    m = w.agg(
        F.sum(F.col("na") * F.col("nb_below")).cast("long").alias("n_gt"),
        F.sum(F.col("na") * F.col("nb_above")).cast("long").alias("n_lt"),
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
    )
    return m.select(
        "n_a",
        "n_b",
        "n_gt",
        "n_lt",
        (F.col("n_a") * F.col("n_b") - F.col("n_gt") - F.col("n_lt"))
        .cast("long")
        .alias("n_tie"),
        (
            (F.col("n_gt") - F.col("n_lt")).cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("cliffs_delta"),
    )


@query(
    "agg_hodges_lehmann",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
a AS (SELECT d, x FROM g WHERE event_type = 'click'),
b AS (SELECT d, x FROM g WHERE event_type = 'purchase'),
p AS (
  SELECT a.x - b.x AS diff FROM a CROSS JOIN b
),
w AS (
  SELECT diff,
         ROW_NUMBER() OVER (ORDER BY diff) AS rk,
         COUNT(*) OVER () AS n
  FROM p
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
       CAST(MIN(CASE WHEN rk = (n + 1) // 2 THEN diff END)
          + MIN(CASE WHEN rk = n // 2 + 1 THEN diff END) AS BIGINT) AS hl_x2,
       CAST(MIN(CASE WHEN rk = (n + 1) // 2 THEN diff END)
          + MIN(CASE WHEN rk = n // 2 + 1 THEN diff END) AS DOUBLE) / 2.0
         AS hl_shift
FROM w
""",
    category="aggregations",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between the click and purchase
    daily-revenue series — the robust "how much higher does one
    series run" location difference (median of ALL pairwise
    differences), the estimator agg_mann_whitney's test statistic
    inverts to: the day grids are bounded, so the cross join is
    O(days^2) pairs regardless of event volume (module discipline),
    and the median of differences is the exact doubled order
    statistic hl_x2 = lower+upper median — integer until the one
    final halving.  Scale: a bounded cross join + one ordered
    rank pass; the raw events contribute only the two grid
    groupBys."""
    g = _day_grid(spark, sf_dir)
    a = g.where(F.col("event_type") == "click").select(F.col("x").alias("xa"))
    b = g.where(F.col("event_type") == "purchase").select(F.col("x").alias("xb"))
    p = a.crossJoin(F.broadcast(b)).select(
        (F.col("xa") - F.col("xb")).alias("diff")
    )
    w_rk = Window.orderBy("diff")
    w_all = Window.partitionBy()
    w = p.select(
        "diff",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    hl2 = F.min(F.expr("CASE WHEN rk = (n + 1) DIV 2 THEN diff END")) + F.min(
        F.expr("CASE WHEN rk = n DIV 2 + 1 THEN diff END")
    )
    return w.agg(
        F.max("n").cast("long").alias("n_pairs"),
        hl2.cast("long").alias("hl_x2"),
        (hl2.cast("double") / 2.0).alias("hl_shift"),
    )


@query(
    "agg_seasonal_mann_kendall",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (
  SELECT event_type, d, x, dayofweek(d) AS season FROM g
),
pairs AS (
  SELECT s1.event_type,
         CASE WHEN s2.x > s1.x THEN 1 WHEN s2.x < s1.x THEN -1 ELSE 0 END AS sgn
  FROM s s1 JOIN s s2
    ON s2.event_type = s1.event_type AND s2.season = s1.season
   AND s2.d > s1.d
),
per_season AS (
  SELECT event_type, season, CAST(COUNT(*) AS BIGINT) AS ng
  FROM s GROUP BY event_type, season
),
m AS (
  SELECT p.event_type,
         CAST(SUM(p.sgn) AS BIGINT) AS s_total,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs p GROUP BY p.event_type
),
v AS (
  SELECT event_type,
         CAST(SUM(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT) AS var18
  FROM per_season GROUP BY event_type
)
SELECT m.event_type, m.s_total, m.n_pairs, v.var18,
       (CAST(m.s_total AS DOUBLE)
        - CASE WHEN m.s_total > 0 THEN 1.0
               WHEN m.s_total < 0 THEN -1.0 ELSE 0.0 END)
         / sqrt(CAST(v.var18 AS DOUBLE) / 18.0) AS z
FROM m JOIN v ON v.event_type = m.event_type
""",
    category="aggregations",
)
def agg_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test per daily-revenue series —
    agg_mann_kendall with the weekly cycle removed: concordance
    pairs are counted only WITHIN each weekday (season), so a
    strong day-of-week pattern cannot masquerade as a trend.  The
    seasonal S statistics and the variance terms
    sum_g n_g(n_g-1)(2n_g+5) are exact integers (var carried at
    18x), and the continuity-corrected z is one double expression
    per series row.  Scale: the within-season pair join is
    O(days^2/7) on the bounded grid; one event_type shuffle."""
    g = _day_grid(spark, sf_dir)
    s = g.select("event_type", "d", "x", F.dayofweek("d").alias("season"))
    s = lifecycle.checkpoint(s)  # pair join reads it twice
    s1 = s.select(
        F.col("event_type").alias("et1"),
        F.col("d").alias("d1"),
        F.col("x").alias("x1"),
        F.col("season").alias("se1"),
    )
    s2 = s.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("x").alias("x2"),
        F.col("season").alias("se2"),
    )
    pairs = s1.join(
        s2,
        (F.col("et2") == F.col("et1"))
        & (F.col("se2") == F.col("se1"))
        & (F.col("d2") > F.col("d1")),
    ).select(
        F.col("et1").alias("event_type"),
        F.when(F.col("x2") > F.col("x1"), 1)
        .when(F.col("x2") < F.col("x1"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    m = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_total"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    v = (
        s.groupBy("event_type", "season")
        .agg(F.count(F.lit(1)).cast("long").alias("ng"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5))
            .cast("long")
            .alias("var18")
        )
    )
    j = m.join(v.withColumnRenamed("event_type", "et_v"), m["event_type"] == F.col("et_v"))
    corr = (
        F.when(F.col("s_total") > 0, 1.0)
        .when(F.col("s_total") < 0, -1.0)
        .otherwise(0.0)
    )
    return j.select(
        "event_type",
        "s_total",
        "n_pairs",
        "var18",
        (
            (F.col("s_total").cast("double") - corr)
            / F.sqrt(F.col("var18").cast("double") / 18.0)
        ).alias("z"),
    )


@query(
    "agg_fleiss_kappa",
    oracle=f"""
WITH g AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         ((user_id & 2147483647) * 2654435761) % 3 AS rater,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events
  GROUP BY 1, 2, 3
),
votes AS (
  SELECT d, rater, MIN(event_type) AS cat FROM (
    SELECT d, rater, event_type,
           ROW_NUMBER() OVER (PARTITION BY d, rater
                              ORDER BY cnt DESC, event_type) AS rk
    FROM g
  ) r WHERE rk = 1 GROUP BY d, rater
),
full_d AS (SELECT d FROM votes GROUP BY d HAVING COUNT(*) = 3),
v AS (SELECT votes.* FROM votes JOIN full_d f ON f.d = votes.d),
cell AS (
  SELECT d,
         {", ".join(f"CAST(COUNT(CASE WHEN cat = '{t}' THEN 1 END) AS BIGINT) AS n_{t}" for t in _TYPES)}
  FROM v GROUP BY d
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM({" + ".join(f"n_{t} * (n_{t} - 1)" for t in _TYPES)})
              AS BIGINT) AS agree_pairs,
         {", ".join(f"CAST(SUM(n_{t}) AS BIGINT) AS c_{t}" for t in _TYPES)}
  FROM cell
)
SELECT n_items, agree_pairs, {", ".join(f"c_{t}" for t in _TYPES)},
       CAST(agree_pairs AS DOUBLE) / (CAST(n_items AS DOUBLE) * 6.0) AS p_bar,
       {" + ".join(
         f"(CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
         f" * (CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
         for t in _TYPES)} AS p_e,
       (CAST(agree_pairs AS DOUBLE) / (CAST(n_items AS DOUBLE) * 6.0)
        - ({" + ".join(
          f"(CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
          f" * (CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
          for t in _TYPES)}))
       / (1.0 - ({" + ".join(
          f"(CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
          f" * (CAST(c_{t} AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))"
          for t in _TYPES)})) AS fleiss_kappa
FROM m
""",
    category="aggregations",
)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for THREE raters — the multi-rater agreement
    statistic agg_cohens_kappa (two raters) can't give, the metric
    every labeling/RLHF pipeline reports per annotation batch:
    raters are the three deterministic hash cohorts, items are days,
    and each rater's "label" is its cohort's modal event type that
    day (deterministic argmax, ties to the alphabetically first).
    P_bar comes from the exact integer agreeing-pair count
    sum_i sum_j n_ij(n_ij-1) over N items x 3 raters (pairs per
    item = 6), P_e from the five pivoted category totals — both
    combine in ONE fixed-order double expression.  Scale: one
    (day, rater, type) groupBy; everything after is calendar-
    bounded."""
    e = table(spark, sf_dir, "events")
    rater = (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 3
    g = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        rater.alias("rater"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_rk = Window.partitionBy("d", "rater").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    votes = (
        g.select("d", "rater", "event_type", F.row_number().over(w_rk).alias("rk"))
        .where(F.col("rk") == 1)
        .groupBy("d", "rater")
        .agg(F.min("event_type").alias("cat"))
    )
    full_d = votes.groupBy("d").agg(F.count(F.lit(1)).alias("k")).where(
        F.col("k") == 3
    )
    v = votes.join(full_d.select("d"), "d")
    cell = v.groupBy("d").agg(
        *[
            F.count(F.when(F.col("cat") == t, 1)).cast("long").alias(f"n_{t}")
            for t in _TYPES
        ]
    )
    agree = None
    for t in _TYPES:
        tt = F.col(f"n_{t}") * (F.col(f"n_{t}") - 1)
        agree = tt if agree is None else agree + tt
    m = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(agree).cast("long").alias("agree_pairs"),
        *[F.sum(f"n_{t}").cast("long").alias(f"c_{t}") for t in _TYPES],
    )
    dn = F.col("n_items").cast("double")
    p_bar = F.col("agree_pairs").cast("double") / (dn * 6.0)
    p_e = None
    for t in _TYPES:
        share = F.col(f"c_{t}").cast("double") / (dn * 3.0)
        tt = share * share
        p_e = tt if p_e is None else p_e + tt
    return m.select(
        "n_items",
        "agree_pairs",
        *[F.col(f"c_{t}") for t in _TYPES],
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        ((p_bar - p_e) / (1.0 - p_e)).alias("fleiss_kappa"),
    )


@query(
    "agg_poisson_rate_test",
    oracle="""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                              < DATE '2024-01-16' THEN 1 END) AS BIGINT) AS k1,
         CAST(COUNT(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                              >= DATE '2024-01-16' THEN 1 END) AS BIGINT) AS k2
  FROM events GROUP BY event_type
)
SELECT event_type, k1, k2,
       CAST(k1 AS DOUBLE) / 15.0 AS rate1,
       CAST(k2 AS DOUBLE) / 15.0 AS rate2,
       (CAST(k1 AS DOUBLE) / 15.0 - CAST(k2 AS DOUBLE) / 15.0)
         / sqrt(CAST(k1 AS DOUBLE) / 225.0 + CAST(k2 AS DOUBLE) / 225.0) AS z,
       (CAST(k1 AS DOUBLE) - CAST(k1 + k2 AS DOUBLE) / 2.0)
         / sqrt(CAST(k1 + k2 AS DOUBLE) / 4.0) AS z_conditional
FROM m
""",
    category="aggregations",
)
def agg_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test per event type — did the event
    RATE change between the two 15-day halves of the month (the
    volume-drift companion to agg_mcnemar's membership drift):
    counts k1, k2 are exact integers; the Wald z on the rate
    difference and the conditional (binomial) z — which tests
    k1 ~ Bin(k1+k2, 1/2) under equal exposure — are each one fixed
    double expression per type row.  Scale: one conditional
    aggregation, two counters per type."""
    e = table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    m = e.groupBy("event_type").agg(
        F.count(F.when(day < F.lit("2024-01-16").cast("date"), 1))
        .cast("long")
        .alias("k1"),
        F.count(F.when(day >= F.lit("2024-01-16").cast("date"), 1))
        .cast("long")
        .alias("k2"),
    )
    d1 = F.col("k1").cast("double")
    d2 = F.col("k2").cast("double")
    tot = (F.col("k1") + F.col("k2")).cast("double")
    return m.select(
        "event_type",
        "k1",
        "k2",
        (d1 / 15.0).alias("rate1"),
        (d2 / 15.0).alias("rate2"),
        ((d1 / 15.0 - d2 / 15.0) / F.sqrt(d1 / 225.0 + d2 / 225.0)).alias("z"),
        ((d1 - tot / 2.0) / F.sqrt(tot / 4.0)).alias("z_conditional"),
    )


@query(
    "agg_wilcoxon_signed_rank",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
a AS (SELECT d, x FROM g WHERE event_type = 'click'),
b AS (SELECT d, x FROM g WHERE event_type = 'purchase'),
p AS (
  SELECT a.x - b.x AS diff, ABS(a.x - b.x) AS adiff
  FROM a JOIN b ON a.d = b.d
  WHERE a.x <> b.x
),
per_v AS (
  SELECT adiff,
         CAST(COUNT(CASE WHEN diff > 0 THEN 1 END) AS BIGINT) AS npos,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM p GROUP BY adiff
),
rk AS (
  SELECT npos, nt,
         2 * (CAST(COALESCE(SUM(nt) OVER (ORDER BY adiff
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
           + nt + 1 AS rank2
  FROM per_v
),
m AS (
  SELECT CAST(SUM(npos * rank2) AS BIGINT) AS w2_pos,
         CAST(SUM(nt) AS BIGINT) AS n,
         CAST(SUM(nt * rank2) AS BIGINT) AS w2_all
  FROM rk
)
SELECT n, w2_pos,
       CAST(w2_pos AS DOUBLE) / 2.0 AS w_plus,
       (CAST(w2_pos AS DOUBLE) / 2.0
        - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
       / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
              * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0) AS z
FROM m
""",
    category="aggregations",
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the paired click-purchase daily
    differences — the magnitude-aware upgrade of agg_sign_test
    (which throws the |difference| ranks away): zero differences
    drop (the standard convention), |diff| midranks stay integer at
    2x via the agg_mann_whitney doubling on the |diff| value grid,
    W+ = sum of positive-diff ranks is carried as the integer 2W+,
    and the normal-approximation z is one fixed double expression.
    Scale: the grid machinery is day-bounded; one ordered pass."""
    g = _day_grid(spark, sf_dir)
    a = g.where(F.col("event_type") == "click").select("d", F.col("x").alias("xa"))
    b = g.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("d2"), F.col("x").alias("xb")
    )
    p = (
        a.join(b, a["d"] == b["d2"])
        .where(F.col("xa") != F.col("xb"))
        .select(
            (F.col("xa") - F.col("xb")).alias("diff"),
            F.abs(F.col("xa") - F.col("xb")).alias("adiff"),
        )
    )
    per_v = p.groupBy("adiff").agg(
        F.count(F.when(F.col("diff") > 0, 1)).cast("long").alias("npos"),
        F.count(F.lit(1)).cast("long").alias("nt"),
    )
    w_prev = Window.orderBy("adiff").rowsBetween(Window.unboundedPreceding, -1)
    rk = per_v.select(
        "npos",
        "nt",
        (
            2 * F.coalesce(F.sum("nt").over(w_prev), F.lit(0)).cast("long")
            + F.col("nt")
            + 1
        ).alias("rank2"),
    )
    m = rk.agg(
        F.sum(F.col("npos") * F.col("rank2")).cast("long").alias("w2_pos"),
        F.sum("nt").cast("long").alias("n"),
    )
    dn = F.col("n").cast("double")
    w_plus = F.col("w2_pos").cast("double") / 2.0
    return m.select(
        "n",
        "w2_pos",
        w_plus.alias("w_plus"),
        (
            (w_plus - dn * (dn + 1.0) / 4.0)
            / F.sqrt(dn * (dn + 1.0) * (2.0 * dn + 1.0) / 24.0)
        ).alias("z"),
    )


@query(
    "agg_ljung_box",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (
  SELECT event_type, d, x,
         CAST(COUNT(*) OVER wt AS BIGINT) AS n,
         CAST(SUM(x) OVER wt AS BIGINT) AS sx
  FROM g WINDOW wt AS (PARTITION BY event_type)
),
dd AS (
  SELECT event_type, d, n, n * x - sx AS dev,
         lag(n * x - sx, 1) OVER wo AS l1,
         lag(n * x - sx, 2) OVER wo AS l2,
         lag(n * x - sx, 3) OVER wo AS l3,
         lag(n * x - sx, 4) OVER wo AS l4,
         lag(n * x - sx, 5) OVER wo AS l5
  FROM s WINDOW wo AS (PARTITION BY event_type ORDER BY d)
),
m AS (
  SELECT event_type, MAX(n) AS n,
         SUM(CAST(dev AS HUGEINT) * dev) AS den,
         SUM(CAST(dev AS HUGEINT) * l1) AS c1,
         SUM(CAST(dev AS HUGEINT) * l2) AS c2,
         SUM(CAST(dev AS HUGEINT) * l3) AS c3,
         SUM(CAST(dev AS HUGEINT) * l4) AS c4,
         SUM(CAST(dev AS HUGEINT) * l5) AS c5
  FROM dd GROUP BY event_type
),
r AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         CAST(CAST(den AS VARCHAR) AS DOUBLE) AS dden,
         CAST(CAST(c1 AS VARCHAR) AS DOUBLE) AS dc1,
         CAST(CAST(c2 AS VARCHAR) AS DOUBLE) AS dc2,
         CAST(CAST(c3 AS VARCHAR) AS DOUBLE) AS dc3,
         CAST(CAST(c4 AS VARCHAR) AS DOUBLE) AS dc4,
         CAST(CAST(c5 AS VARCHAR) AS DOUBLE) AS dc5
  FROM m
),
rr AS (
  SELECT event_type, n,
         dc1 / dden AS r1, dc2 / dden AS r2, dc3 / dden AS r3,
         dc4 / dden AS r4, dc5 / dden AS r5
  FROM r
)
SELECT event_type, n, r1, r2, r3, r4, r5,
       CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
         * (r1 * r1 / (CAST(n AS DOUBLE) - 1.0)
            + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
            + r3 * r3 / (CAST(n AS DOUBLE) - 3.0)
            + r4 * r4 / (CAST(n AS DOUBLE) - 4.0)
            + r5 * r5 / (CAST(n AS DOUBLE) - 5.0)) AS lb_stat
FROM rr
""",
    category="aggregations",
)
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box autocorrelation test (lags 1-5) per daily-revenue
    series — is the series white noise, the diagnostic run on
    forecast residuals (agg_holt_linear) and on agg_autocorr's
    single-lag readout generalized: deviations are N-scaled integers
    (dev = N*x - S, the agg_page_hinkley lattice), each lag-k
    autocovariance and the variance are EXACT HUGEINT/DECIMAL(38,0)
    sums crossing into doubles via VARCHAR (the correctly-rounded
    route), r_k = c_k/c_0 per row, and Q = n(n+2) sum r_k^2/(n-k)
    is one fixed-order expression over the five fixed lags.  Scale:
    five lags + one hash-agg over the bounded day grid."""
    g = _day_grid(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    s = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("x").over(wt).cast("long").alias("sx"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    dev = F.col("n") * F.col("x") - F.col("sx")
    dd = s.select(
        "event_type",
        "d",
        "n",
        dev.alias("dev"),
        *[F.lag(dev, k).over(wo).alias(f"l{k}") for k in range(1, 6)],
    )
    m = dd.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev").cast("decimal(38,0)") * F.col(f"l{k}")).alias(
                f"c{k}"
            )
            for k in range(1, 6)
        ],
    )
    r = m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("den").cast("string").cast("double").alias("dden"),
        *[
            F.col(f"c{k}").cast("string").cast("double").alias(f"dc{k}")
            for k in range(1, 6)
        ],
    )
    rr = r.select(
        "event_type",
        "n",
        *[(F.col(f"dc{k}") / F.col("dden")).alias(f"r{k}") for k in range(1, 6)],
    )
    dn = F.col("n").cast("double")
    q = None
    for k in range(1, 6):
        tt = F.col(f"r{k}") * F.col(f"r{k}") / (dn - float(k))
        q = tt if q is None else q + tt
    return rr.select(
        "event_type",
        "n",
        "r1",
        "r2",
        "r3",
        "r4",
        "r5",
        (dn * (dn + 2.0) * q).alias("lb_stat"),
    )


@query(
    "agg_durbin_watson",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (
  SELECT event_type, d, x,
         CAST(COUNT(*) OVER wt AS BIGINT) AS n,
         CAST(SUM(x) OVER wt AS BIGINT) AS sx
  FROM g WINDOW wt AS (PARTITION BY event_type)
),
dd AS (
  SELECT event_type, n, n * x - sx AS dev,
         lag(n * x - sx) OVER (PARTITION BY event_type ORDER BY d) AS pdev
  FROM s
),
m AS (
  SELECT event_type, MAX(n) AS n,
         SUM(CAST(dev AS HUGEINT) * dev) AS den,
         SUM(CASE WHEN pdev IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE CAST(dev - pdev AS HUGEINT) * (dev - pdev) END) AS num
  FROM dd GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(CAST(num AS VARCHAR) AS DOUBLE)
         / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS dw_stat
FROM m
""",
    category="aggregations",
)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic per daily
    series — the 0..4 gauge (2 = no autocorrelation, <2 positive)
    every regression residual check starts with, here on the
    mean-removed series: deviations are N-scaled integers, the
    squared-difference numerator and squared denominator are exact
    HUGEINT/DECIMAL(38,0) sums (first day contributes 0 to the
    numerator, the standard convention), and DW is ONE double
    division over the VARCHAR-routed casts.  Scale: one lag + one
    hash-agg over the bounded day grid."""
    g = _day_grid(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    s = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("x").over(wt).cast("long").alias("sx"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    dev = F.col("n") * F.col("x") - F.col("sx")
    dd = s.select(
        "event_type",
        "n",
        dev.alias("dev"),
        F.lag(dev).over(wo).alias("pdev"),
    )
    diff = F.col("dev") - F.col("pdev")
    m = dd.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("den"),
        F.sum(
            F.when(F.col("pdev").isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise(diff.cast("decimal(38,0)") * diff)
        ).alias("num"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (
            F.col("num").cast("string").cast("double")
            / F.col("den").cast("string").cast("double")
        ).alias("dw_stat"),
    )


# 10 fixed cent-buckets (width 5000) for the distribution distances —
# a FIXED domain, so per-bucket counts pivot to one row and the
# cross-bucket combinations run in fixed evaluation order.
_DIST_BUCKETS = list(range(10))


@query(
    "agg_distribution_distance",
    oracle=f"""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 1 ELSE 0 END AS is_a,
         LEAST(9, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000)
           AS bucket
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT
    {", ".join(f"CAST(SUM(CASE WHEN bucket = {b} THEN is_a ELSE 0 END) AS BIGINT) AS a_{b}" for b in _DIST_BUCKETS)},
    {", ".join(f"CAST(SUM(CASE WHEN bucket = {b} THEN 1 - is_a ELSE 0 END) AS BIGINT) AS b_{b}" for b in _DIST_BUCKETS)},
    CAST(SUM(is_a) AS BIGINT) AS n_a,
    CAST(SUM(1 - is_a) AS BIGINT) AS n_b
  FROM t
)
SELECT n_a, n_b,
       CAST({" + ".join(f"ABS(a_{b} * n_b - b_{b} * n_a)" for b in _DIST_BUCKETS)}
            AS BIGINT) AS tv_num,
       CAST({" + ".join(f"ABS(a_{b} * n_b - b_{b} * n_a)" for b in _DIST_BUCKETS)}
            AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
         AS total_variation,
       {" + ".join(f"sqrt((CAST(a_{b} AS DOUBLE) / CAST(n_a AS DOUBLE)) * (CAST(b_{b} AS DOUBLE) / CAST(n_b AS DOUBLE)))" for b in _DIST_BUCKETS)}
         AS bhattacharyya,
       sqrt(1.0 - ({" + ".join(f"sqrt((CAST(a_{b} AS DOUBLE) / CAST(n_a AS DOUBLE)) * (CAST(b_{b} AS DOUBLE) / CAST(n_b AS DOUBLE)))" for b in _DIST_BUCKETS)}))
         AS hellinger
FROM m
""",
    category="aggregations",
)
def agg_distribution_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution distances between the hash arms' purchase-value
    histograms — the drift gauges a feature store monitors (TV for
    the worst-case bucket gap, Hellinger/Bhattacharyya for the
    geometric overlap): the 10 fixed 50-dollar buckets pivot to one
    row of integer counts, total variation's numerator
    sum |a_i*N_b - b_i*N_a| is EXACT int64 (common-denominator
    trick — fixed-order integer adds), and the Bhattacharyya
    coefficient chains ten sqrt terms in fixed order (each sqrt sees
    the identical quotient of exact integers in both engines).
    Scale: one conditional aggregation over 22 counters."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    is_a = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296
        < 2147483648,
        1,
    ).otherwise(0)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(
        is_a.alias("is_a"),
        F.least(F.lit(9), F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 5000"
        )).alias("bucket"),
    )
    m = t.agg(
        *[
            F.sum(F.when(F.col("bucket") == b, F.col("is_a")).otherwise(0))
            .cast("long")
            .alias(f"a_{b}")
            for b in _DIST_BUCKETS
        ],
        *[
            F.sum(F.when(F.col("bucket") == b, 1 - F.col("is_a")).otherwise(0))
            .cast("long")
            .alias(f"b_{b}")
            for b in _DIST_BUCKETS
        ],
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
    )
    tv_num = None
    bc = None
    for b in _DIST_BUCKETS:
        term = F.abs(
            F.col(f"a_{b}") * F.col("n_b") - F.col(f"b_{b}") * F.col("n_a")
        )
        tv_num = term if tv_num is None else tv_num + term
        sq = F.sqrt(
            (F.col(f"a_{b}").cast("double") / F.col("n_a").cast("double"))
            * (F.col(f"b_{b}").cast("double") / F.col("n_b").cast("double"))
        )
        bc = sq if bc is None else bc + sq
    return m.select(
        "n_a",
        "n_b",
        tv_num.cast("long").alias("tv_num"),
        (
            tv_num.cast("double")
            / (2.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("total_variation"),
        bc.alias("bhattacharyya"),
        F.sqrt(1.0 - bc).alias("hellinger"),
    )


@query(
    "agg_wasserstein_1d",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 1 ELSE 0 END AS is_a,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
per_v AS (
  SELECT cents,
         CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM t GROUP BY cents
),
w AS (
  SELECT cents, na, nb,
         SUM(na) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         lead(cents) OVER (ORDER BY cents) AS next_v,
         SUM(na) OVER () AS n_a, SUM(nb) OVER () AS n_b
  FROM per_v
),
m AS (
  SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
         SUM(CASE WHEN next_v IS NULL THEN CAST(0 AS HUGEINT)
                  ELSE ABS(CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                       * (next_v - cents) END) AS num
  FROM w
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(CAST(num AS VARCHAR) AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 100.0
         AS wasserstein_dollars
FROM m
""",
    category="aggregations",
)
def agg_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the hash
    arms' purchase values — the drift metric that, unlike
    agg_distribution_distance's bucket overlaps, knows HOW FAR the
    mass moved: W1 = integral |F_a - F_b| reduces on the cents grid
    to sum |cumA_i*N_b - cumB_i*N_a| * gap_i — an EXACT
    HUGEINT/DECIMAL(38,0) sum (common-denominator CDFs, integer
    gaps) crossing into doubles via VARCHAR, with one division by
    N_a*N_b and one by 100 to read out in dollars.  Scale: one grid
    groupBy + one ordered pass; exactness is scale-free."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    is_a = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296
        < 2147483648,
        1,
    ).otherwise(0)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    t = ev.select(is_a.alias("is_a"), cents.alias("cents"))
    per_v = t.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    w_next = Window.orderBy("cents")
    w = per_v.select(
        "cents",
        F.sum("na").over(w_cum).alias("ca"),
        F.sum("nb").over(w_cum).alias("cb"),
        F.lead("cents").over(w_next).alias("next_v"),
        F.sum("na").over(w_all).alias("n_a"),
        F.sum("nb").over(w_all).alias("n_b"),
    )
    num = F.when(F.col("next_v").isNull(), F.lit(0).cast("decimal(38,0)")).otherwise(
        F.abs(
            F.col("ca").cast("decimal(38,0)") * F.col("n_b")
            - F.col("cb").cast("decimal(38,0)") * F.col("n_a")
        )
        * (F.col("next_v") - F.col("cents"))
    )
    m = w.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(num).alias("num"),
    )
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            F.col("num").cast("string").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            / 100.0
        ).alias("wasserstein_dollars"),
    )


