"""Third statistics / technical-analysis wave (r9; SURVEY.md §2.4/§2.5
additions): the channel/momentum indicator family over the daily
OHLC-bar grid (Donchian, Ichimoku, Williams fractals, Vortex,
chandelier exit, floor pivots, awesome oscillator, detrended price
oscillator, CCI), two RECURSIVE indicators computed exactly via ANSI
recursive CTEs in both engines (MACD's EMA chain, Supertrend's
band-flip state machine — Spark 4's WITH RECURSIVE makes the
sequential recurrence a first-class declarative plan), and a k-sample
statistics tier (Kruskal-Wallis, Friedman, Brown-Forsythe,
Jarque-Bera, Page-Hinkley change-point, paired sign test, two-
proportion z).

Shared discipline with operators/stats_ext.py: every statistic is
assembled from EXACT integer counts/sums over cents — half-integers
are carried at 2x/3x/4x scale (midpoints, typical prices, pivot
thirds), means at n-fold scale, EMA recurrences as integer floor
divisions — so the final one-expression double arithmetic sees
bit-identical operands in both engines.  The k-sample statistics use
the agg_chi_square pivot-to-one-row trick: the 5 event types are a
FIXED domain, so per-group integer aggregates pivot into one row and
the cross-group combination runs in a single expression with fixed
evaluation order — no float aggregation across rows anywhere.

Scale note (module-wide, same as stats_ext): the per-(event_type,
day) rollups are bounded by the VALUE DOMAIN (types x days), not row
count; what grows with data is exactly one groupBy per query (a
single shuffle with map-side partial aggregation).  The recursive
CTEs iterate once per DAY over the bounded grid — at 100 TB the
recursion depth is still the calendar length, not the row count.
Squared/cubed cent sums that can pass int64 run in DECIMAL(38,0)
(Spark) / HUGEINT (DuckDB) — flagged per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import lifecycle
from ..io import table
from ..registry import query
from .stats_ext import _CENTS_SQL, _GRID_SQL, _day_grid

# Daily OHLC bars in exact cents (win_keltner's construction —
# selection aggregates keyed by the globally-unique ts).
_OHLC_SQL = f"""
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         arg_min({_CENTS_SQL}, ts) AS o,
         MAX({_CENTS_SQL}) AS h,
         MIN({_CENTS_SQL}) AS l,
         arg_max({_CENTS_SQL}, ts) AS c
  FROM events
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
"""


def _ohlc_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) OHLC bars in exact cents, checkpointed
    once for the multi-branch indicator plans (same rationale as
    stats_ext._day_grid: the grid is value-domain-bounded, so eager
    materialization costs one tiny job and stops Catalyst re-scanning
    events per plan branch)."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = (
        e.select(
            "event_type",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
            "ts",
            cents.alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.min_by("cents", "ts").alias("o"),
            F.max("cents").alias("h"),
            F.min("cents").alias("l"),
            F.max_by("cents", "ts").alias("c"),
        )
    )
    return lifecycle.checkpoint(g)


def _ohlcv_grid(spark: SparkSession, sf_dir: str, *, close_only: bool = False) -> DataFrame:
    """Per-(event_type, day) bars with event-count VOLUME (win_obv's
    convention), checkpointed once — shared by the volume-flow
    indicators (MFI, force index, A/D line).  ``close_only`` skips the
    h/l selection aggregates for indicators that need just (c, vol)."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    aggs = [
        F.max_by("cents", "ts").alias("c"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    ]
    if not close_only:
        aggs = [
            F.max("cents").alias("h"),
            F.min("cents").alias("l"),
        ] + aggs
    g = (
        e.select(
            "event_type",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
            "ts",
            cents.alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(*aggs)
    )
    return lifecycle.checkpoint(g)


@query(
    "win_donchian",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
w AS (
  SELECT event_type, d, x,
         COUNT(*) OVER w20 AS n20,
         MAX(x) OVER w20 AS hi20,
         MIN(x) OVER w20 AS lo20,
         MAX(x) OVER wp AS prior_hi,
         MIN(x) OVER wp AS prior_lo
  FROM g
  WINDOW w20 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         wp AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(hi20 AS BIGINT) AS hi20,
       CAST(lo20 AS BIGINT) AS lo20,
       CAST(hi20 + lo20 AS BIGINT) AS mid_x2,
       CAST(CASE WHEN x > prior_hi THEN 1 ELSE 0 END AS BIGINT) AS break_up,
       CAST(CASE WHEN x < prior_lo THEN 1 ELSE 0 END AS BIGINT) AS break_down
FROM w WHERE n20 = 20
""",
    category="windows",
)
def win_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel over the daily-revenue series — the trailing
    20-day high/low envelope plus the turtle-trader breakout flags
    (today's value strictly above/below the PRIOR 19-day channel, the
    frame that excludes today so a new extreme counts as a breakout).
    Entirely exact integers: rolling MAX/MIN, a 2x-scaled midline
    (hi+lo, avoiding the half-cent), and two sign comparisons.
    Scale: two frames over the value-domain-bounded day grid sharing
    one event_type shuffle (module docstring)."""
    g = _day_grid(spark, sf_dir)
    w20 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-19, 0)
    wp = Window.partitionBy("event_type").orderBy("d").rowsBetween(-19, -1)
    w = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(w20).alias("n20"),
        F.max("x").over(w20).alias("hi20"),
        F.min("x").over(w20).alias("lo20"),
        F.max("x").over(wp).alias("prior_hi"),
        F.min("x").over(wp).alias("prior_lo"),
    ).where(F.col("n20") == 20)
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("hi20").cast("long").alias("hi20"),
        F.col("lo20").cast("long").alias("lo20"),
        (F.col("hi20") + F.col("lo20")).cast("long").alias("mid_x2"),
        F.when(F.col("x") > F.col("prior_hi"), 1)
        .otherwise(0)
        .cast("long")
        .alias("break_up"),
        F.when(F.col("x") < F.col("prior_lo"), 1)
        .otherwise(0)
        .cast("long")
        .alias("break_down"),
    )


@query(
    "win_fractal",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
w AS (
  SELECT event_type, d, h, l,
         lag(h, 2)  OVER wo AS h_m2, lag(h, 1)  OVER wo AS h_m1,
         lead(h, 1) OVER wo AS h_p1, lead(h, 2) OVER wo AS h_p2,
         lag(l, 2)  OVER wo AS l_m2, lag(l, 1)  OVER wo AS l_m1,
         lead(l, 1) OVER wo AS l_p1, lead(l, 2) OVER wo AS l_p2
  FROM g WINDOW wo AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(h AS BIGINT) AS h, CAST(l AS BIGINT) AS l,
       CAST(CASE WHEN h > h_m2 AND h > h_m1 AND h > h_p1 AND h > h_p2
                 THEN 1 ELSE 0 END AS BIGINT) AS fractal_high,
       CAST(CASE WHEN l < l_m2 AND l < l_m1 AND l < l_p1 AND l < l_p2
                 THEN 1 ELSE 0 END AS BIGINT) AS fractal_low
FROM w
WHERE h_m2 IS NOT NULL AND h_p2 IS NOT NULL
""",
    category="windows",
)
def win_fractal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams fractals over daily OHLC bars — the 5-bar local-
    extremum pattern (a high strictly above the two bars either side
    marks a fractal high; mirrored for lows), the classic swing-point
    primitive under support/resistance detection.  Pure integer
    comparisons on exact-cent highs/lows via four lags and four
    leads; interior bars only (both ±2 neighbours must exist).
    Scale: one lag/lead pass over the bounded OHLC grid — a single
    event_type shuffle after the one data-proportional groupBy."""
    g = _ohlc_grid(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("d")
    w = g.select(
        "event_type",
        "d",
        "h",
        "l",
        F.lag("h", 2).over(wo).alias("h_m2"),
        F.lag("h", 1).over(wo).alias("h_m1"),
        F.lead("h", 1).over(wo).alias("h_p1"),
        F.lead("h", 2).over(wo).alias("h_p2"),
        F.lag("l", 2).over(wo).alias("l_m2"),
        F.lag("l", 1).over(wo).alias("l_m1"),
        F.lead("l", 1).over(wo).alias("l_p1"),
        F.lead("l", 2).over(wo).alias("l_p2"),
    ).where(F.col("h_m2").isNotNull() & F.col("h_p2").isNotNull())
    fr_hi = (
        (F.col("h") > F.col("h_m2"))
        & (F.col("h") > F.col("h_m1"))
        & (F.col("h") > F.col("h_p1"))
        & (F.col("h") > F.col("h_p2"))
    )
    fr_lo = (
        (F.col("l") < F.col("l_m2"))
        & (F.col("l") < F.col("l_m1"))
        & (F.col("l") < F.col("l_p1"))
        & (F.col("l") < F.col("l_p2"))
    )
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("h").cast("long").alias("h"),
        F.col("l").cast("long").alias("l"),
        F.when(fr_hi, 1).otherwise(0).cast("long").alias("fractal_high"),
        F.when(fr_lo, 1).otherwise(0).cast("long").alias("fractal_low"),
    )


@query(
    "win_dpo_detrend",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
w AS (
  SELECT event_type, d, x,
         COUNT(*) OVER w10 AS n10,
         SUM(x) OVER w10 AS sum10,
         lag(x, 6) OVER (PARTITION BY event_type ORDER BY d) AS x_back
  FROM g
  WINDOW w10 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(sum10 AS BIGINT) AS sum10,
       CAST(x_back AS BIGINT) AS x_back,
       CAST(10 * x_back - sum10 AS BIGINT) AS dpo_x10,
       CAST(CASE WHEN 10 * x_back > sum10 THEN 1
                 WHEN 10 * x_back < sum10 THEN -1 ELSE 0 END AS BIGINT)
         AS dpo_sign
FROM w WHERE n10 = 10 AND x_back IS NOT NULL
""",
    category="windows",
)
def win_dpo_detrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended price oscillator (n=10) over the daily series — the
    cycle extractor that subtracts a DISPLACED moving average:
    DPO_t = x_{t-(n/2+1)} - SMA_n(t), isolating sub-n-day cycles by
    removing the longer trend.  Kept exact by the n-fold scale trick:
    dpo_x10 = 10*x_{t-6} - sum10 (an integer; the sign column reads
    the oscillator's phase without ever dividing).  Scale: one
    trailing frame plus one lag over the bounded day grid, single
    event_type shuffle."""
    g = _day_grid(spark, sf_dir)
    w10 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-9, 0)
    wo = Window.partitionBy("event_type").orderBy("d")
    w = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(w10).alias("n10"),
        F.sum("x").over(w10).alias("sum10"),
        F.lag("x", 6).over(wo).alias("x_back"),
    ).where((F.col("n10") == 10) & F.col("x_back").isNotNull())
    dpo = 10 * F.col("x_back") - F.col("sum10")
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("sum10").cast("long").alias("sum10"),
        F.col("x_back").cast("long").alias("x_back"),
        dpo.cast("long").alias("dpo_x10"),
        F.when(dpo > 0, 1).when(dpo < 0, -1).otherwise(0).cast("long").alias(
            "dpo_sign"
        ),
    )


@query(
    "win_pivot_points",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
p AS (
  SELECT event_type, d, c,
         lag(h) OVER wo AS ph, lag(l) OVER wo AS pl, lag(c) OVER wo AS pc
  FROM g WINDOW wo AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(c AS BIGINT) AS close_c,
       CAST(ph + pl + pc AS BIGINT) AS p3,
       CAST(2 * (ph + pl + pc) - 3 * ph AS BIGINT) AS s1_3,
       CAST(2 * (ph + pl + pc) - 3 * pl AS BIGINT) AS r1_3,
       CAST((ph + pl + pc) + 3 * (ph - pl) AS BIGINT) AS r2_3,
       CAST((ph + pl + pc) - 3 * (ph - pl) AS BIGINT) AS s2_3,
       CAST(CASE WHEN 3 * c > 2 * (ph + pl + pc) - 3 * pl THEN 1
                 ELSE 0 END AS BIGINT) AS above_r1,
       CAST(CASE WHEN 3 * c < 2 * (ph + pl + pc) - 3 * ph THEN 1
                 ELSE 0 END AS BIGINT) AS below_s1
FROM p WHERE ph IS NOT NULL
""",
    category="windows",
)
def win_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot points from the PREVIOUS day's OHLC
    bar — P = (h+l+c)/3 with support/resistance rails R1 = 2P-l,
    S1 = 2P-h, R2 = P+(h-l), S2 = P-(h-l) — carried at 3x scale so
    the thirds stay integer (p3 = h+l+c; r1_3 = 2*p3 - 3*l; the
    breach flags compare 3*close against the scaled rails, zero
    rounding anywhere).  Scale: one lag pass over the bounded OHLC
    grid after the single data-proportional groupBy."""
    g = _ohlc_grid(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("d")
    p = g.select(
        "event_type",
        "d",
        "c",
        F.lag("h").over(wo).alias("ph"),
        F.lag("l").over(wo).alias("pl"),
        F.lag("c").over(wo).alias("pc"),
    ).where(F.col("ph").isNotNull())
    p3 = F.col("ph") + F.col("pl") + F.col("pc")
    r1 = 2 * p3 - 3 * F.col("pl")
    s1 = 2 * p3 - 3 * F.col("ph")
    return p.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").cast("long").alias("close_c"),
        p3.cast("long").alias("p3"),
        s1.cast("long").alias("s1_3"),
        r1.cast("long").alias("r1_3"),
        (p3 + 3 * (F.col("ph") - F.col("pl"))).cast("long").alias("r2_3"),
        (p3 - 3 * (F.col("ph") - F.col("pl"))).cast("long").alias("s2_3"),
        F.when(3 * F.col("c") > r1, 1).otherwise(0).cast("long").alias(
            "above_r1"
        ),
        F.when(3 * F.col("c") < s1, 1).otherwise(0).cast("long").alias(
            "below_s1"
        ),
    )


@query(
    "win_awesome_osc",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
m AS (SELECT event_type, d, h + l AS mid2 FROM g),
w AS (
  SELECT event_type, d, mid2,
         COUNT(*) OVER w21 AS n21,
         SUM(mid2) OVER w5 AS sum5,
         SUM(mid2) OVER w21 AS sum21
  FROM m
  WINDOW w5 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w21 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
),
a AS (
  SELECT event_type, d, mid2, sum5, sum21,
         21 * sum5 - 5 * sum21 AS ao_s
  FROM w WHERE n21 = 21
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(mid2 AS BIGINT) AS mid2,
       CAST(ao_s AS BIGINT) AS ao_scaled,
       CAST(CASE WHEN ao_s > 0 THEN 1 WHEN ao_s < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS ao_sign,
       CAST(CASE WHEN ao_s > 0 AND lag(ao_s) OVER wo <= 0 THEN 1
                 WHEN ao_s < 0 AND lag(ao_s) OVER wo >= 0 THEN -1
                 ELSE 0 END AS BIGINT) AS zero_cross
FROM a WINDOW wo AS (PARTITION BY event_type ORDER BY d)
""",
    category="windows",
)
def win_awesome_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Awesome oscillator (Bill Williams) over daily bars, scaled to
    5/21 periods for the 30-day fixture calendar — SMA_5(midpoint) -
    SMA_21(midpoint) — kept exact at 2*5*21 = 210x combined scale:
    mid2 = h+l doubles the midpoint, ao_scaled = 21*sum5 - 5*sum21
    clears both divisors, and the sign/zero-cross momentum signals
    read off the scaled integer directly.  Scale: two trailing frames
    plus one lag over the bounded OHLC grid, one event_type
    shuffle."""
    g = _ohlc_grid(spark, sf_dir)
    m = g.select("event_type", "d", (F.col("h") + F.col("l")).alias("mid2"))
    w5 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-4, 0)
    w21 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-20, 0)
    w = m.select(
        "event_type",
        "d",
        "mid2",
        F.count(F.lit(1)).over(w21).alias("n21"),
        F.sum("mid2").over(w5).alias("sum5"),
        F.sum("mid2").over(w21).alias("sum21"),
    ).where(F.col("n21") == 21)
    a = w.select(
        "event_type",
        "d",
        "mid2",
        (21 * F.col("sum5") - 5 * F.col("sum21")).alias("ao_s"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("ao_s").over(wo)
    return a.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("mid2").cast("long").alias("mid2"),
        F.col("ao_s").cast("long").alias("ao_scaled"),
        F.when(F.col("ao_s") > 0, 1)
        .when(F.col("ao_s") < 0, -1)
        .otherwise(0)
        .cast("long")
        .alias("ao_sign"),
        F.when((F.col("ao_s") > 0) & (prev <= 0), 1)
        .when((F.col("ao_s") < 0) & (prev >= 0), -1)
        .otherwise(0)
        .cast("long")
        .alias("zero_cross"),
    )


@query(
    "win_ichimoku",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
w AS (
  SELECT event_type, d, c,
         COUNT(*) OVER w15 AS n15,
         MAX(h) OVER w5  + MIN(l) OVER w5  AS tenkan2,
         MAX(h) OVER w10 + MIN(l) OVER w10 AS kijun2,
         MAX(h) OVER w15 + MIN(l) OVER w15 AS senkou_b2
  FROM g
  WINDOW w5  AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w10 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         w15 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, d, c, n15, tenkan2, kijun2,
         lag(tenkan2 + kijun2, 3) OVER wo AS senkou_a4,
         lag(2 * senkou_b2, 3) OVER wo AS senkou_b4,
         lead(c, 3) OVER wo AS chikou_c
  FROM w WINDOW wo AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(c AS BIGINT) AS close_c,
       CAST(tenkan2 AS BIGINT) AS tenkan2,
       CAST(kijun2 AS BIGINT) AS kijun2,
       CAST(senkou_a4 AS BIGINT) AS senkou_a4,
       CAST(senkou_b4 AS BIGINT) AS senkou_b4,
       CAST(chikou_c AS BIGINT) AS chikou_c,
       CAST(CASE WHEN 4 * c > GREATEST(senkou_a4, senkou_b4) THEN 1
                 WHEN 4 * c < LEAST(senkou_a4, senkou_b4) THEN -1
                 ELSE 0 END AS BIGINT) AS vs_cloud
FROM s
WHERE n15 = 15 AND senkou_a4 IS NOT NULL AND chikou_c IS NOT NULL
""",
    category="windows",
)
def win_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud over daily bars, periods scaled (5/10/15,
    displacement 3) to the 30-day fixture calendar — conversion/base
    lines are rolling high-low MIDPOINTS carried at 2x scale
    (tenkan2 = hi5+lo5), the leading spans are displaced FORWARD 3
    days (so today's cloud was computed 3 days ago — lag), senkou A
    at 4x scale (tenkan2+kijun2), senkou B doubled to the same 4x,
    and the lagging span is close displaced BACK (lead).  The
    price-vs-cloud position compares 4*close to the scaled spans —
    everything integer, zero rounding.  Scale: three rolling frames +
    one lag/lead pass over the bounded OHLC grid, one shuffle."""
    g = _ohlc_grid(spark, sf_dir)

    def band(n: int) -> F.Column:
        w = Window.partitionBy("event_type").orderBy("d").rowsBetween(1 - n, 0)
        return F.max("h").over(w) + F.min("l").over(w)

    w15 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-14, 0)
    w = g.select(
        "event_type",
        "d",
        "c",
        F.count(F.lit(1)).over(w15).alias("n15"),
        band(5).alias("tenkan2"),
        band(10).alias("kijun2"),
        band(15).alias("senkou_b2"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    s = w.select(
        "event_type",
        "d",
        "c",
        "n15",
        "tenkan2",
        "kijun2",
        F.lag(F.col("tenkan2") + F.col("kijun2"), 3).over(wo).alias("senkou_a4"),
        F.lag(2 * F.col("senkou_b2"), 3).over(wo).alias("senkou_b4"),
        F.lead("c", 3).over(wo).alias("chikou_c"),
    ).where(
        (F.col("n15") == 15)
        & F.col("senkou_a4").isNotNull()
        & F.col("chikou_c").isNotNull()
    )
    return s.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").cast("long").alias("close_c"),
        F.col("tenkan2").cast("long").alias("tenkan2"),
        F.col("kijun2").cast("long").alias("kijun2"),
        F.col("senkou_a4").cast("long").alias("senkou_a4"),
        F.col("senkou_b4").cast("long").alias("senkou_b4"),
        F.col("chikou_c").cast("long").alias("chikou_c"),
        F.when(4 * F.col("c") > F.greatest("senkou_a4", "senkou_b4"), 1)
        .when(4 * F.col("c") < F.least("senkou_a4", "senkou_b4"), -1)
        .otherwise(0)
        .cast("long")
        .alias("vs_cloud"),
    )


@query(
    "win_vortex",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
t AS (
  SELECT event_type, d, h, l,
         CASE WHEN lag(c) OVER wo IS NULL THEN h - l
              ELSE GREATEST(h - l, ABS(h - lag(c) OVER wo),
                            ABS(l - lag(c) OVER wo)) END AS tr,
         ABS(h - lag(l) OVER wo) AS vm_plus,
         ABS(l - lag(h) OVER wo) AS vm_minus
  FROM g WINDOW wo AS (PARTITION BY event_type ORDER BY d)
),
w AS (
  SELECT event_type, d,
         COUNT(vm_plus) OVER w14 AS n14,
         SUM(vm_plus) OVER w14 AS svp,
         SUM(vm_minus) OVER w14 AS svm,
         SUM(tr) OVER w14 AS str
  FROM t
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(svp AS BIGINT) AS sum_vm_plus,
       CAST(svm AS BIGINT) AS sum_vm_minus,
       CAST(str AS BIGINT) AS sum_tr,
       CAST(svp AS DOUBLE) / CAST(str AS DOUBLE) AS vi_plus,
       CAST(svm AS DOUBLE) / CAST(str AS DOUBLE) AS vi_minus,
       CAST(CASE WHEN svp > svm THEN 1 WHEN svp < svm THEN -1
                 ELSE 0 END AS BIGINT) AS trend_sign
FROM w WHERE n14 = 14
""",
    category="windows",
)
def win_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator (VI+/VI-, 14-day) over daily bars — trend
    direction from crossing movements: VM+ = |h_t - l_{t-1}|,
    VM- = |l_t - h_{t-1}|, each summed over 14 days and normalized by
    the true-range sum (win_keltner's TR, overnight gaps included).
    The three window sums are exact integers; each VI is ONE double
    division of two exact int64s (identical operands both engines),
    and the trend sign compares the integer sums directly — no float
    needed for the signal.  Scale: lag + trailing frames over the
    bounded OHLC grid, one event_type shuffle.  COUNT(vm_plus) (not
    COUNT(*)) requires 14 PRIOR-day lags, excluding each series'
    first bar."""
    g = _ohlc_grid(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("d")
    prev_c = F.lag("c").over(wo)
    t = g.select(
        "event_type",
        "d",
        F.when(prev_c.isNull(), F.col("h") - F.col("l"))
        .otherwise(
            F.greatest(
                F.col("h") - F.col("l"),
                F.abs(F.col("h") - prev_c),
                F.abs(F.col("l") - prev_c),
            )
        )
        .alias("tr"),
        F.abs(F.col("h") - F.lag("l").over(wo)).alias("vm_plus"),
        F.abs(F.col("l") - F.lag("h").over(wo)).alias("vm_minus"),
    )
    w14 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    w = t.select(
        "event_type",
        "d",
        F.count("vm_plus").over(w14).alias("n14"),
        F.sum("vm_plus").over(w14).alias("svp"),
        F.sum("vm_minus").over(w14).alias("svm"),
        F.sum("tr").over(w14).alias("str"),
    ).where(F.col("n14") == 14)
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("svp").cast("long").alias("sum_vm_plus"),
        F.col("svm").cast("long").alias("sum_vm_minus"),
        F.col("str").cast("long").alias("sum_tr"),
        (F.col("svp").cast("double") / F.col("str").cast("double")).alias(
            "vi_plus"
        ),
        (F.col("svm").cast("double") / F.col("str").cast("double")).alias(
            "vi_minus"
        ),
        F.when(F.col("svp") > F.col("svm"), 1)
        .when(F.col("svp") < F.col("svm"), -1)
        .otherwise(0)
        .cast("long")
        .alias("trend_sign"),
    )


@query(
    "win_chandelier_exit",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
t AS (
  SELECT event_type, d, h, l, c,
         CASE WHEN lag(c) OVER wo IS NULL THEN h - l
              ELSE GREATEST(h - l, ABS(h - lag(c) OVER wo),
                            ABS(l - lag(c) OVER wo)) END AS tr
  FROM g WINDOW wo AS (PARTITION BY event_type ORDER BY d)
),
w AS (
  SELECT event_type, d, c,
         COUNT(*) OVER w14 AS n14,
         MAX(h) OVER w14 AS hi14,
         MIN(l) OVER w14 AS lo14,
         SUM(tr) OVER w14 // 14 AS atr_c
  FROM t
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(c AS BIGINT) AS close_c,
       CAST(hi14 AS BIGINT) AS hi14,
       CAST(lo14 AS BIGINT) AS lo14,
       CAST(atr_c AS BIGINT) AS atr_c,
       CAST(hi14 - 3 * atr_c AS BIGINT) AS exit_long,
       CAST(lo14 + 3 * atr_c AS BIGINT) AS exit_short,
       CAST(CASE WHEN c < hi14 - 3 * atr_c THEN 1 ELSE 0 END AS BIGINT)
         AS stop_long_hit,
       CAST(CASE WHEN c > lo14 + 3 * atr_c THEN 1 ELSE 0 END AS BIGINT)
         AS stop_short_hit
FROM w WHERE n14 = 14
""",
    category="windows",
)
def win_chandelier_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chandelier exit (14-day, 3x ATR) over daily bars — the
    trailing volatility stop that hangs from the rolling extreme:
    exit_long = hi14 - 3*ATR14, exit_short = lo14 + 3*ATR14, with the
    stop-hit flags comparing today's close against the rails.  Uses
    win_keltner's integer cents-ATR (trailing TR sum floor-divided by
    14); everything stays int64 with zero float arithmetic.  Scale:
    lag + one trailing frame over the bounded OHLC grid, one
    event_type shuffle."""
    g = _ohlc_grid(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("d")
    prev_c = F.lag("c").over(wo)
    t = g.select(
        "event_type",
        "d",
        "h",
        "l",
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
    w = t.select(
        "event_type",
        "d",
        "c",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.max("h").over(w14).alias("hi14"),
        F.min("l").over(w14).alias("lo14"),
        F.expr(
            "SUM(tr) OVER (PARTITION BY event_type ORDER BY d"
            " ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) DIV 14"
        ).alias("atr_c"),
    ).where(F.col("n14") == 14)
    exit_long = F.col("hi14") - 3 * F.col("atr_c")
    exit_short = F.col("lo14") + 3 * F.col("atr_c")
    return w.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("c").cast("long").alias("close_c"),
        F.col("hi14").cast("long").alias("hi14"),
        F.col("lo14").cast("long").alias("lo14"),
        F.col("atr_c").cast("long").alias("atr_c"),
        exit_long.cast("long").alias("exit_long"),
        exit_short.cast("long").alias("exit_short"),
        F.when(F.col("c") < exit_long, 1).otherwise(0).cast("long").alias(
            "stop_long_hit"
        ),
        F.when(F.col("c") > exit_short, 1).otherwise(0).cast("long").alias(
            "stop_short_hit"
        ),
    )


@query(
    "win_cci",
    oracle=f"""
WITH g AS ({_OHLC_SQL}),
tp AS (
  SELECT event_type, d, c, h + l + c AS tp3,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS idx
  FROM g
),
w AS (
  SELECT event_type, d, idx, tp3,
         COUNT(*) OVER w14 AS n14,
         SUM(tp3) OVER w14 AS sum14
  FROM tp
  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
md AS (
  SELECT w.event_type, w.d, w.tp3, w.sum14,
         SUM(ABS(14 * i.tp3 - w.sum14)) AS md_s
  FROM w JOIN tp i
    ON i.event_type = w.event_type
   AND i.idx BETWEEN w.idx - 13 AND w.idx
  WHERE w.n14 = 14
  GROUP BY w.event_type, w.d, w.tp3, w.sum14
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(tp3 AS BIGINT) AS tp3,
       CAST(sum14 AS BIGINT) AS sum14,
       CAST(14 * tp3 - sum14 AS BIGINT) AS dev_s,
       CAST(md_s AS BIGINT) AS md_s,
       CAST(14 * tp3 - sum14 AS DOUBLE) * 14.0
         / (0.015 * CAST(md_s AS DOUBLE)) AS cci
FROM md
""",
    category="windows",
)
def win_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index (14-day) over daily bars — the
    mean-deviation-normalized oscillator whose denominator cannot be
    a plain window sum (each bar's deviation is measured against the
    WINDOW's mean, so the 14 deviations change with every window):
    computed as a bounded RANGE SELF-JOIN on the day grid — row t
    joins its 14 in-window rows i and sums |14*tp3_i - sum14_t|, all
    integers at 3x14 = 42x scale.  The scales cancel in the final
    ratio: CCI = (14*tp3_t - sum14_t) * 14 / (0.015 * md_s) — ONE
    double expression over two exact int64s.  Scale: the self-join is
    O(days x 14) on the value-domain-bounded grid, never on raw rows;
    one event_type shuffle feeds both the window pass and the join."""
    g = _ohlc_grid(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("d")
    tp = lifecycle.checkpoint(  # read by window pass AND self-join
        g.select(
            "event_type",
            "d",
            (F.col("h") + F.col("l") + F.col("c")).alias("tp3"),
            F.row_number().over(wo).alias("idx"),
        )
    )
    w14 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-13, 0)
    w = tp.select(
        "event_type",
        "d",
        "idx",
        "tp3",
        F.count(F.lit(1)).over(w14).alias("n14"),
        F.sum("tp3").over(w14).alias("sum14"),
    ).where(F.col("n14") == 14)
    i = tp.select(
        F.col("event_type").alias("et_i"),
        F.col("idx").alias("idx_i"),
        F.col("tp3").alias("tp3_i"),
    )
    md = (
        w.join(
            i,
            (F.col("et_i") == F.col("event_type"))
            & F.col("idx_i").between(F.col("idx") - 13, F.col("idx")),
        )
        .groupBy("event_type", "d", "tp3", "sum14")
        .agg(F.sum(F.abs(14 * F.col("tp3_i") - F.col("sum14"))).alias("md_s"))
    )
    dev = 14 * F.col("tp3") - F.col("sum14")
    return md.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("tp3").cast("long").alias("tp3"),
        F.col("sum14").cast("long").alias("sum14"),
        dev.cast("long").alias("dev_s"),
        F.col("md_s").cast("long").alias("md_s"),
        (
            dev.cast("double") * 14.0 / (0.015 * F.col("md_s").cast("double"))
        ).alias("cci"),
    )


def _macd_sql(grid_ref: str, idiv: str, datefmt: str) -> str:
    """MACD query text shared by both engines (grid_ref = the day-grid
    relation, idiv = the engine's integer-division operator: Spark
    ``DIV``, DuckDB ``//`` — both truncate toward zero, verified on
    negative operands).  The EMA chain is an integer recurrence at
    1000x scale: ema_n(t) = (2*x_t*S + (n-1)*ema_n(t-1)) idiv (n+1),
    seeded at x_1*S — every step a deterministic floor division, so
    the whole chain is bit-exact by construction in any engine."""
    return f"""
WITH RECURSIVE gi AS (
  SELECT event_type, d, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS idx
  FROM {grid_ref}
),
r(event_type, idx, e12, e26, sig) AS (
  SELECT event_type, idx, x * 1000, x * 1000, CAST(0 AS BIGINT)
  FROM gi WHERE idx = 1
  UNION ALL
  SELECT g.event_type, g.idx,
         (2 * g.x * 1000 + 11 * r.e12) {idiv} 13,
         (2 * g.x * 1000 + 25 * r.e26) {idiv} 27,
         (2 * ((2 * g.x * 1000 + 11 * r.e12) {idiv} 13
               - (2 * g.x * 1000 + 25 * r.e26) {idiv} 27)
          + 8 * r.sig) {idiv} 10
  FROM r JOIN gi g ON g.event_type = r.event_type AND g.idx = r.idx + 1
)
SELECT r.event_type, %DATEFMT_GI% AS day,
       CAST(gi.x AS BIGINT) AS x,
       CAST(r.e12 AS BIGINT) AS ema12_s,
       CAST(r.e26 AS BIGINT) AS ema26_s,
       CAST(r.e12 - r.e26 AS BIGINT) AS macd_s,
       CAST(r.sig AS BIGINT) AS signal_s,
       CAST(r.e12 - r.e26 - r.sig AS BIGINT) AS hist_s
FROM r JOIN gi ON gi.event_type = r.event_type AND gi.idx = r.idx
""".replace("%DATEFMT_GI%", datefmt)


@query(
    "win_macd",
    oracle=_macd_sql(f"({_GRID_SQL})", "//", "strftime(gi.d, '%Y-%m-%d')"),
    category="windows",
)
def win_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26/9) over the daily-revenue series — the EMA-chain
    indicator whose recurrence ema_t = alpha*x_t + (1-alpha)*ema_{t-1}
    no window frame can express: computed via ANSI WITH RECURSIVE
    (first-class in Spark 4), one recursion level per DAY, all three
    EMAs advancing together as INTEGER floor divisions at 1000x scale
    — (2*x*S + (n-1)*prev) DIV (n+1) — so the chain is bit-exact in
    both engines with zero float drift (the dyadic-weight trick of
    agg_decayed_value generalized to non-dyadic alphas by scaling +
    flooring).  The signal line is the EMA9 of the scaled MACD,
    seeded at 0 (= macd_1 since e12_1 = e26_1).

    Scale: each recursion level is a 1-row-per-series join against
    the bounded day grid — depth = calendar days, never row count;
    the grid itself is one data-proportional groupBy.  Spark's
    cteRecursionLevelLimit (default 100) caps the calendar; a
    year-long grid would raise it via conf, not restructure."""
    g = _day_grid(spark, sf_dir)
    return spark.sql(_macd_sql("{g}", "DIV", "date_format(gi.d, 'yyyy-MM-dd')"), g=g)


def _supertrend_sql(grid_ref: str, idiv: str, datefmt: str) -> str:
    """Supertrend query text shared by both engines.  The final-band
    tightening and trend flips are a per-series STATE MACHINE over
    days — expressed as a recursive CTE carrying (fu, fl, st) at 2x
    cent scale, pure integer comparisons (the repeated CASE text for
    fu/fl inside st avoids lateral column aliases, whose scoping
    differs between engines)."""
    fu = "CASE WHEN s.bu2 < r.fu OR r.c2 > r.fu THEN s.bu2 ELSE r.fu END"
    fl = "CASE WHEN s.bl2 > r.fl OR r.c2 < r.fl THEN s.bl2 ELSE r.fl END"
    return f"""
WITH RECURSIVE a AS (
  SELECT event_type, d, h, l, c,
         CASE WHEN lag(c) OVER wo IS NULL THEN h - l
              ELSE GREATEST(h - l, ABS(h - lag(c) OVER wo),
                            ABS(l - lag(c) OVER wo)) END AS tr
  FROM {grid_ref} WINDOW wo AS (PARTITION BY event_type ORDER BY d)
),
b AS (
  SELECT event_type, d, h, l, c,
         COUNT(*) OVER w10 AS n10,
         SUM(tr) OVER w10 {idiv} 10 AS atr
  FROM a
  WINDOW w10 AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, d, 2 * c AS c2,
         (h + l) + 6 * atr AS bu2,
         (h + l) - 6 * atr AS bl2,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS idx
  FROM b WHERE n10 = 10
),
r(event_type, idx, d, c2, fu, fl, st) AS (
  SELECT event_type, idx, d, c2, bu2, bl2, bu2
  FROM s WHERE idx = 1
  UNION ALL
  SELECT s.event_type, s.idx, s.d, s.c2, {fu}, {fl},
         CASE WHEN r.st = r.fu
              THEN (CASE WHEN s.c2 > {fu} THEN {fl} ELSE {fu} END)
              ELSE (CASE WHEN s.c2 < {fl} THEN {fu} ELSE {fl} END) END
  FROM r JOIN s ON s.event_type = r.event_type AND s.idx = r.idx + 1
)
SELECT event_type, %DATEFMT% AS day,
       CAST(c2 AS BIGINT) AS close_x2,
       CAST(fu AS BIGINT) AS upper_x2,
       CAST(fl AS BIGINT) AS lower_x2,
       CAST(st AS BIGINT) AS supertrend_x2,
       CAST(CASE WHEN st = fl THEN 1 ELSE -1 END AS BIGINT) AS direction
FROM r
""".replace("%DATEFMT%", datefmt)


@query(
    "win_supertrend",
    oracle=_supertrend_sql(f"({_OHLC_SQL})", "//", "strftime(d, '%Y-%m-%d')"),
    category="windows",
)
def win_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend (10-day ATR, factor 3) over daily OHLC bars — the
    trailing-stop trend indicator whose bands RATCHET (the upper band
    only moves down while price stays below it, resetting when price
    closes through) and whose trend state flips on band breaks: a
    genuine per-series state machine that window frames cannot
    express, computed via ANSI WITH RECURSIVE carrying (final_upper,
    final_lower, supertrend) per day.  Everything integer at 2x cent
    scale (mid = (h+l)/2 and factor*ATR both double cleanly;
    basic_upper*2 = h+l+6*atr with win_keltner's integer cents-ATR),
    so the ratchet comparisons and flips are bit-exact in both
    engines — no lateral aliases (engine-divergent scoping), the
    band CASEs are textually inlined.

    Scale: recursion depth = calendar days over the bounded grid
    (module docstring); the OHLC grid is the one data-proportional
    groupBy."""
    g = _ohlc_grid(spark, sf_dir)
    return spark.sql(_supertrend_sql("{g}", "DIV", "date_format(d, 'yyyy-MM-dd')"), g=g)


# Fixed event-type domain for the pivot-to-one-row statistics
# (agg_chi_square's trick: per-group integer aggregates pivot into one
# row, the cross-group combination is a single fixed-order expression).
_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_sign_test",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
a AS (SELECT d, x FROM g WHERE event_type = 'click'),
b AS (SELECT d, x FROM g WHERE event_type = 'purchase'),
p AS (
  SELECT CASE WHEN a.x > b.x THEN 1 ELSE 0 END AS pos,
         CASE WHEN a.x < b.x THEN 1 ELSE 0 END AS neg
  FROM a JOIN b ON a.d = b.d
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(COUNT(*) - SUM(pos) - SUM(neg) AS BIGINT) AS n_tie,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(pos) - SUM(neg) AS DOUBLE)
         / sqrt(CAST(SUM(pos) + SUM(neg) AS DOUBLE)) AS z
FROM p
""",
    category="aggregations",
)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test between the click and purchase daily-revenue
    series — the assumption-free companion to agg_welch_t (no
    normality, no variance pooling: just which series won each day).
    Counts of positive/negative/tied days are exact integers off the
    bounded day grid; the normal-approximation z = (n+ - n-)/sqrt(n+
    + n-) is ONE double expression over two exact int64s.  Scale: a
    paired join of two bounded day series (module docstring)."""
    g = _day_grid(spark, sf_dir)
    a = g.where(F.col("event_type") == "click").select("d", F.col("x").alias("xa"))
    b = g.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("d2"), F.col("x").alias("xb")
    )
    p = a.join(b, a["d"] == b["d2"]).select(
        F.when(F.col("xa") > F.col("xb"), 1).otherwise(0).alias("pos"),
        F.when(F.col("xa") < F.col("xb"), 1).otherwise(0).alias("neg"),
    )
    m = p.agg(
        F.sum("pos").alias("sp"),
        F.sum("neg").alias("sn"),
        F.count(F.lit(1)).alias("n"),
    )
    return m.select(
        F.col("sp").cast("long").alias("n_pos"),
        F.col("sn").cast("long").alias("n_neg"),
        (F.col("n") - F.col("sp") - F.col("sn")).cast("long").alias("n_tie"),
        F.col("n").cast("long").alias("n_days"),
        (
            (F.col("sp") - F.col("sn")).cast("double")
            / F.sqrt((F.col("sp") + F.col("sn")).cast("double"))
        ).alias("z"),
    )


@query(
    "agg_two_proportion_z",
    oracle="""
WITH t AS (
  SELECT CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
),
m AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(is_a * is_conv) AS BIGINT) AS x_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
         CAST(SUM((1 - is_a) * is_conv) AS BIGINT) AS x_b
  FROM t
)
SELECT n_a, x_a, n_b, x_b,
       CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
              * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
FROM m
""",
    category="aggregations",
)
def agg_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase rate between the
    deterministic hash arms (the A/B readout agg_chi_square's
    independence test summarizes to one directional number): four
    exact integer counts (arm sizes and conversions) feed the pooled
    z statistic — a SINGLE double expression with identical text in
    both engines, so the two divisions and one sqrt see bit-equal
    operands.  Scale: one shuffle-free conditional aggregation over
    four counters (map-side partials only)."""
    ev = table(spark, sf_dir, "events")
    is_a = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296
        < 2147483648,
        1,
    ).otherwise(0)
    is_conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    t = ev.select(is_a.alias("is_a"), is_conv.alias("is_conv"))
    m = t.agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(F.col("is_a") * F.col("is_conv")).cast("long").alias("x_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
        F.sum((1 - F.col("is_a")) * F.col("is_conv")).cast("long").alias("x_b"),
    )
    ra = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    return m.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        (
            (ra - rb)
            / F.sqrt(
                pp
                * (1.0 - pp)
                * (
                    1.0 / F.col("n_a").cast("double")
                    + 1.0 / F.col("n_b").cast("double")
                )
            )
        ).alias("z"),
    )


@query(
    "agg_page_hinkley",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
s AS (
  SELECT event_type, d, x,
         CAST(COUNT(*) OVER wt AS BIGINT) AS n,
         CAST(SUM(x) OVER wt AS BIGINT) AS s
  FROM g WINDOW wt AS (PARTITION BY event_type)
),
c AS (
  SELECT event_type, d, x, n, s,
         SUM(n * x - s) OVER wc AS cum
  FROM s
  WINDOW wc AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
e AS (
  SELECT event_type, d, x, s, cum,
         MIN(cum) OVER wc AS run_min,
         MAX(cum) OVER wc AS run_max
  FROM c
  WINDOW wc AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x,
       CAST(cum AS BIGINT) AS u_scaled,
       CAST(cum - run_min AS BIGINT) AS ph_pos,
       CAST(run_max - cum AS BIGINT) AS ph_neg,
       CAST(CASE WHEN cum - run_min > s THEN 1 ELSE 0 END AS BIGINT)
         AS alarm_up,
       CAST(CASE WHEN run_max - cum > s THEN 1 ELSE 0 END AS BIGINT)
         AS alarm_down
FROM e
""",
    category="aggregations",
)
def agg_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change-point detection per daily-revenue series —
    the sequential drift detector win_cusum_changepoint's
    known-target variant lacks: deviations are measured against the
    SERIES MEAN, kept exact by N-fold scaling (u_t = sum of N*x_i -
    S, an integer, instead of x_i - S/N), and the PH statistics are
    integer PREFIX EXTREMA — ph+ = u - running_min(u) (upward drift),
    ph- = running_max(u) - u (downward).  The alarm fires when the
    drift exceeds one average day's revenue (ph > S = N * (S/N),
    i.e. PH/N > mean daily x) — a pure integer comparison.  Scale:
    a whole-partition window + two running extrema over the bounded
    day grid, one event_type shuffle."""
    g = _day_grid(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    s = g.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("x").over(wt).cast("long").alias("s"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = s.select(
        "event_type",
        "d",
        "x",
        "s",
        F.sum(F.col("n") * F.col("x") - F.col("s")).over(wc).alias("cum"),
    )
    e = c.select(
        "event_type",
        "d",
        "x",
        "s",
        "cum",
        F.min("cum").over(wc).alias("run_min"),
        F.max("cum").over(wc).alias("run_max"),
    )
    return e.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("cum").cast("long").alias("u_scaled"),
        (F.col("cum") - F.col("run_min")).cast("long").alias("ph_pos"),
        (F.col("run_max") - F.col("cum")).cast("long").alias("ph_neg"),
        F.when(F.col("cum") - F.col("run_min") > F.col("s"), 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm_up"),
        F.when(F.col("run_max") - F.col("cum") > F.col("s"), 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm_down"),
    )


@query(
    "agg_kruskal_wallis",
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
rk AS (
  SELECT *,
         2 * (CAST(COALESCE(SUM(nt) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT))
           + nt + 1 AS rank2
  FROM grid
),
m AS (
  SELECT
    {", ".join(f"CAST(SUM(n_{t} * rank2) AS BIGINT) AS r2_{t}" for t in _TYPES)},
    {", ".join(f"CAST(SUM(n_{t}) AS BIGINT) AS nn_{t}" for t in _TYPES)},
    CAST(SUM(nt) AS BIGINT) AS n_total,
    SUM(CAST(nt AS HUGEINT) * nt * nt - nt) AS ties
  FROM rk
)
SELECT n_total,
       {", ".join(f"r2_{t}" for t in _TYPES)},
       CAST(ties AS BIGINT) AS tie_sum,
       CAST(4 AS BIGINT) AS dof,
       12.0 * ({" + ".join(f"CAST(r2_{t} AS DOUBLE) * CAST(r2_{t} AS DOUBLE) / (4.0 * CAST(nn_{t} AS DOUBLE))" for t in _TYPES)})
         / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
         - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h_stat,
       (12.0 * ({" + ".join(f"CAST(r2_{t} AS DOUBLE) * CAST(r2_{t} AS DOUBLE) / (4.0 * CAST(nn_{t} AS DOUBLE))" for t in _TYPES)})
         / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
         - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
       / (1.0 - CAST(ties AS DOUBLE)
          / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
             - CAST(n_total AS DOUBLE))) AS h_adj
FROM m
""",
    category="aggregations",
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all five event types' cent values —
    agg_mann_whitney's doubled-midrank trick generalized to k
    samples: pooled midranks stay integer at 2x (rank2 = 2*below +
    tied + 1), each group's rank total R2_i = SUM(n_i * rank2) is an
    exact int64 off the value-domain-bounded cents grid, and the tie
    correction's SUM(t^3 - t) runs in HUGEINT/DECIMAL(38,0) (t^3
    passes int64 once a value bin exceeds ~2M rows).  H and its
    tie-adjusted form combine the per-group integers in ONE
    fixed-order expression via the agg_chi_square one-row pivot (the
    5 types are a fixed domain) — no float aggregation across rows.
    Scale: one data-proportional groupBy to the cents grid; ranking
    is a single ordered pass over the bounded grid."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = e.select("event_type", cents.alias("cents"))
    grid = c.groupBy("cents").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("long")
            .alias(f"n_{t}")
            for t in _TYPES
        ],
        F.count(F.lit(1)).cast("long").alias("nt"),
    )
    w_prev = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    rk = grid.select(
        "*",
        (
            2 * F.coalesce(F.sum("nt").over(w_prev), F.lit(0)).cast("long")
            + F.col("nt")
            + 1
        ).alias("rank2"),
    )
    m = rk.agg(
        *[
            F.sum(F.col(f"n_{t}") * F.col("rank2")).cast("long").alias(f"r2_{t}")
            for t in _TYPES
        ],
        *[F.sum(f"n_{t}").cast("long").alias(f"nn_{t}") for t in _TYPES],
        F.sum("nt").cast("long").alias("n_total"),
        F.sum(
            F.col("nt").cast("decimal(38,0)") * F.col("nt") * F.col("nt")
            - F.col("nt")
        ).alias("ties"),
    )
    # fixed-order sum of per-group rank-square terms (mirrors the
    # oracle's "+"-joined chain; float addition is not associative)
    term = None
    for t in _TYPES:
        tt = (
            F.col(f"r2_{t}").cast("double")
            * F.col(f"r2_{t}").cast("double")
            / (F.lit(4.0) * F.col(f"nn_{t}").cast("double"))
        )
        term = tt if term is None else term + tt
    dn = F.col("n_total").cast("double")
    h = F.lit(12.0) * term / (dn * (dn + 1.0)) - 3.0 * (dn + 1.0)
    corr = 1.0 - F.col("ties").cast("double") / (dn * dn * dn - dn)
    return m.select(
        "n_total",
        *[F.col(f"r2_{t}") for t in _TYPES],
        F.col("ties").cast("long").alias("tie_sum"),
        F.lit(4).cast("long").alias("dof"),
        h.alias("h_stat"),
        (h / corr).alias("h_adj"),
    )


@query(
    "agg_friedman_test",
    oracle=f"""
WITH g AS ({_GRID_SQL}),
full_d AS (
  SELECT d FROM g GROUP BY d HAVING COUNT(*) = 5
),
r AS (
  SELECT g.event_type, g.d, g.x FROM g JOIN full_d f ON g.d = f.d
),
rk AS (
  SELECT i.event_type, i.d,
         2 * SUM(CASE WHEN j.x < i.x THEN 1 ELSE 0 END)
           + SUM(CASE WHEN j.x = i.x THEN 1 ELSE 0 END) + 1 AS rank2
  FROM r i JOIN r j ON j.d = i.d
  GROUP BY i.event_type, i.d
),
m AS (
  SELECT
    CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days,
    {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN rank2 END) AS BIGINT) AS r2_{t}" for t in _TYPES)},
    CAST(SUM(rank2 * rank2) AS BIGINT) AS ssr2
  FROM rk
)
SELECT n_days,
       {", ".join(f"r2_{t}" for t in _TYPES)},
       ssr2,
       CAST(4 AS BIGINT) AS dof,
       CAST(({" + ".join(f"r2_{t} * r2_{t}" for t in _TYPES)})
            - 180 * n_days * n_days AS BIGINT) AS num_s,
       CAST(ssr2 - 180 * n_days AS BIGINT) AS den_s,
       4.0 * CAST(({" + ".join(f"r2_{t} * r2_{t}" for t in _TYPES)})
                  - 180 * n_days * n_days AS DOUBLE)
           / CAST(ssr2 - 180 * n_days AS DOUBLE) AS chi2_f
FROM m
""",
    category="aggregations",
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test across the five event types with DAYS as blocks
    — the repeated-measures companion to agg_kruskal_wallis (does any
    series systematically out-rank the others across days?): within
    each complete 5-type day the midranks are kept integer at 2x via
    a bounded self-join (below/tied counts over the 5 values), the
    per-type rank totals R2_j and the global rank-square sum pivot
    into one row (fixed type domain), and the tie-corrected statistic
    reduces to the all-integer ratio chi2 = 4 * (sum R2_j^2 - 180 n^2)
    / (ssr2 - 180 n) for k = 5 — ONE double division at the end.
    Incomplete days (a type with zero events) are excluded, the
    standard complete-block requirement.  Scale: the self-join is
    O(days x 25) on the bounded day grid."""
    g = _day_grid(spark, sf_dir)
    full_d = g.groupBy("d").agg(F.count(F.lit(1)).alias("k")).where(
        F.col("k") == 5
    )
    r = g.join(full_d.select("d"), "d").select("event_type", "d", "x")
    i = r.select(
        F.col("event_type").alias("et_i"),
        F.col("d").alias("d_i"),
        F.col("x").alias("x_i"),
    )
    j = r.select(F.col("d").alias("d_j"), F.col("x").alias("x_j"))
    rk = (
        i.join(j, F.col("d_j") == F.col("d_i"))
        .groupBy("et_i", "d_i")
        .agg(
            (
                2 * F.sum(F.when(F.col("x_j") < F.col("x_i"), 1).otherwise(0))
                + F.sum(F.when(F.col("x_j") == F.col("x_i"), 1).otherwise(0))
                + 1
            ).alias("rank2")
        )
    )
    m = rk.agg(
        F.countDistinct("d_i").cast("long").alias("n_days"),
        *[
            F.sum(F.when(F.col("et_i") == t, F.col("rank2")))
            .cast("long")
            .alias(f"r2_{t}")
            for t in _TYPES
        ],
        F.sum(F.col("rank2") * F.col("rank2")).cast("long").alias("ssr2"),
    )
    sum_sq = None
    for t in _TYPES:
        tt = F.col(f"r2_{t}") * F.col(f"r2_{t}")
        sum_sq = tt if sum_sq is None else sum_sq + tt
    num = sum_sq - 180 * F.col("n_days") * F.col("n_days")
    den = F.col("ssr2") - 180 * F.col("n_days")
    return m.select(
        "n_days",
        *[F.col(f"r2_{t}") for t in _TYPES],
        "ssr2",
        F.lit(4).cast("long").alias("dof"),
        num.cast("long").alias("num_s"),
        den.cast("long").alias("den_s"),
        (F.lit(4.0) * num.cast("double") / den.cast("double")).alias("chi2_f"),
    )


@query(
    "agg_jarque_bera",
    oracle=f"""
WITH c AS (
  SELECT event_type, {_CENTS_SQL} AS v FROM events
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2,
         SUM(CAST(v * v AS HUGEINT) * v) AS s3,
         SUM(CAST(v * v AS HUGEINT) * (v * v)) AS s4
  FROM c GROUP BY event_type
),
d1 AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS dn,
         CAST(s1 AS DOUBLE) AS ds1, CAST(s2 AS DOUBLE) AS ds2,
         CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS ds3,
         CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS ds4
  FROM m
),
d2 AS (
  SELECT event_type, n, dn,
         ds1 / dn AS mu, ds2 / dn AS r2, ds3 / dn AS r3, ds4 / dn AS r4
  FROM d1
),
d3 AS (
  SELECT event_type, n, dn, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
            - 3.0 * mu * mu * mu * mu AS m4
  FROM d2
),
d4 AS (
  SELECT event_type, n, dn,
         m3 / (m2 * sqrt(m2)) AS skewness,
         m4 / (m2 * m2) - 3.0 AS excess_kurtosis
  FROM d3
)
SELECT event_type, n, skewness, excess_kurtosis,
       dn / 6.0 * (skewness * skewness
                   + excess_kurtosis * excess_kurtosis / 4.0) AS jb_stat
FROM d4
""",
    category="aggregations",
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type — skewness and
    excess kurtosis from RAW POWER SUMS of exact cents (S1, S2 in
    int64; S3, S4 in HUGEINT/DECIMAL(38,0) — a cent value near 2^16
    makes v^4 ~ 2^64 per row), converted to central moments and the
    JB statistic through an identical STAGED expression pipeline in
    both engines: each CTE stage computes the same named doubles from
    the previous stage's columns, so every division/multiply sees
    bit-equal operands and the float chain is reproducible despite
    its length.  Per-type rows only — no cross-group float
    aggregation anywhere.  Scale: one hash-agg over events with
    map-side partials; five output rows."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = e.select("event_type", cents.alias("v"))
    v2 = F.col("v") * F.col("v")
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(v2).cast("long").alias("s2"),
        F.sum(v2.cast("decimal(38,0)") * F.col("v")).alias("s3"),
        F.sum(v2.cast("decimal(38,0)") * v2).alias("s4"),
    )
    d1 = m.select(
        "event_type",
        "n",
        F.col("n").cast("double").alias("dn"),
        F.col("s1").cast("double").alias("ds1"),
        F.col("s2").cast("double").alias("ds2"),
        F.col("s3").cast("double").alias("ds3"),
        F.col("s4").cast("double").alias("ds4"),
    )
    d2 = d1.select(
        "event_type",
        "n",
        "dn",
        (F.col("ds1") / F.col("dn")).alias("mu"),
        (F.col("ds2") / F.col("dn")).alias("r2"),
        (F.col("ds3") / F.col("dn")).alias("r3"),
        (F.col("ds4") / F.col("dn")).alias("r4"),
    )
    mu = F.col("mu")
    d3 = d2.select(
        "event_type",
        "n",
        "dn",
        "mu",
        (F.col("r2") - mu * mu).alias("m2"),
        (F.col("r3") - 3.0 * mu * F.col("r2") + 2.0 * mu * mu * mu).alias("m3"),
        (
            F.col("r4")
            - 4.0 * mu * F.col("r3")
            + 6.0 * mu * mu * F.col("r2")
            - 3.0 * mu * mu * mu * mu
        ).alias("m4"),
    )
    d4 = d3.select(
        "event_type",
        "n",
        "dn",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skewness"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0).alias(
            "excess_kurtosis"
        ),
    )
    return d4.select(
        "event_type",
        "n",
        "skewness",
        "excess_kurtosis",
        (
            F.col("dn")
            / 6.0
            * (
                F.col("skewness") * F.col("skewness")
                + F.col("excess_kurtosis") * F.col("excess_kurtosis") / 4.0
            )
        ).alias("jb_stat"),
    )


@query(
    "agg_brown_forsythe",
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
med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
       + MIN(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS med2
  FROM w GROUP BY event_type
),
z AS (
  SELECT g.event_type, g.cnt, ABS(2 * g.cents - m.med2) AS z2
  FROM grid g JOIN med m ON m.event_type = g.event_type
),
per AS (
  SELECT event_type,
         CAST(SUM(cnt) AS BIGINT) AS n_i,
         CAST(SUM(cnt * z2) AS BIGINT) AS sz,
         CAST(SUM(cnt * z2 * z2) AS BIGINT) AS szz
  FROM z GROUP BY event_type
),
piv AS (
  SELECT
    {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN n_i END) AS BIGINT) AS n_{t}" for t in _TYPES)},
    {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN sz END) AS BIGINT) AS sz_{t}" for t in _TYPES)},
    {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN szz END) AS BIGINT) AS szz_{t}" for t in _TYPES)}
  FROM per
),
tot AS (
  SELECT piv.*,
         {" + ".join(f"n_{t}" for t in _TYPES)} AS n_total,
         {" + ".join(f"sz_{t}" for t in _TYPES)} AS stot,
         {" + ".join(f"szz_{t}" for t in _TYPES)} AS szz_tot
  FROM piv
),
q AS (
  SELECT tot.*,
         {" + ".join(f"CAST(sz_{t} AS DOUBLE) * CAST(sz_{t} AS DOUBLE) / CAST(n_{t} AS DOUBLE)" for t in _TYPES)} AS szq
  FROM tot
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       CAST(stot AS BIGINT) AS sum_absdev2,
       CAST(4 AS BIGINT) AS df1,
       CAST(n_total - 5 AS BIGINT) AS df2,
       (CAST(n_total - 5 AS DOUBLE) / 4.0)
         * (szq - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
                  / CAST(n_total AS DOUBLE))
         / (CAST(szz_tot AS DOUBLE) - szq) AS f_stat
FROM q
""",
    category="aggregations",
)
def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across the five event
    types — Levene's test on absolute deviations from the MEDIAN (the
    robust variant): per-type medians are exact order statistics off
    the cents grid carried DOUBLED (lower+upper median, so even
    counts stay integer), the deviations z2 = |2*cents - med2| are
    integers, and each group's (n, sum z, sum z^2) pivots into one
    row (fixed type domain) where the F statistic combines them in a
    single fixed-order double expression — the between/within
    quadratic forms reduce to sums of integer aggregates, no float
    aggregation across rows.  The 4x deviation scale cancels in the
    F ratio.  Scale: grid windows only (value-domain-bounded); one
    data-proportional groupBy builds the grid."""
    e = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    grid = lifecycle.checkpoint(  # read by median pass AND deviations
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
    med = w.groupBy("event_type").agg(
        (
            F.min(F.expr("CASE WHEN cum >= (n + 1) DIV 2 THEN cents END"))
            + F.min(F.expr("CASE WHEN cum >= n DIV 2 + 1 THEN cents END"))
        ).alias("med2")
    )
    z = grid.join(
        F.broadcast(med.withColumnRenamed("event_type", "et_m")),
        grid["event_type"] == F.col("et_m"),
    ).select(
        "event_type",
        "cnt",
        F.abs(2 * F.col("cents") - F.col("med2")).alias("z2"),
    )
    per = z.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_i"),
        F.sum(F.col("cnt") * F.col("z2")).cast("long").alias("sz"),
        F.sum(F.col("cnt") * F.col("z2") * F.col("z2"))
        .cast("long")
        .alias("szz"),
    )
    piv = per.agg(
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("n_i")))
            .cast("long")
            .alias(f"n_{t}")
            for t in _TYPES
        ],
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("sz")))
            .cast("long")
            .alias(f"sz_{t}")
            for t in _TYPES
        ],
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("szz")))
            .cast("long")
            .alias(f"szz_{t}")
            for t in _TYPES
        ],
    )
    n_total = None
    stot = None
    szz_tot = None
    for t in _TYPES:
        n_total = F.col(f"n_{t}") if n_total is None else n_total + F.col(f"n_{t}")
        stot = F.col(f"sz_{t}") if stot is None else stot + F.col(f"sz_{t}")
        szz_tot = (
            F.col(f"szz_{t}") if szz_tot is None else szz_tot + F.col(f"szz_{t}")
        )
    tot = piv.select(
        "*",
        n_total.alias("n_total"),
        stot.alias("stot"),
        szz_tot.alias("szz_tot"),
    )
    szq = None
    for t in _TYPES:
        tt = (
            F.col(f"sz_{t}").cast("double")
            * F.col(f"sz_{t}").cast("double")
            / F.col(f"n_{t}").cast("double")
        )
        szq = tt if szq is None else szq + tt
    q = tot.select("*", szq.alias("szq"))
    return q.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("stot").cast("long").alias("sum_absdev2"),
        F.lit(4).cast("long").alias("df1"),
        (F.col("n_total") - 5).cast("long").alias("df2"),
        (
            ((F.col("n_total") - 5).cast("double") / 4.0)
            * (
                F.col("szq")
                - F.col("stot").cast("double")
                * F.col("stot").cast("double")
                / F.col("n_total").cast("double")
            )
            / (F.col("szz_tot").cast("double") - F.col("szq"))
        ).alias("f_stat"),
    )


