"""Window functions (SURVEY.md §2.5).

Determinism discipline: every ORDER BY inside a window includes a
unique tie-break column (orderkey/event_id) wherever the ordered
value can tie — ntile/row_number over a non-total order are
nondeterministic under parallelism.

Scale: a window = one shuffle on partitionBy keys + per-partition
sort. Keys here (o_custkey, user_id, priority) are high-cardinality
or bounded-skew; none requires a global sort except via
TakeOrderedAndProject limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from ..api_rank import (  # noqa: F401 — still importable from operators.windows
    global_rank_distributed,
    grouped_cumsum_distributed,
    ntile_distributed,
)
from ..io import table
from ..registry import query

# Kernels such as api_rank's distributed prefix persist() an
# intermediate because their plan forks on it. The returned
# DataFrame is lazy, so the kernel cannot unpersist before the caller
# materializes it — instead every persisted handle is registered here
# and harnesses that run many queries in one session (bench.py, long
# test sessions) call release_kernel_persists() between queries.
# Correctness never depends on the cache (Spark recomputes from
# lineage); without release, blocks accumulate until LRU eviction.
_KERNEL_PERSISTS: list[DataFrame] = []


def _register_persist(df: DataFrame) -> DataFrame:
    _KERNEL_PERSISTS.append(df)
    return df


def release_kernel_persists(blocking: bool = False) -> int:
    """Unpersist every kernel intermediate registered since the last
    call PLUS every RDD still pinned in the block manager — which
    covers ``localCheckpoint`` blocks, the r13 bench-poisoning bug:
    checkpointing persists its RDD outside any registry, and Python
    garbage collection only frees the blocks when the lazy
    ContextCleaner gets around to it, so a long suite accumulated
    checkpoint blocks that squeezed execution memory (r13 driver run:
    bench positions 17-25 collapsed 3-25x at 32 cores, recovered at
    8).  Returns how many frames/RDDs were released.

    CONTRACT: call only BETWEEN queries.  A registered persist() frame
    simply recomputes its fork, but a localCheckpoint frame whose
    blocks are dropped CANNOT be recomputed (checkpoint truncates
    lineage) — any still-live handle must not be executed again.
    bench.py / opt_measure satisfy this by construction: every query
    re-derives its frames per invocation, nothing is memoized across
    queries."""
    n = len(_KERNEL_PERSISTS)
    while _KERNEL_PERSISTS:
        _KERNEL_PERSISTS.pop().unpersist(blocking)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        # JavaSparkContext.getPersistentRDDs returns a SNAPSHOT copy,
        # so unpersisting while iterating is safe.
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(blocking)
            n += 1
    return n


@query(
    "win_row_number",
    oracle="""
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""",
    category="windows",
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence number (total order via orderkey
    tie-break)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey", F.row_number().over(w).alias("order_seq")
    )


@query(
    "win_rank",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice,
       rank()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_rank,
       dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_dense_rank
FROM orders
""",
    category="windows",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with ties (tie rows get equal rank — output is
    deterministic without a tie-break)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@query(
    "win_ntile",
    oracle="""
SELECT o_orderkey,
       ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS price_quartile
FROM orders
""",
    category="windows",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing (total order incl. tie-break: ntile splits
    tie runs across buckets by row position).

    SCALE NOTE: this is the ANSI-semantics demo form — an
    unpartitioned Window (Spark logs `WindowExec: No Partition
    Defined`) that sorts on a single task, a genuine scale-killer at
    100 TB.  The scale path is `win_ntile_distributed` below
    (range-repartition + broadcast per-partition offsets,
    bit-identical output); see docs/SCALE.md "Windows"."""
    o = table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("price_quartile"))


@query(
    "win_percent",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS pct_rank,
       cume_dist()    OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cume
FROM orders
""",
    category="windows",
)
def win_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank ((rank-1)/(n-1)) and cume_dist — value-determined,
    so bit-identical across engines."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id, ts,
       lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
       CAST(epoch(ts) AS DOUBLE) - CAST(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS DOUBLE) AS gap_s
FROM events
""",
    category="windows",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event per user + inter-event gap in fractional
    seconds (timestamp->double keeps microseconds in both engines)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.col("ts").cast("double")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (ep - F.lag(ep).over(w)).alias("gap_s"),
    )


@query(
    "win_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey)  OVER w AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category="windows",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last order per customer — explicit full-partition frame
    (the default frame would make last_value = current row)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


@query(
    "win_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
""",
    category="windows",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend (exact-decimal running sum, so
    the prefix sums are order- and engine-independent)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@query(
    "win_moving_avg",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS avg_4
FROM orders
""",
    category="windows",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 4-row average as exact-sum/count (built-in windowed
    AVG on doubles is not cross-engine reproducible)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    s = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (s / F.count(F.lit(1)).over(w)).alias("avg_4"),
    )


@query(
    "win_range_frame",
    oracle="""
SELECT o_orderkey,
       COUNT(*) OVER (ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS orders_30d
FROM orders
""",
    category="windows",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: orders in the trailing 30 days
    (epoch-second order key; 2592000 s = 30 d)."""
    o = table(spark, sf_dir, "orders").withColumn(
        "epoch_s", F.unix_timestamp("o_orderdate")
    )
    w = Window.orderBy("epoch_s").rangeBetween(-2592000, Window.currentRow)
    return o.select(
        "o_orderkey", F.count(F.lit(1)).over(w).alias("orders_30d")
    )


@query(
    "win_topk_per_group",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) <= 3
""",
    category="windows",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority: the row_number<=K idiom. Spark
    pushes a per-partition limit below the shuffle for rank-limit
    windows (WindowGroupLimit), so the full sort never materializes."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "win_sessionize",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM flagged
""",
    category="windows",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gap > 30 min starts a new session):
    lag -> boundary flag -> running sum. The batch twin of
    stream_session; integer session ids are engine-exact."""
    e = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # Generic kernel (api.sessionize) compares gaps in exact
    # MICROSECONDS — whole-second casts would truncate and merge
    # sessions whose true gap is in (1800s, 1801s).
    return api.sessionize(e, "user_id", "ts", "event_id", gap_minutes=30)


@query(
    "win_nth_ignore_nulls",
    oracle="""
SELECT o_custkey, o_orderkey,
       nth_value(o_totalprice, 2) OVER w AS second_price,
       first_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END
                   IGNORE NULLS) OVER w AS first_big,
       last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END
                  IGNORE NULLS) OVER w AS last_big
FROM orders
WHERE o_custkey % 20 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category="windows",
)
def win_nth_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value and IGNORE NULLS first/last over a full-partition
    frame: the "second order's price" and "first/last big order"
    idioms — null-skipping navigation that plain first/last cannot
    express (a NULL in frame order is the answer without IGNORE
    NULLS). Frame is the whole partition so results are
    row-deterministic; orderdate+orderkey gives a total order."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") % 20 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    big = F.when(F.col("o_totalprice") > 150000, F.col("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first(big, ignorenulls=True).over(w).alias("first_big"),
        F.last(big, ignorenulls=True).over(w).alias("last_big"),
    )


@query(
    "win_ratio_to_report",
    oracle="""
SELECT event_id, user_id,
       CAST(round(value * 1000000) AS BIGINT) AS qvalue,
       CAST(CAST(round(value * 1000000) AS BIGINT) AS DOUBLE)
         / CAST(SUM(CAST(round(value * 1000000) AS BIGINT))
                OVER (PARTITION BY user_id) AS DOUBLE) AS user_share
FROM events
WHERE event_type = 'purchase'
""",
    category="windows",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report — each purchase's share of its user's total
    spend (the classic contribution/mix reporting window). Values
    quantize to int64 (the dot_dec convention) so the partition sum
    is order-free and exact; the final int/int double division is a
    single correct rounding in both engines. Unbounded partition
    frame over user_id — one shuffle, no ordering required."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    qval = F.round(F.col("value") * 1_000_000).cast("long")
    w = Window.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        qval.alias("qvalue"),
        (qval.cast("double") / F.sum(qval).over(w).cast("double")).alias(
            "user_share"
        ),
    )


@query(
    "win_forward_fill",
    oracle="""
SELECT event_id, user_id, ts,
       CASE WHEN event_type = 'purchase' THEN value END AS observed,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM events
""",
    category="windows",
)
def win_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last-observation-carried-forward) — the
    time-series imputation idiom: a measurement exists only on
    'purchase' events, every other event carries the user's most
    recent observation forward. last(IGNORE NULLS) over a running
    ROWS frame; (ts, event_id) gives a total order so the fill is
    deterministic. Differs from win_nth_ignore_nulls' full-partition
    navigation: the frame here ends at CURRENT ROW, which is what
    makes it an as-of-this-row fill rather than a partition-global
    lookup. One shuffle on user_id; values pass through unchanged
    (no arithmetic), so the result is hash-exact cross-engine."""
    ev = table(spark, sf_dir, "events")
    observed = F.when(F.col("event_type") == "purchase", F.col("value"))
    return api.forward_fill(
        ev, "user_id", ["ts", "event_id"], observed
    ).select("event_id", "user_id", "ts", observed.alias("observed"), "value_ffill")


@query(
    "win_gaps_islands",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'click'
),
isl AS (
  SELECT user_id, event_id, event_id - rn AS grp FROM seq
)
SELECT user_id, MIN(event_id) AS island_start, MAX(event_id) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS island_len
FROM isl
GROUP BY user_id, grp
HAVING COUNT(*) >= 2
""",
    category="windows",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE event_ids per
    user (runs of uninterrupted activity) via the classic id - rn
    constant-per-island trick — one window + one aggregation, both
    shuffling on user_id, the canonical sequence-analysis pattern
    that needs no self-join and no iteration."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("event_id")
    isl = ev.select(
        "user_id",
        "event_id",
        (F.col("event_id") - F.row_number().over(w)).alias("grp"),
    )
    return (
        isl.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .where(F.col("island_len") >= 2)
        .drop("grp")
    )


@query(
    "win_interpolate",
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 5 <> 0 THEN value END AS observed,
         CASE WHEN event_id % 5 <> 0
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS c
  FROM events
),
nbr AS (
  SELECT event_id, user_id, observed, c,
         last_value(c IGNORE NULLS) OVER w_prev AS pc,
         last_value(CASE WHEN c IS NOT NULL THEN event_id END IGNORE NULLS)
           OVER w_prev AS px,
         first_value(c IGNORE NULLS) OVER w_next AS nc,
         first_value(CASE WHEN c IS NOT NULL THEN event_id END IGNORE NULLS)
           OVER w_next AS nx
  FROM base
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_id, user_id, observed,
       CASE WHEN observed IS NOT NULL THEN observed
            WHEN pc IS NOT NULL AND nc IS NOT NULL THEN
              CAST(pc * (nx - event_id) + nc * (event_id - px) AS DOUBLE)
                / CAST(nx - px AS DOUBLE) / 100.0
       END AS value_interp
FROM nbr
""",
    category="windows",
)
def win_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing observations — the time-series
    gap-repair idiom complementary to win_forward_fill's step fill
    (TimescaleDB interpolate() / pandas interpolate(method='linear')).
    Missingness is synthesized deterministically (every 5th event_id
    loses its value); each hole is rebuilt from the nearest observed
    neighbors on both sides, weighted by event_id distance.

    Cross-engine exactness: the interpolation is computed as ONE
    integer rational — numerator pc*(nx-x) + nc*(x-px) and
    denominator (nx-px) in exact BIGINT cents — then a single
    correctly-rounded double division per side, so Spark and DuckDB
    agree bit-for-bit (vs composing a+(b-a)*t in doubles, where
    rounding of the intermediate product may differ by expression
    shape). Magnitude bound: cents (~2e4) x id-gap must stay below
    2^53 — at larger scales use a per-partition ordinal instead of a
    global id as the x coordinate.

    Plan: two window passes over ONE shuffle on user_id (prev and
    next frames share partitioning+ordering, Catalyst plans a single
    Exchange); edge holes with a missing side stay NULL."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    missing = F.col("event_id") % 5 == 0
    observed = F.when(~missing, F.col("value"))
    return (
        api.interpolate(ev, "user_id", "event_id", observed, scale=100)
        .withColumn("observed", observed)
        .select("event_id", "user_id", "observed", "value_interp")
    )


@query(
    "win_moving_median",
    oracle="""
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       median(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         / 100.0 AS med5
FROM c
""",
    category="windows",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over the trailing 5 observations per user — the
    outlier-robust smoother (vs win_moving_avg's mean, which one
    spike drags). Computed on exact integer cents so the even-count
    interpolation ((a+b)/2 in DuckDB, a+(b-a)*0.5 in Spark's
    percentile) is exact in both engines and therefore bit-identical,
    with one final correctly-rounded /100.

    A median-over-frame has no incremental state like sum: each frame
    re-sorts its 5 elements (Spark disallows ordered-aggregate
    median over a frame, so the frame is materialized via
    collect_list — bounded at the constant frame size — and the
    middle is taken from the sorted array). The only data movement
    is the one shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(cents).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        (((lo + hi) / 2.0) / 100.0).alias("med5"),
    )


@query(
    "win_skyline",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_totalprice, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d_days
  FROM orders
),
m AS (
  SELECT o_orderkey, o_totalprice, o_orderdate, d_days,
         MAX(d_days) OVER (ORDER BY price_c DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_d_above
  FROM t
)
SELECT o_orderkey, o_totalprice, o_orderdate
FROM m
WHERE best_d_above IS NULL OR best_d_above <= d_days
""",
    category="windows",
)
def win_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not strictly dominated
    in BOTH price and recency — no other order has higher price AND
    later date. The naive formulation is a quadratic NOT EXISTS
    theta-self-join; the scalable one used here is the classic
    sort-scan: order by price descending and keep a row iff the
    running MAX of date over STRICTLY-higher-priced rows does not
    exceed its own date. "Strictly higher" is expressed as a RANGE
    frame ending 1 PRECEDING over integer cents (ties share a frame
    boundary, so equal prices never dominate each other) — expressed
    DISTRIBUTED: the sort-scan runs at the distinct-PRICE level
    (group prices first, so a tie run is ONE row and can never
    straddle a range-partition boundary), range-partitioned by
    price descending with each partition's running max carried
    forward through a broadcast offsets table — the standard
    distributed-skyline refinement; no global single-task sort
    anywhere. A property test cross-checks against the quadratic
    NOT-EXISTS definition at the small scale factor.

    Scale: shuffles are (1) the price-level groupBy, (2) a
    range-balanced repartition of the distinct-price table, (3) the
    equi-join of the fact table against the price->frontier map —
    all key-balanced; the carry table is <=32 rows and broadcast.
    The same plan holds at 100 TB with more range partitions."""
    o = table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("d_days"),
    )
    # one row per distinct price: the latest date seen at that price
    prices = t.groupBy("price_c").agg(F.max("d_days").alias("pmax_d"))
    # r13 (guide §2): range-partition count derived from the session
    # instead of a constant — the skyline algebra (per-partition
    # running max + carried offsets) is partition-count-independent,
    # so this only sets parallelism: cores locally, executor fan-out
    # on a cluster.
    ranged = prices.repartitionByRange(
        spark.sparkContext.defaultParallelism, F.col("price_c").desc()
    )
    # per-partition strict-above running max (parallel windows keyed
    # by the materialized partition id — never a global sort)
    local = ranged.select(
        "price_c",
        "pmax_d",
        F.spark_partition_id().alias("__sk_pid"),
        F.max("pmax_d")
        .over(
            Window.partitionBy(F.spark_partition_id())
            .orderBy(F.col("price_c").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("local_above"),
    )
    # carry each partition's max forward: partitions ascend in pid =
    # descending price ranges, so the prefix-max over pid < p is the
    # best date among ALL strictly-higher-priced partitions
    per_pid = local.groupBy("__sk_pid").agg(F.max("pmax_d").alias("pid_max"))
    carry = per_pid.select(
        "__sk_pid",
        F.max("pid_max")
        .over(
            Window.orderBy("__sk_pid").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("carry_above"),
    )
    best = local.join(F.broadcast(carry), "__sk_pid").select(
        "price_c",
        F.greatest("local_above", "carry_above").alias("best_d_above"),
    )
    m = t.join(best, "price_c")
    return m.where(
        F.col("best_d_above").isNull()
        | (F.col("best_d_above") <= F.col("d_days"))
    ).select("o_orderkey", "o_totalprice", "o_orderdate")


@query(
    "win_running_distinct",
    oracle="""
SELECT event_id, user_id, ts,
       COUNT(DISTINCT event_type)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS n_types_so_far
FROM events
""",
    category="windows",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user — how many distinct event
    types each user has produced up to every event. Spark does not
    support COUNT(DISTINCT) OVER a running frame (DuckDB does — the
    oracle uses it directly), so the engine expresses it as
    size(collect_set) over the same frame: the set state is bounded
    by the type cardinality (5 here), making the workaround cheap;
    for unbounded-cardinality keys the scalable swap-in is the
    first-occurrence trick (row_number per (user, key) = 1 -> running
    SUM), which is pure streaming state. One shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.size(F.collect_set("event_type").over(w))
        .cast("long")
        .alias("n_types_so_far"),
    )


@query(
    "win_drawdown",
    oracle="""
WITH c AS (
  SELECT o_custkey, o_orderkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(cum AS DOUBLE) AS cum_spend,
       CAST(MAX(cum) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - cum AS DOUBLE) AS drawdown
FROM c
""",
    category="windows",
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running drawdown — peak-to-current gap of each customer's
    cumulative spend (the finance risk metric, here over the order
    ledger): running exact-decimal prefix sum, running MAX of that
    sum, difference. Subtracting two exact decimals keeps the result
    exact, so the metric is bit-reproducible; both windows share one
    shuffle on o_custkey. For always-positive series drawdown is 0
    everywhere — the shape matters for signed series (returns,
    balance deltas); on this ledger it certifies the peak-tracking
    plumbing."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    peak = F.max(cum).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        cum.cast("double").alias("cum_spend"),
        (peak - cum).cast("double").alias("drawdown"),
    )


@query(
    "win_bollinger",
    oracle="""
WITH c AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders
),
m AS (
  SELECT o_custkey, o_orderkey, x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         CAST(SUM(x) OVER w AS DOUBLE) AS s,
         CAST(SUM(x * x) OVER w AS DOUBLE) AS ss
  FROM c
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
       s / n / 100.0 AS mid,
       s / n / 100.0 - 2.0 * sqrt((n * ss - s * s) / (n * n)) / 100.0 AS lower,
       s / n / 100.0 + 2.0 * sqrt((n * ss - s * s) / (n * n)) / 100.0 AS upper
FROM m
""",
    category="windows",
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the trailing 4-order frame per customer:
    moving mean +/- 2 population standard deviations. Every moment is
    an int64-exact power sum over cents (frame products stay far
    below 2^53), and mean/band formulas have the identical expression
    shape in both engines, so even the sqrt-bearing bands are
    bit-reproducible — the same discipline as agg_corr/agg_autocorr
    applied to a sliding frame. One shuffle on o_custkey; the frame
    keeps running state, no per-row re-scan."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    t = o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum(x).over(w).cast("double").alias("s"),
        F.sum(x * x).over(w).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mid = s / n / 100.0
    band = 2.0 * F.sqrt((n * ss - s * s) / (n * n)) / 100.0
    return t.select(
        "o_custkey",
        "o_orderkey",
        mid.alias("mid"),
        (mid - band).alias("lower"),
        (mid + band).alias("upper"),
    )


@query(
    "win_rsi",
    oracle="""
WITH c AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders
),
d AS (
  SELECT o_custkey, o_orderkey,
         x - lag(x) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS diff
  FROM c
),
g AS (
  SELECT o_custkey, o_orderkey,
         CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END)
              OVER w AS BIGINT) AS gains,
         CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END)
              OVER w AS BIGINT) AS losses,
         CAST(COUNT(diff) OVER w AS BIGINT) AS n_diffs
  FROM d
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey, n_diffs,
       CASE WHEN gains + losses > 0
            THEN 100.0 * CAST(gains AS DOUBLE)
                 / CAST(gains + losses AS DOUBLE) END AS rsi
FROM g
""",
    category="windows",
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (simple-average Cutler form) over the
    trailing 6 order-to-order price moves per customer: RSI = 100 *
    gains / (gains + losses), with gains/losses as exact int64 sums
    of positive/negative cent deltas and ONE double division — so
    the oscillator is bit-reproducible (the classic Wilder-smoothed
    RSI is a recursion; the simple-average form is the
    window-expressible variant). NULL until a move exists or when
    the frame is flat. One shuffle on o_custkey; lag and the two
    conditional sums share the partition sort."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    w0 = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    d = o.select(
        "o_custkey", "o_orderkey", (x - F.lag(x).over(w0)).alias("diff")
    )
    w = w0.rowsBetween(-5, Window.currentRow)
    g = d.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0)).over(w).alias("gains"),
        F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0)).over(w).alias("losses"),
        F.count("diff").over(w).alias("n_diffs"),
    )
    return g.select(
        "o_custkey",
        "o_orderkey",
        "n_diffs",
        F.when(
            (F.col("gains") + F.col("losses")) > 0,
            100.0 * F.col("gains").cast("double")
            / (F.col("gains") + F.col("losses")).cast("double"),
        ).alias("rsi"),
    )


@query(
    "win_ntile_distributed",
    oracle="""
SELECT o_orderkey,
       ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS price_quartile
FROM orders
""",
    category="windows",
)
def win_ntile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE twin of win_ntile: bit-identical ntile(4) output
    WITHOUT a single-partition global sort (the documented SCALE.md
    caveat of the demo version, now a runnable counterpart), through
    the distributed-prefix kernel ``api_rank.ntile_distributed``."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return ntile_distributed(
        o, 4, ["o_totalprice", "o_orderkey"], "price_quartile"
    ).select("o_orderkey", "price_quartile")


@query(
    "win_time_range_frame",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            OVER (PARTITION BY user_id
                  ORDER BY CAST(epoch_us(ts) AS BIGINT)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cents_1h,
       CAST(COUNT(*)
            OVER (PARTITION BY user_id
                  ORDER BY CAST(epoch_us(ts) AS BIGINT)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_1h
FROM events WHERE event_type = 'purchase'
""",
    category="windows",
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED time-interval RANGE frame — the at-scale form of
    win_range_frame (whose global order is the documented
    single-task caveat): per-user trailing-1-hour purchase total and
    count, the fraud/velocity-check primitive. The frame bound is
    exact integer MICROSECONDS over a unix_micros order key (a
    seconds cast would include events up to 1s outside the window),
    and the summed value is exact integer cents. One shuffle on
    user_id; frames never cross users, so every executor windows its
    own keys."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).alias("cents_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@query(
    "win_rolling_slope",
    oracle="""
WITH c AS (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
              - 1 AS BIGINT) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders
),
m AS (
  SELECT o_custkey, o_orderkey,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
  FROM c
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
       n * sxy - sx * sy AS num,
       n * sxx - sx * sx AS den,
       CAST(n * sxy - sx * sy AS DOUBLE) / NULLIF(n * sxx - sx * sx, 0) / 100.0
         AS slope
FROM m
""",
    category="windows",
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS slope (trailing-4 trend / rolling beta vs time) —
    the quant-family companion of win_bollinger/win_rsi: the
    closed-form slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over a trailing
    ROWS frame, every power sum an exact int64 on integer cents and
    the per-partition row index, so both engines agree bit-for-bit;
    the only float ops are one division pair at the end (NULL for
    the frame-of-one first row). One shuffle on the partition key."""
    o = table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    w = wo.rowsBetween(-3, 0)
    c = o.select(
        "o_custkey",
        "o_orderkey",
        (F.row_number().over(wo) - 1).cast("long").alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    n = F.count(F.lit(1)).over(w).cast("long")
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    num = (n * sxy - sx * sy).alias("num")
    den = (n * sxx - sx * sx).alias("den")
    return c.select(
        "o_custkey",
        "o_orderkey",
        num,
        den,
        (
            (n * sxy - sx * sy).cast("double")
            / F.nullif(n * sxx - sx * sx, F.lit(0))
            / F.lit(100.0)
        ).alias("slope"),
    )


@query(
    "win_longest_streak",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
g AS (
  SELECT user_id, day,
         date_diff('day', DATE '2024-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM d
),
s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len,
         CAST(MIN(day) AS TIMESTAMP) AS streak_start
  FROM g GROUP BY user_id, grp
),
t AS (
  SELECT user_id, streak_len, streak_start,
         MAX(streak_len) OVER (PARTITION BY user_id) AS mx
  FROM s
)
SELECT user_id,
       MAX(streak_len) AS longest_streak,
       MIN(CASE WHEN streak_len = mx THEN streak_start END)
         AS best_streak_start,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM t
GROUP BY user_id
""",
    category="windows",
)
def win_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    engagement metric built on the gaps-and-islands identity
    (day_number − row_number is constant within a run of consecutive
    days): distinct (user, day) → island id → per-island length →
    per-user max, with the earliest start among tied longest streaks
    selected DETERMINISTICALLY (per-user max length via a window,
    then MIN(start) over the islands attaining it — never min_by,
    whose tie resolution is scan-order-dependent and would
    hash-mismatch under different partitionings). The distinct, the
    user window, and the rollups all share the user_id partitioning;
    the island table is bounded by active days.

    Graded streak_start stays TIMESTAMP per the DATE canonicalization
    rule."""
    e = table(spark, sf_dir, "events")
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").cast("timestamp").alias("streak_start"),
    )
    t = s.withColumn(
        "mx", F.max("streak_len").over(Window.partitionBy("user_id"))
    )
    return t.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.min(
            F.when(F.col("streak_len") == F.col("mx"), F.col("streak_start"))
        ).alias("best_streak_start"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "win_cusum_changepoint",
    oracle="""
WITH c AS (
  SELECT user_id, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
  FROM events
),
t AS (
  SELECT user_id, event_id, cents, k,
         SUM(cents) OVER (PARTITION BY user_id ORDER BY k) AS prefix,
         SUM(cents) OVER (PARTITION BY user_id) AS total,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM c
),
d AS (
  SELECT user_id, event_id, k, n,
         ABS(n * prefix - k * total) AS dev
  FROM t
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(dev) AS BIGINT) AS max_dev,
       CAST(MIN(CASE WHEN dev = mx THEN k END) AS BIGINT) AS changepoint_k
FROM (SELECT *, MAX(dev) OVER (PARTITION BY user_id) AS mx FROM d)
GROUP BY user_id
""",
    category="windows",
)
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user — the classic
    monitoring statistic (where did this series' mean shift?) made
    EXACT: the deviation-from-mean prefix sum is cross-multiplied to
    integers (dev_k = |n·prefix_k − k·total|, avoiding the mean
    ratio entirely), the change point is the argmax with a
    deterministic min-k tie-break via the windowed-max + conditional
    MIN pattern (never max_by). cents ≤ 2^15, n ≤ 2^20 rows/user →
    dev < 2^50: int64-safe at any realistic per-user volume.

    One shuffle on user_id shared by every window; the rollup rides
    the same partitioning."""
    e = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    c = e.select(
        "user_id",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.row_number().over(wo).alias("k"),
    )
    t = c.select(
        "user_id",
        "k",
        F.sum("cents").over(Window.partitionBy("user_id").orderBy("k")).alias(
            "prefix"
        ),
        F.sum("cents").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    d = t.select(
        "user_id",
        "k",
        "n",
        F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("total")).alias(
            "dev"
        ),
    ).withColumn("mx", F.max("dev").over(wp))
    return d.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.max("dev").alias("max_dev"),
        F.min(F.when(F.col("dev") == F.col("mx"), F.col("k"))).alias(
            "changepoint_k"
        ),
    )
