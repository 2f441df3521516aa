"""Aggregation operators (SURVEY.md §2.4).

Every oracle-checked aggregate follows the exact-decimal convention
(exact.py): partial/final hash aggregation stays entirely JVM-side
and the shuffle carries one row per group per task (map-side combine)
— the property that makes these plans scale-invariant.

Statistical moments (stddev/var/corr/covar) are computed from exact
decimal power sums and combined in IEEE double with the SAME
expression shape as the oracle, which makes even those bit-exact
across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exact import davg, dsum, sql_davg, sql_dsum
from .. import api
from ..io import register_views, spread_table, table
from ..registry import query


@query(
    "agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS sum_price,
       {sql_davg('l_quantity')} AS avg_qty,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship,
       MIN(l_discount) AS min_disc,
       MAX(l_discount) AS max_disc
FROM lineitem
""",
    category="aggregations",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate: single-row result, partial aggs
    combined on one reducer."""
    l = table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
    )


@query(
    "agg_groupby",
    oracle=f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price,
       {sql_davg('o_totalprice')} AS avg_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderpriority, o_orderstatus
""",
    category="aggregations",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key grouped aggregation (hash agg, map-side combine)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        davg(F.col("o_totalprice")).alias("avg_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "agg_having",
    oracle=f"""
SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 12
""",
    category="aggregations",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING = filter above the agg node)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .where(F.col("n_orders") > 12)
    )


@query(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
GROUP BY l_returnflag
""",
    category="aggregations",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase agg under the hood;
    for 100 TB cardinality estimation use agg_approx_distinct)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@query("agg_approx_distinct", oracle=None, category="aggregations")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for distinct
    counts (constant memory per group vs the exact expand). Sketches
    differ across engines -> rows-only check; a unit test asserts
    <5% relative error vs exact."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


@query(
    "agg_sum_distinct",
    oracle="""
SELECT l_linestatus, SUM(DISTINCT l_quantity) AS sum_distinct_qty
FROM lineitem
GROUP BY l_linestatus
""",
    category="aggregations",
)
def agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(DISTINCT) over the integral-valued quantity column
    (integer-valued doubles sum exactly in any order)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty")
    )


@query(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       GROUPING(o_orderpriority) AS g_pri, GROUPING(o_orderstatus) AS g_st
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""",
    category="aggregations",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with GROUPING() disambiguation of NULL group
    cells — expressed in SQL so the Spark text parallels the oracle."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       GROUPING(o_orderpriority) AS g_pri, GROUPING(o_orderstatus) AS g_st
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""
    )


@query(
    "agg_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    category="aggregations",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (flag, flag+status, grand total).

    r13 (guide §2.5): rollup's Expand triples the input rows BEFORE
    the partial aggregate — all on the fixture's single scan task;
    spread_table parallelizes it (layout-guarded no-op at scale).
    r14 A/B (this edit shipped unverified in r13): 0.73 s with vs
    1.13 s without, isolated 32c medians — kept."""
    l = spread_table(spark, sf_dir, "lineitem", "l_orderkey")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


@query(
    "agg_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    category="aggregations",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations of the two keys."""
    l = table(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


def _sq(col: str) -> Column:
    """Exact decimal square of a raw 2-decimal column."""
    d = F.col(col).cast("decimal(15,2)")
    return d * d


def _sql_sq(col: str) -> str:
    return f"(CAST({col} AS DECIMAL(15,2)) * CAST({col} AS DECIMAL(15,2)))"


@query(
    "agg_stats",
    oracle=f"""
WITH m AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS s,
         CAST(SUM({_sql_sq('c_acctbal')}) AS DOUBLE) AS ss
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment,
       (ss - s * s / n) / (n - 1) AS var_acctbal,
       SQRT((ss - s * s / n) / (n - 1)) AS stddev_acctbal,
       s / n AS mean_acctbal
FROM m
""",
    category="aggregations",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev/mean from exact decimal power sums.

    Streaming-variance implementations (Welford merges) are
    order-dependent across engines; exact power sums + one final
    double expression (same shape both sides) are bit-reproducible
    AND cheaper at scale: the shuffle carries 3 numbers per group.

    Bit-parity envelope: the decimal->double conversion is a single
    rounding only while the sum's significand stays under 2^53 —
    holds here through sf0.1 with ~1e9 headroom; for sums beyond
    that, switch to integer power sums over scaled values as
    agg_corr does (its price-based decimal sums crossed 2^53 already
    at sf0.1).
    """
    c = table(spark, sf_dir, "customer")
    m = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(15,2)")).cast("double").alias("s"),
        F.sum(_sq("c_acctbal")).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    return m.select(
        "c_mktsegment",
        ((ss - s * s / n) / (n - 1)).alias("var_acctbal"),
        F.sqrt((ss - s * s / n) / (n - 1)).alias("stddev_acctbal"),
        (s / n).alias("mean_acctbal"),
    )


@query(
    "agg_corr",
    oracle="""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS syy,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) AS sxy
  FROM lineitem
)
SELECT (n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_qty_disc,
       (n * sxy - sx * sy) / (n * (n - 1)) AS covar_samp_qty_disc
FROM m
""",
    category="aggregations",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance between quantity and
    discount (in cents) from exact INTEGER power sums.

    Integer (not decimal) sums on purpose: at sf0.1 the price-based
    decimal power sums exceed the 2^53 double significand, and
    DuckDB's two-rounding decimal->double conversion flips the last
    ulp (caught by a full-scale sweep). qty <= 50 and disc_cents <=
    10 keep every power sum int64-exact up to ~1e12 rows, so the
    double conversions are exact and the final formula (identical
    expression both sides) is bit-reproducible at any scale factor.
    """
    l = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    m = l.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_disc"),
        ((n * sxy - sx * sy) / (n * (n - 1))).alias("covar_samp_qty_disc"),
    )


@query(
    "agg_percentile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty
FROM lineitem
GROUP BY l_returnflag
""",
    category="aggregations",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles over the integral-valued
    quantity column (integral data keeps cross-engine interpolation
    arithmetic exact)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("p50_qty"),
        F.percentile(F.col("l_quantity"), F.lit(0.9)).alias("p90_qty"),
    )


@query("agg_percentile_approx", oracle=None, category="aggregations")
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (t-digest style) — the 100 TB path for
    quantiles; sketch differs from DuckDB's -> rows-only check, unit
    test asserts closeness to exact."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx(F.col("l_quantity"), F.lit(0.5), F.lit(10000)).alias(
            "p50_approx"
        )
    )


@query(
    "agg_collect",
    oracle="""
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    category="aggregations",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group collected set, sorted for determinism (unsorted
    collect_list is order-nondeterministic under parallelism) and
    joined to one string — the driver's comparator hashes scalar
    cells only, so graded outputs never expose raw array columns."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_listagg",
    oracle="""
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
         AS order_ids,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey % 97 = 0
GROUP BY o_orderpriority
""",
    category="aggregations",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered string aggregation — LISTAGG ... WITHIN GROUP
    (ORDER BY ...), new as a first-class aggregate in Spark 4 (the
    report-building "roster per group" idiom; DuckDB twin is
    string_agg with ORDER BY). The WITHIN GROUP ordering is what
    makes the concatenated string deterministic under parallelism —
    ties on the sort key concatenate identical substrings, so the
    result is still unique. Ordinary partial/final aggregation,
    group state = the accumulated string."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(cast(o_orderkey as string), ',') "
            "WITHIN GROUP (ORDER BY o_orderkey)"
        ).alias("order_ids"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_ohlc",
    oracle="""
SELECT event_type,
       time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
       arg_min(value, ts) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ts) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
""",
    category="aggregations",
)
def agg_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open-high-low-close) — the time-series candlestick
    rollup: per (event_type, 6h bucket), the first value by time,
    the extremes, the last value by time, and the event count. Every
    measure is a SELECTION aggregate (min_by/max_by/min/max), not a
    sum — no accumulation-order sensitivity, so doubles pass through
    bit-exact with no quantization needed. events.ts is globally
    unique, making the by-time argmin/argmax well-defined. One
    partial+final hash aggregation, shuffle on (type, bucket)."""
    ev = table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 21600).cast("long") * 21600
    ).cast("timestamp")
    return (
        ev.select("event_type", bucket.alias("bucket_start"), "ts", "value")
        .groupBy("event_type", "bucket_start")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderpriority
""",
    category="aggregations",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (Spark bitmap_*
    aggregate family) — the warehouse-scale alternative to
    COUNT(DISTINCT): ids map to (bucket, bit position), each
    (group, bucket) builds a fixed 4KB bitmap, and the group's
    distinct count is the sum of bitmap popcounts. Unlike
    COUNT(DISTINCT) (whose partial state is the value set itself)
    bitmap partials are constant-size and mergeable, so rollups can
    be computed incrementally per partition/day and combined later
    without re-scanning — exactness of a distinct count with the
    mergeability of a sketch. Oracle: plain COUNT(DISTINCT), which
    the bitmap pipeline must equal exactly."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
        )
    )


@query(
    "agg_bitmap_rollup",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderstatus
""",
    category="aggregations",
)
def agg_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count ROLLUP via bitmap merging — the
    mergeability claim of agg_bitmap_distinct exercised, not just
    stated: per-(status, month, bucket) bitmaps are built first (the
    "daily partial" a warehouse materializes incrementally), then
    OR-merged across months with bitmap_or_agg and popcounted. The
    final count must equal a flat COUNT(DISTINCT) over the raw rows
    — which is exactly what the oracle computes. At scale the first
    level aggregates each new time slice alone; the second level
    touches only (groups x slices x buckets) constant-size bitmaps,
    never the raw data."""
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            "o_orderstatus",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderstatus", "month", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        monthly.groupBy("o_orderstatus", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm_all"))
        .groupBy("o_orderstatus")
        .agg(F.sum(F.expr("bitmap_count(bm_all)")).alias("n_customers"))
    )


@query(
    "agg_filtered",
    oracle=f"""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
""",
    category="aggregations",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause ≡ sum(when(...)))."""
    l = table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    return l.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "F", dq)).cast("double").alias("qty_f"),
        F.sum(F.when(F.col("l_linestatus") == "O", dq)).cast("double").alias("qty_o"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


@query(
    "agg_pivot",
    oracle=f"""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_F,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_O
FROM lineitem
GROUP BY l_returnflag
""",
    category="aggregations",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide crosstab: pivot on the (known, bounded) linestatus domain.
    Passing explicit pivot values skips the extra distinct-scan job."""
    l = table(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum(F.col("l_quantity")))
    )
    return p.select(
        "l_returnflag",
        F.col("F").alias("qty_F"),
        F.col("O").alias("qty_O"),
    )


@query(
    "agg_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, val
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
  FROM lineitem WHERE l_orderkey < 100
) UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
""",
    category="aggregations",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-from-wide unpivot of three measure columns."""
    l = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return l.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "agg_top_groups",
    oracle=f"""
SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_custkey
ORDER BY sum_price DESC, o_custkey
LIMIT 5
""",
    category="aggregations",
)
def agg_top_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups ranked by aggregate, deterministic tie-break, top-5
    (TakeOrderedAndProject — no full result sort)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy(F.desc("sum_price"), "o_custkey")
        .limit(5)
    )


@query(
    "agg_weighted_avg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
FROM lineitem
GROUP BY l_returnflag
""",
    category="aggregations",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price: sum(w*x)/sum(w) with exact
    decimal numerator/denominator."""
    l = table(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    return l.groupBy("l_returnflag").agg(
        (F.sum(dp * dq).cast("double") / F.sum(dq).cast("double")).alias("wavg_price")
    )


@query("agg_hll_sketch", oracle=None, category="aggregations")
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog SKETCHES as first-class values (Apache
    DataSketches via hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate): per-(flag,status) sketches are built in one
    pass, then MERGED up to per-flag estimates without rescanning —
    the re-aggregatable rollup pattern a 100 TB pipeline uses to keep
    daily sketches and union them into monthly distincts. Sketch
    bytes are engine-specific -> rows-only; unit test asserts <5%
    error vs exact."""
    l = table(spark, sf_dir, "lineitem")
    per_pair = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("sk"),
        F.count_distinct("l_orderkey").alias("exact_pair"),
    )
    return (
        per_pair.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias(
                "merged_estimate"
            ),
            # exact distinct per flag for the calibration test: the
            # pair-level exacts cannot be summed (orderkeys span
            # statuses), so recompute from the sketchless column
        )
        .join(
            l.groupBy("l_returnflag").agg(
                F.count_distinct("l_orderkey").alias("exact_flag")
            ),
            "l_returnflag",
        )
    )


@query(
    "agg_time_rollup",
    oracle="""
SELECT date_trunc('day', ts) AS bucket_day,
       date_trunc('hour', ts) AS bucket_hour,
       GROUPING(date_trunc('hour', ts)) AS g_hour,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                        (date_trunc('day', ts)))
""",
    category="aggregations",
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup: hourly AND
    daily aggregates of the event stream in ONE grouping-sets pass
    (continuous-aggregate pattern — the scan runs once, Expand feeds
    both granularities, partial aggregation combines map-side).
    GROUPING() distinguishes the day-total rows from hour rows."""
    register_views(spark, sf_dir, "events")
    return spark.sql(
        """
SELECT date_trunc('day', ts) AS bucket_day,
       date_trunc('hour', ts) AS bucket_hour,
       GROUPING(date_trunc('hour', ts)) AS g_hour,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                        (date_trunc('day', ts)))
"""
    )


@query(
    "agg_mode",
    oracle="""
WITH counted AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
FROM counted
QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                           ORDER BY n DESC, o_orderpriority) = 1
""",
    category="aggregations",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a DETERMINISTIC
    tie-break (highest count, then lexicographically smallest value)
    — native mode() in either engine leaves ties unspecified, so the
    engine computes count + argmin-over-(-n, value): two hash
    aggregations, no window over raw rows. The second aggregation
    sees one row per (group, value) — already tiny at any scale."""
    o = table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = F.min_by(
        F.struct(
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        ),
        F.struct((-F.col("n")).alias("neg_n"), F.col("o_orderpriority")),
    )
    return counted.groupBy("o_orderstatus").agg(
        best.getField("mode_priority").alias("mode_priority"),
        best.getField("mode_count").alias("mode_count"),
    )


@query(
    "agg_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY bucket
""",
    category="aggregations",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (25k-wide buckets) — the profiling
    primitive behind every data-quality dashboard. Bucketing is pure
    arithmetic on the scan (codegen), then one partial+final count
    aggregation on a small bounded key — at 100 TB the shuffle
    carries at most tasks x buckets rows. Bucket ids are
    integer-exact in both engines: the same IEEE double divide +
    floor on the same inputs (width_bucket exists only on the Spark
    side, so the portable arithmetic IS the operator)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.floor(F.col("o_totalprice") / 25000.0).cast("int").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "agg_gap_fill",
    oracle="""
WITH bounds AS (
  SELECT time_bucket(INTERVAL 6 HOUR, MIN(ts)) AS t0,
         time_bucket(INTERVAL 6 HOUR, MAX(ts)) AS t1
  FROM events
),
spine AS (
  SELECT event_type, bucket_start
  FROM (SELECT DISTINCT event_type FROM events)
  CROSS JOIN (
    SELECT unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS bucket_start
    FROM bounds
  )
),
actual AS (
  SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.event_type, s.bucket_start, COALESCE(a.n, 0) AS n,
       a.n IS NULL AS gap_filled
FROM spine s LEFT JOIN actual a
  ON a.event_type = s.event_type AND a.bucket_start = s.bucket_start
""",
    category="aggregations",
)
def agg_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time rollup: 6-hour bucket counts per event_type
    with EMPTY buckets materialized as zero rows — the time-series
    "gapfill" every monitoring/continuous-aggregate surface needs
    (a missing bucket and a zero bucket are different facts).

    Shape: the dense (type x bucket) spine is generated from the
    global min/max — a two-row bound aggregate, then sequence() +
    explode on the driver-free side — and the actual rollup LEFT
    joins into it. The spine is tiny (types x buckets, time-bounded)
    and broadcasts; the fact table is touched exactly once. At
    100 TB the rollup is the usual partial+final count; the spine
    stays a few thousand rows no matter the data volume.

    Oracle-alignment constraint: Spark buckets from the Unix epoch
    while DuckDB's time_bucket origin is 2000-01-01 (946684800 s).
    Cross-engine exactness therefore requires the bucket width to
    divide 946684800 — true for 6 h (21600 s), false for e.g. 7 h.
    Changing the width means either keeping this divisibility or
    passing an explicit epoch origin to time_bucket in the oracle."""
    ev = table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 21600).cast("long") * 21600
    )
    bounds = ev.agg(
        F.min(bucket.cast("timestamp")).alias("t0"),
        F.max(bucket.cast("timestamp")).alias("t1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            bounds.select(
                F.explode(
                    F.sequence("t0", "t1", F.expr("INTERVAL 6 HOURS"))
                ).alias("bucket_start")
            )
        )
    )
    actual = (
        ev.select("event_type", bucket.alias("bucket_start"))
        .groupBy("event_type", "bucket_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        F.broadcast(spine)
        .join(actual, ["event_type", "bucket_start"], "left")
        .select(
            "event_type",
            "bucket_start",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


@query(
    "agg_boolean",
    oracle="""
SELECT o_orderstatus,
       CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_huge,
       CAST(COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%') AS BIGINT)
         AS n_urgent
FROM orders
GROUP BY o_orderstatus
""",
    category="aggregations",
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if, universal/existential
    quantifiers (bool_and/bool_or a.k.a. every/some), and FILTER'd
    count — the predicates-as-aggregates surface dashboards lean on.
    All JVM-side, partial+final aggregation on a 3-value key."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.count(F.when(F.col("o_orderpriority").like("1-%"), 1)).alias("n_urgent"),
    )


@query(
    "agg_session_window_native",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM g
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_id
""",
    category="aggregations",
)
def agg_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via Spark's FIRST-CLASS session_window
    aggregation — the engine-level answer to sessionization, vs
    win_sessionize's hand-rolled lag+cumsum (which is exactly what
    the oracle recomputes). session_window merges events whose gaps
    are <= 30 min — boundary probed: two events EXACTLY 30 min apart
    merge into one session, so the oracle's strictly-greater
    new-session predicate agrees at the boundary, not just on the
    microsecond-timestamp fixture. The emitted window end is
    last-event + gap, which the oracle mirrors as MAX(ts) + INTERVAL. One shuffle on
    (user_id); the session assignment itself is a per-partition sort
    + merge, no iteration. Timestamps pass through unchanged, so the
    result is hash-exact cross-engine."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
WITH t AS (
  SELECT o_totalprice,
         ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t
GROUP BY bin
""",
    category="aggregations",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram — the optimizer-
    statistics companion to agg_histogram's equi-WIDTH bins: ntile
    splits the sorted order-price domain into 8 buckets of equal row
    count whose [lo, hi] bounds trace the quantiles. Tie-break on
    o_orderkey makes the assignment a total order, hence
    deterministic under parallelism. Values pass through unchanged.

    Scale note: the bucket assignment runs through the
    distributed-prefix kernel ``api_rank.ntile_distributed``. The
    approximate alternative for when even one extra pass is too much
    remains agg_percentile_approx."""
    from ..api_rank import ntile_distributed

    o = table(spark, sf_dir, "orders")
    t = ntile_distributed(
        o.select("o_totalprice", "o_orderkey"),
        8,
        ["o_totalprice", "o_orderkey"],
        "bin",
    )
    return t.groupBy("bin").agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_ewma", oracle=None, category="aggregations")
def agg_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 0.25) of event
    values per user, ordered by (ts, event_id) — the classic
    time-series smoother: ewma_i = alpha*x_i + (1-alpha)*ewma_{i-1}.
    Expressed non-recursively so it stays one window pass:
    ewma_i = sum_j w^(i-j) * contrib_j / 1 normalized form — here via
    the prefix-sum identity s_i = sum_j x_j / w^j, ewma_i =
    alpha * w^i * s_i + (1-w^i) ... numerically the direct identity
    used is ewma_i = alpha * sum_{j<=i} (1-alpha)^(i-j) x_j +
    (1-alpha)^i x_0-correction with adjust=False pandas semantics:
    first value passes through.

    Implementation detail: the rescaled prefix sum x_j*(1-alpha)^-j
    overflows for long series, so the window is applied to the LAST
    64 rows only (the weight (0.75)^64 ~ 1e-8 makes the truncation
    error negligible, and the rescale stays within double range).
    Rows-only: float powers/sums are order- and shape-sensitive
    across engines; tests/test_quality.py checks 1e-6 relative
    agreement with pandas ewm(alpha=0.25, adjust=False) on the
    truncated horizon."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return api.ewma(
        ev, "user_id", ["ts", "event_id"], "value", alpha=0.25, horizon=64
    ).select("event_id", "user_id", F.col("value").alias("x"), "ewma")


@query(
    "agg_autocorr",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
),
pairs AS (
  SELECT user_id, x,
         lead(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
  FROM c
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
         CAST(SUM(x*y) AS DOUBLE) AS sxy,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs WHERE y IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_pairs,
       (n*sxy - sx*sy)
         / NULLIF(sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy), 0)
         AS autocorr_lag1
FROM m
""",
    category="aggregations",
)
def agg_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value series — the
    time-series diagnostic for burstiness/mean-reversion. Built as
    lead-paired (x_t, x_{t+1}) then Pearson r from exact INTEGER
    power sums in cents (the agg_corr recipe): every sum is
    int64-exact (cents^2 * pairs-per-user stays far under 2^53), the
    double conversions are single correct roundings, and the final
    formula has the identical expression shape in both engines, so
    r is bit-reproducible. NULLIF guards constant series. Two
    shuffles: the lead window and the per-user rollup — both on
    user_id, so Catalyst reuses one Exchange."""
    ev = table(spark, sf_dir, "events")
    x = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", x.alias("x"), F.lead(x).over(w).alias("y")
    ).where(F.col("y").isNotNull())
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return m.select(
        "user_id",
        "n_pairs",
        ((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0))).alias(
            "autocorr_lag1"
        ),
    )


@query(
    "agg_benford",
    oracle="""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders
),
tot AS (SELECT COUNT(*) AS n FROM d)
SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share
FROM d CROSS JOIN tot
GROUP BY digit, tot.n
""",
    category="aggregations",
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-significant-digit distribution of order totals — the
    Benford's-law forensic profile auditors run for fabricated-data
    screening. Digit extracted through the integer-string path (no
    log10, so no libm), share = exact count ratio with one double
    division. One bounded-key (9 digits) aggregation + a 1-row
    broadcast total."""
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    d = o.select(digit.alias("digit"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
    )


@query(
    "agg_gini",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(i * x) AS BIGINT) AS six
  FROM ranked
)
SELECT n AS n_customers,
       CAST(sx AS DOUBLE) AS total_spend,
       (2.0 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
FROM m
""",
    category="aggregations",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the standard inequality /
    concentration metric, from the rank formula
    G = (2*Sum(i*x_i) - (n+1)*Sum(x)) / (n*Sum(x)) over ascending-
    sorted spend. Spend is rounded to whole currency units (both
    engines round double half-ties AWAY FROM ZERO — verified on the
    fixture's 1516 live .50 values, not assumed) so every
    power sum stays int64-exact with the double conversions single
    correct roundings (Sum(i*x_i) ~ n^2/2 * avg_spend must stay
    under 2^53 — holds to ~100k customers here; beyond that switch
    the accumulators to DECIMAL(38,0) and accept the documented
    one-ulp decimal->double risk, or bin spends). The global rank
    runs through the distributed-prefix kernel
    ``api_rank.global_rank_distributed``."""
    from ..api_rank import global_rank_distributed

    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).alias("x")
    )
    ranked = global_rank_distributed(
        spend, ["x", "o_custkey"], "i"
    ).select("x", "i")
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n, sx, six = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("six").cast("double"),
    )
    return m.select(
        F.col("n").alias("n_customers"),
        sx.alias("total_spend"),
        ((2.0 * six - (n + 1.0) * sx) / (n * sx)).alias("gini"),
    )


@query(
    "agg_hhi",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(SUM(cnt * cnt) AS DOUBLE)
         / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) AS hhi
FROM c
GROUP BY user_id
""",
    category="aggregations",
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of each user's activity mix
    (1/k = perfectly even over k event types, 1.0 = single-type):
    HHI = Sum(cnt_i^2) / total^2, kept as ONE integer numerator and
    one squared integer denominator so it is exact-rational — the
    entropy alternative that needs no logarithm and therefore stays
    oracle-exact. Two stacked aggregations, both shuffling on
    user_id."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("user_id").agg(
        F.sum("cnt").alias("n_events"),
        (
            F.sum(F.col("cnt") * F.col("cnt")).cast("double")
            / (F.sum("cnt").cast("double") * F.sum("cnt").cast("double"))
        ).alias("hhi"),
    )


@query(
    "agg_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM c JOIN tot t ON t.from_type = c.from_type
""",
    category="aggregations",
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: counts
    of consecutive (from_type -> to_type) event pairs within each
    user's time-ordered stream, with the maximum-likelihood
    transition probability as an exact count ratio (one double
    division — bit-identical cross-engine). The estimator behind
    next-action prediction and behavioral anomaly scoring.

    Shape: one lead window (shuffle on user_id), one bounded-key
    (5x5) count rollup, and the per-from totals joined back — tiny
    matrix state regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return c.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
    )


# Chi-square cells: event types x deterministic A/B arm (same Knuth
# hash as pipeline_ab_test). All ten observed counts are pivoted into
# ONE row of exact integers so the chi-square combination runs in a
# single expression with FIXED evaluation order — no float summation
# across rows, hence bit-exact cross-engine.
_CHI_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_chi_square",
    oracle=f"""
WITH t AS (
  SELECT event_type,
         CASE WHEN ((user_id & 2147483647) * 2654435761) % 4294967296 < 2147483648
              THEN 'A' ELSE 'B' END AS arm
  FROM events
),
p AS (
  SELECT
    {", ".join(f"CAST(COUNT(CASE WHEN event_type = '{et}' AND arm = '{arm}' THEN 1 END) AS DOUBLE) AS o_{et}_{arm}"
               for et in _CHI_TYPES for arm in ("A", "B"))},
    CAST(COUNT(*) AS DOUBLE) AS n
  FROM t
),
q AS (
  SELECT p.*,
         {" + ".join(f"o_{e2}_A" for e2 in _CHI_TYPES)} AS colA,
         {" + ".join(f"o_{e2}_B" for e2 in _CHI_TYPES)} AS colB
  FROM p
)
SELECT n_events, chi2, dof, sqrt(chi2 / n_events) AS cramers_v
FROM (
SELECT CAST(n AS BIGINT) AS n_events,
       {" + ".join(
         f"(o_{et}_A * n - (o_{et}_A + o_{et}_B) * colA) * (o_{et}_A * n - (o_{et}_A + o_{et}_B) * colA)"
         f" / ((o_{et}_A + o_{et}_B) * colA * n)"
         f" + (o_{et}_B * n - (o_{et}_A + o_{et}_B) * colB) * (o_{et}_B * n - (o_{et}_A + o_{et}_B) * colB)"
         f" / ((o_{et}_A + o_{et}_B) * colB * n)"
         for et in _CHI_TYPES)} AS chi2,
       CAST(4 AS BIGINT) AS dof
FROM q
)
""",
    category="aggregations",
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event type vs deterministic
    A/B arm (the experiment sanity check: activity mix should be
    independent of a hash-based assignment). chi2 = sum over cells of
    (observed*n - row*col)^2 / (row*col*n) — the standard statistic
    rearranged so every input is an EXACT integer count cast once to
    double, and the whole 10-cell combination evaluates inside one
    expression whose operand order is fixed by construction in both
    engines: no float aggregation across rows anywhere, so the
    statistic is bit-reproducible. One bounded-cell conditional
    aggregation (single shuffle-free partial+final over 10 counters)."""
    ev = table(spark, sf_dir, "events")
    arm = F.when(
        (F.col("user_id").bitwiseAND(2147483647) * 2654435761) % 4294967296 < 2147483648, "A"
    ).otherwise("B")
    t = ev.select(F.col("event_type"), arm.alias("arm"))
    aggs = [
        F.count(
            F.when((F.col("event_type") == et) & (F.col("arm") == a), 1)
        ).cast("double").alias(f"o_{et}_{a}")
        for et in _CHI_TYPES
        for a in ("A", "B")
    ] + [F.count(F.lit(1)).cast("double").alias("n")]
    p = t.agg(*aggs)
    n = F.col("n")
    colA = sum((F.col(f"o_{e}_A") for e in _CHI_TYPES[1:]), F.col(f"o_{_CHI_TYPES[0]}_A"))
    colB = sum((F.col(f"o_{e}_B") for e in _CHI_TYPES[1:]), F.col(f"o_{_CHI_TYPES[0]}_B"))
    # accumulate FLAT (A-term then B-term per type, left-associated)
    # to mirror the oracle's "+"-joined chain exactly — float addition
    # is not associative, so grouping (tA + tB) per type first would
    # drift by an ulp
    chi2 = None
    for et in _CHI_TYPES:
        oa, ob = F.col(f"o_{et}_A"), F.col(f"o_{et}_B")
        row = oa + ob
        da = oa * n - row * colA
        db = ob * n - row * colB
        for term in (da * da / (row * colA * n), db * db / (row * colB * n)):
            chi2 = term if chi2 is None else chi2 + term
    out = p.select(
        n.cast("long").alias("n_events"),
        chi2.alias("chi2"),
        F.lit(4).cast("long").alias("dof"),
    )
    # Cramer's V effect size: min(r-1, c-1) == 1 for the 5x2 table,
    # so V = sqrt(chi2 / n) — same single sqrt in both engines.
    return out.withColumn(
        "cramers_v", F.sqrt(F.col("chi2") / F.col("n_events"))
    )


