"""Equi/outer/semi/anti/cross/multiway/self joins (SURVEY.md §2.3).

Physical strategy notes (100 TB posture): region/nation are bounded
dims (5/25 rows at every sf) and always broadcast; customer/supplier/
part broadcast while they fit `autoBroadcastJoinThreshold`, else AQE
falls back to shuffle joins; lineitem⋈orders is the one genuinely
large pair and shuffles on the join key — at cluster scale both
sides would be bucketed on orderkey to make it a zero-shuffle
co-located join (see docs/SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exact import dsum, revenue_dec, dsum_expr, sql_dsum, SQL_REVENUE, sql_dsum_expr
from .. import lifecycle
from ..io import table
from ..registry import query
from ..session import harden_session, scratch_dir

# session-id -> sf_dir whose bucketed tables are already materialized
_BUCKETED_CACHE: dict[int, str] = {}


@query(
    "join_inner_equi",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    category="joins",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi join on the orderkey (sort-merge/shuffled
    hash at scale; both sides partition on the key)."""
    l, o = table(spark, sf_dir, "lineitem"), table(spark, sf_dir, "orders")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


@query(
    "join_broadcast",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    category="joins",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-table map-side join: nation (25 rows, bounded at every
    scale factor) is explicitly broadcast — no shuffle of the big side."""
    c, n = table(spark, sf_dir, "customer"), table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_orderstatus
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
  ON o.o_custkey = c.c_custkey
""",
    category="joins",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving all customers (misses -> NULLs)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left").select(
        "c_custkey", "o_orderkey", "o_orderstatus"
    )


@query(
    "join_right_outer",
    oracle="""
SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment
FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
""",
    category="joins",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving all customers."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return o.join(c, F.col("o_custkey") == F.col("c_custkey"), "right").select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )


@query(
    "join_full_outer",
    oracle="""
SELECT COALESCE(cu.nk, su.nk) AS nationkey, cu.n_cust, su.n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
      WHERE c_acctbal > 5000 GROUP BY c_nationkey) cu
FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier
           GROUP BY s_nationkey) su
  ON cu.nk = su.nk
""",
    category="joins",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates; either side may
    miss, producing NULL counts."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cu = (
        c.where(F.col("c_acctbal") > 5000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    su = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        cu.join(su, cu["nk"] == su["nk"], "full")
        .select(
            F.coalesce(cu["nk"], su["nk"]).alias("nationkey"),
            "n_cust",
            "n_supp",
        )
    )


@query(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
    category="joins",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers with at least one pending order. Semi join
    never duplicates the left side (vs inner join + distinct)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
    category="joins",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no pending order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
""",
    category="joins",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Cartesian product (5 x 25 — both dims are constant-size
    at every scale factor; unbounded cross joins are never used)."""
    r, n = table(spark, sf_dir, "region"), table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_multiway",
    oracle=f"""
SELECT r_name, o_orderstatus,
       COUNT(*) AS n_lines,
       {sql_dsum_expr(SQL_REVENUE)} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY r_name, o_orderstatus
""",
    category="joins",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star-join chain dims->fact; bounded dims broadcast,
    the orders⋈lineitem edge shuffles on orderkey."""
    r, n, c, o, l = (
        table(spark, sf_dir, t)
        for t in ("region", "nation", "customer", "orders", "lineitem")
    )
    # r13 (guide §3.1, plans/r13/join_multiway_before.txt): written
    # dims-first, Catalyst made LINEITEM the build side of the final
    # BroadcastHashJoin — a fact-table HashedRelation built per run,
    # and an impossible plan at 100 TB.  Rewritten fact-first with an
    # explicit SHUFFLE_HASH hint on the dims-folded order table:
    # dims fold into orders (broadcast), then lineitem ⋈ the slim
    # (orderkey, orderstatus, r_name) table hash-partitions BOTH
    # sides on orderkey — the one data-proportional shuffle this
    # star join fundamentally needs — with the per-partition hash
    # built from the order side, never the fact side.  Measured
    # 2.1 s (any broadcast variant, either direction) -> 0.87 s;
    # sort-merge ties SHJ locally but pays a sort the hash join
    # doesn't need.
    dims = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    o2 = (
        o.join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderstatus", "r_name")
        .hint("shuffle_hash")
    )
    return (
        l.join(o2, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("r_name", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_expr(revenue_dec()).alias("revenue"),
        )
    )


@query(
    "join_self",
    oracle="""
SELECT a.user_id, COUNT(*) AS n_pairs
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY a.user_id
""",
    category="joins",
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: pairs of events by the same user within 5 minutes.
    Equi on user_id (the shuffle key) + range residual — at scale the
    residual bounds the per-key explosion."""
    e = table(spark, sf_dir, "events")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTE")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_bucketed",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    category="joins",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact-to-fact join — THE 100 TB strategy
    for lineitem⋈orders: both tables are written `bucketBy(N,
    orderkey)` once, after which every join on that key is a
    zero-exchange sort-merge (each bucket pair joins locally).

    This query materializes bucketed copies (8 buckets) into a temp
    warehouse ONCE per (session, sf_dir) — cached like the streaming
    _STAGE_CACHE, so repeated grading/bench runs measure the join,
    not the rewrite — and the join plan shows NO Exchange on either
    side (asserted in tests/test_plans.py). Result is identical to
    join_inner_equi — same oracle. At a real deployment the bucketed
    write happens at ingest, not per query."""
    harden_session(spark)
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    ln, on_ = "bda_lineitem_b", "bda_orders_b"
    if _BUCKETED_CACHE.get(id(spark)) != sf_dir:
        wh = scratch_dir(prefix="bda_bucketed_")
        l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        for name, df, key in ((ln, l, "l_orderkey"), (on_, o, "o_orderkey")):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", f"{wh}/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        _BUCKETED_CACHE[id(spark)] = sf_dir
    lb, ob = spark.table(ln), spark.table(on_)
    # hint("merge"): at test scale AQE would broadcast the small side,
    # hiding the point of the demo — the co-located sort-merge join
    # reads each bucket pair locally with no exchange on either side
    return (
        lb.hint("merge").join(ob, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


@query(
    "join_lateral",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, t.l_linenumber, t.l_extendedprice
FROM orders o,
     LATERAL (SELECT l_linenumber, l_extendedprice
              FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
              ORDER BY l_extendedprice DESC, l_linenumber
              LIMIT 2) t
WHERE o.o_custkey % 100 = 0
""",
    category="joins",
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — "for each order, its top-2
    priciest line items": the per-row dependent subquery surface
    (Spark 4 SQL supports LATERAL natively). Catalyst decorrelates
    it into a join + per-key rank-limit, so the execution shape is
    the scalable WindowGroupLimit plan, not a per-row re-scan —
    asserted by the same top-k plan discipline as
    win_topk_per_group."""
    from ..io import register_views

    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice, t.l_linenumber, t.l_extendedprice
        FROM orders o,
             LATERAL (SELECT l_linenumber, l_extendedprice
                      FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                      ORDER BY l_extendedprice DESC, l_linenumber
                      LIMIT 2) t
        WHERE o.o_custkey % 100 = 0
        """
    )


@query(
    "join_null_safe",
    oracle="""
WITH a AS (
  SELECT o_orderkey, nullif(o_orderkey % 7, 3) AS k, o_totalprice
  FROM orders WHERE o_orderkey % 50 = 0
),
b AS (
  SELECT nullif(n, 3) AS k, 'bucket_' || n AS label
  FROM (SELECT unnest(generate_series(0, 6)) AS n)
)
SELECT a.o_orderkey, a.k, b.label, a.o_totalprice
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
""",
    category="joins",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics you
    need when NULL is a real category (unknown bucket) rather than
    absent data. Same hash-join machinery, NULL hashes to a regular
    partition; a plain `=` join silently drops every NULL row, the
    classic reconciliation bug this operator exists to avoid."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    a = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderkey") % 7, F.lit(3)).alias("k"),
        "o_totalprice",
    )
    b = spark.range(0, 7).select(
        F.nullif(F.col("id"), F.lit(3)).alias("kb"),
        F.concat(F.lit("bucket_"), F.col("id").cast("string")).alias("label"),
    )
    return (
        a.join(F.broadcast(b), a.k.eqNullSafe(F.col("kb")))
        .select("o_orderkey", "k", "label", "o_totalprice")
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # fixture tables are far below the 10 GB production default; force
    # injection so the demo exercises the real code path
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # injection requires a PROBABLY-SHUFFLE join: if the filtered dim
    # is broadcastable by size the optimizer skips the bloom filter
    # (a broadcast join prunes inline), so disable auto-broadcast for
    # the scoped execution — exactly the production regime, where the
    # creation side is under 10 MB but the join still shuffles
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@query(
    "join_runtime_bloom",
    oracle="""
SELECT l.l_orderkey AS orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_orderkey
""",
    category="joins",
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — the row-level companion of
    join_dynamic_partition_pruning: a selective filter on the
    creation side (urgent orders) is turned by Catalyst into a Bloom
    filter that pre-filters the big application side (lineitem)
    BEFORE the join shuffle, so at 100 TB most fact rows die at the
    scan instead of riding an Exchange. hint("merge") keeps the join
    a shuffle join (AQE would broadcast the filtered side at fixture
    scale, which disables injection — broadcast joins prune inline).

    The Bloom-filter confs are scoped to THIS query: the join
    materializes eagerly via localCheckpoint while they're set, then
    they're restored so no other registered query's pinned plan shape
    can drift. tests/test_plans.py asserts the
    BloomFilterMightContain filter lands on the lineitem side.
    Results are semantically invariant (a Bloom filter only skips
    rows the join would drop) — same oracle as the plain join."""
    harden_session(spark)
    # build the inputs FIRST: table() re-hardens the session, which
    # would overwrite the scoped autoBroadcastJoinThreshold override
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        j = (
            l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
            .groupBy(F.col("l_orderkey").alias("orderkey"))
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        return lifecycle.checkpoint(j)  # eager: bloom active during execution
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "join_strategy_hints",
    oracle="""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS price_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
    category="joins",
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-strategy control via join hints: the SAME logical
    orders⋈lineitem runs once as SHUFFLE_HASH and once as MERGE
    (hint() on the build side overrides the optimizer's pick) and
    the two aggregates are verified EQUAL inside the query (inner
    join on every output column) before returning — hints must
    change the physical plan, never the answer.  The plan test pins
    ShuffledHashJoin in one tree and SortMergeJoin in the other.
    This is the escape hatch when statistics mislead the planner at
    100 TB (e.g. forcing shuffle-hash to skip the sort on a
    one-shot join against a medium dimension)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")

    def agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(cents).cast("long").alias("price_cents"),
        )

    sh = agg(l.join(o.hint("shuffle_hash"), l["l_orderkey"] == o["o_orderkey"]))
    sm = agg(l.join(o.hint("merge"), l["l_orderkey"] == o["o_orderkey"]))
    return sh.join(
        sm.withColumnRenamed("n_lines", "n2").withColumnRenamed(
            "price_cents", "p2"
        ),
        "o_orderpriority",
    ).where(
        (F.col("n_lines") == F.col("n2")) & (F.col("price_cents") == F.col("p2"))
    ).select("o_orderpriority", "n_lines", "price_cents")
