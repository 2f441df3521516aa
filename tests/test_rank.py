"""Distributed-rank family: the ``api_rank`` prefix kernels (global
rank, ntile, grouped running sum) against Spark's own single-task
windows, and the plan checks that the queries built on them never
sort on one task."""

from hypothesis import given, settings, strategies as st
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analysis_spark import api
from big_data_analysis_spark.registry import load_all

REG = load_all()

_SETTINGS = dict(max_examples=8, deadline=None)  # each example spins Spark jobs


def plan_of(name, spark, sf_dir) -> str:
    df = REG[name].fn(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_api_kernels_on_synthetic_table(spark):
    """The re-exported distributed kernels work on arbitrary caller
    tables through the api namespace."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate([5, 1, 9, 1, 7, 3])], "v int, rid int"
    )
    q = {
        r.rid: r.b
        for r in api.ntile_distributed(df, 3, ["v", "rid"], "b").collect()
    }
    assert sorted(q.values()) == [1, 1, 2, 2, 3, 3]
    rk = {
        r.rid: r.rk
        for r in api.global_rank_distributed(df, ["v", "rid"], "rk").collect()
    }
    assert sorted(rk.values()) == [1, 2, 3, 4, 5, 6]
    assert rk[1] == 1 and rk[3] == 2  # the two v=1 rows rank first by rid


def test_api_grouped_cumsum_distributed(spark):
    """The grouped prefix-sum kernel on a hand-checked table: per
    group, running totals in order; groups independent; negatives
    fine."""
    df = spark.createDataFrame(
        [
            ("g1", 1, 10),
            ("g1", 2, -3),
            ("g1", 3, 5),
            ("g2", 1, 7),
            ("g2", 2, 0),
        ],
        "g string, o int, v int",
    )
    out = {
        (r.g, r.o): r.run
        for r in api.grouped_cumsum_distributed(
            df, ["g"], ["o"], "v", "run"
        ).collect()
    }
    assert out == {
        ("g1", 1): 10,
        ("g1", 2): 7,
        ("g1", 3): 12,
        ("g2", 1): 7,
        ("g2", 2): 7,
    }


def test_api_grouped_cumsum_null_group_and_null_values(spark):
    """The two NULL edges the window twin defines: (1) a NULL group
    key is a real partition (rows must not drop through the
    offsets equi-join); (2) SUM is NULL iff every value in the frame
    is NULL — a later range partition whose local prefix is all-NULL
    must still carry the earlier partition's total forward, and an
    all-NULL group must stay NULL, not 0."""
    df = spark.createDataFrame(
        [(None, 1, 5), ("g", 2, 3)], "g string, o int, v int"
    )
    out = {
        (r.g, r.o): r.run
        for r in api.grouped_cumsum_distributed(
            df, ["g"], ["o"], "v", "run"
        ).collect()
    }
    assert out == {(None, 1): 5, ("g", 2): 3}

    rows = [("g", 0, 10)] + [("g", i, None) for i in range(1, 8)]
    rows += [("h", i, None) for i in range(4)]
    df2 = spark.createDataFrame(rows, "g string, o int, v int")
    out2 = {
        (r.g, r.o): r.run
        for r in api.grouped_cumsum_distributed(
            df2, ["g"], ["o"], "v", "run", num_partitions=4
        ).collect()
    }
    assert all(out2[("g", i)] == 10 for i in range(8))  # carry survives
    assert all(out2[("h", i)] is None for i in range(4))  # all-NULL stays NULL


@given(rows=st.lists(st.integers(min_value=-10000, max_value=10000),
                     min_size=1, max_size=60),
       k=st.integers(min_value=1, max_value=6))
@settings(**_SETTINGS)
def test_distributed_ntile_matches_window_ntile(spark, rows, k):
    """The offsets-based distributed ntile formula must equal Spark's
    own ntile(k) single-partition window on ARBITRARY value lists
    (ties, negatives, n<k, n%k!=0) — same closed form the registered
    win_ntile_distributed uses."""
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(rows)], "v int, rid int"
    )
    w = Window.orderBy("v", "rid")
    expected = df.select("rid", F.ntile(k).over(w).alias("b"))
    ranked = df.repartitionByRange(4, "v", "rid").select(
        "rid", "v",
        F.spark_partition_id().alias("pid"),
        F.row_number().over(
            Window.partitionBy(F.spark_partition_id()).orderBy("v", "rid")
        ).alias("lrn"),
    )
    counts = ranked.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offs = counts.select(
        "pid",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
        F.sum("cnt").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    r = F.col("off") + F.col("lrn")
    q, rem = (F.col("n") / k).cast("long"), F.col("n") % k
    big = rem * (q + 1)
    bucket = F.when(r <= big, F.ceil(r / (q + 1))).otherwise(
        rem + F.ceil((r - big) / q)
    )
    got = ranked.join(F.broadcast(offs), "pid").select(
        "rid", bucket.cast("int").alias("b")
    )
    exp = {x.rid: x.b for x in expected.collect()}
    act = {x.rid: x.b for x in got.collect()}
    assert exp == act


@given(rows=st.lists(st.integers(min_value=-10000, max_value=10000),
                     min_size=1, max_size=60))
@settings(**_SETTINGS)
def test_global_rank_distributed_matches_window(spark, rows):
    """global_rank_distributed must equal row_number() over the
    single-partition global window on arbitrary lists (ties,
    negatives) — the offsets machinery generalized from the certified
    ntile kernel."""
    from big_data_analysis_spark.operators.windows import (
        global_rank_distributed,
    )

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(rows)], "v int, rid int"
    )
    got = {
        r.rid: r.rk
        for r in global_rank_distributed(df, ["v", "rid"], "rk").collect()
    }
    want = {
        r.rid: r.rk
        for r in df.select(
            "rid", F.row_number().over(Window.orderBy("v", "rid")).alias("rk")
        ).collect()
    }
    assert got == want


@given(rows=st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # group
        st.one_of(
            st.none(), st.integers(min_value=-1000, max_value=1000)
        ),  # value
    ),
    min_size=1,
    max_size=40,
))
@settings(**_SETTINGS)
def test_grouped_cumsum_distributed_matches_window(spark, rows):
    """grouped_cumsum_distributed must equal SUM OVER (PARTITION BY
    group ORDER BY rid) on arbitrary (group, value) lists INCLUDING
    NULL group keys (PARTITION BY groups them together — a plain
    equi-join back would drop them) and NULL values (ANSI SUM is
    NULL iff every value in the frame is; the carried offset must
    not turn that into 0, nor may an all-NULL local prefix erase a
    prior partition's carry) — the range-partition +
    broadcast-offsets machinery generalized from the certified rank
    kernels, now with a per-group offset table."""
    from big_data_analysis_spark.operators.windows import (
        grouped_cumsum_distributed,
    )

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g int, v int, rid int"
    )
    got = {
        r.rid: r.run
        for r in grouped_cumsum_distributed(
            df, ["g"], ["rid"], "v", "run"
        ).collect()
    }
    want = {
        r.rid: r.run
        for r in df.select(
            "rid",
            F.sum("v")
            .over(Window.partitionBy("g").orderBy("rid"))
            .alias("run"),
        ).collect()
    }
    assert got == want


def test_ntile_distributed_avoids_global_sort(spark, sf_dir):
    """The at-scale ntile twin must range-partition the total order
    and run only pid-partitioned windows — a window with an empty
    partition spec over the orders table (the demo win_ntile shape)
    would funnel everything through one task."""
    plan = plan_of("win_ntile_distributed", spark, sf_dir)
    assert "rangepartitioning" in plan.lower()
    # the data-proportional window (row_number) must carry a NON-empty
    # partition spec (the materialized spark_partition_id column);
    # an empty spec ("], [], [") is the demo win_ntile single-task
    # shape. The 32-row offsets windows are exempt — they read from
    # the count rollup, never from the orders scan.
    rn_lines = [
        l for l in plan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert rn_lines, plan
    assert all("], [], [" not in l for l in rn_lines), rn_lines


def test_shard_manifest_rank_is_distributed(spark, sf_dir):
    """pipeline_shard_manifest's global token rank must come from the
    range-partitioned kernel: RangePartitioning present and every
    data-proportional row_number window carries a non-empty partition
    spec (the single-task global row_number shape is exactly what the
    kernel exists to avoid)."""
    plan = plan_of("pipeline_shard_manifest", spark, sf_dir)
    assert "rangepartitioning" in plan.lower()
    rn = [
        l for l in plan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert rn and all("], [], [" not in l for l in rn), rn


def test_rfm_segments_ntiles_are_distributed(spark, sf_dir):
    """pipeline_rfm_segments' three RFM quartile scores must run
    through the ntile_distributed kernel: RangePartitioning present
    (three range-balanced shuffles over the customer rollup), and
    every data-proportional row_number window carries a NON-empty
    partition spec — a global ntile(4) window over the per-customer
    rollup (the pre-r6 shape) funnels a customer-base-proportional
    table through one task at 100 TB."""
    plan = plan_of("pipeline_rfm_segments", spark, sf_dir)
    assert "rangepartitioning" in plan.lower()
    assert "ntile(4)" not in plan  # no demo-shape global ntile survives
    rn_lines = [
        l for l in plan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert len(rn_lines) >= 3, plan  # one per RFM score
    assert all("], [], [" not in l for l in rn_lines), rn_lines


def test_compaction_plan_avoids_per_group_global_sort(spark, sf_dir):
    """pipeline_compaction_plan's running byte total must come from
    the grouped_cumsum_distributed kernel: RangePartitioning on
    (source, doc_id) present, and every data-proportional running
    SUM window keyed on the materialized partition id (a window
    partitioned on source ALONE would serialize the dominant source
    through one task; the bounded partitions x sources offsets
    rollup is exempt)."""
    plan = plan_of("pipeline_compaction_plan", spark, sf_dir)
    assert "rangepartitioning" in plan.lower()
    sum_lines = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "__local" in l
    ]
    assert sum_lines, plan
    # Catalyst materializes spark_partition_id() as _w0; the running
    # sum's partition spec must carry it alongside the group key
    assert all("_w0" in l or "__pid" in l for l in sum_lines), sum_lines


@pytest.mark.parametrize("k", [0, -1])
def test_ntile_distributed_rejects_k_below_one(spark, k):
    """ntile(k) is undefined for k < 1: the kernel raises at call time,
    as F.ntile does, instead of bucketing every row 0 (k = -1) or
    dying inside the job on a division by zero (k = 0)."""
    df = spark.createDataFrame([(1, 1), (2, 2)], "v int, rid int")
    with pytest.raises(ValueError, match="k must be >= 1"):
        api.ntile_distributed(df, k, ["v", "rid"], "b")


@given(rows=st.lists(st.integers(min_value=-10000, max_value=10000),
                     min_size=1, max_size=60),
       k=st.integers(min_value=1, max_value=6))
@settings(**_SETTINGS)
def test_ntile_distributed_kernel_matches_window_ntile(spark, rows, k):
    """api.ntile_distributed itself (not an inline copy of its formula)
    equals F.ntile(k) over the single-task global window on arbitrary
    lists: ties, negatives, n < k, n % k != 0, several range
    partitions."""
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(rows)], "v int, rid int"
    )
    got = {
        r.rid: r.b
        for r in api.ntile_distributed(
            df, k, ["v", "rid"], "b", num_partitions=4
        ).collect()
    }
    want = {
        r.rid: r.b
        for r in df.select(
            "rid", F.ntile(k).over(Window.orderBy("v", "rid")).alias("b")
        ).collect()
    }
    assert got == want
