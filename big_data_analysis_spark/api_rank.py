"""Distributed prefix kernels on caller DataFrames (split module — the
api facade re-imports by name): exact global rank, ntile and grouped
running sum over a total order WITHOUT sorting on one task.

All three run through ``_range_prefix``: range-repartition on
(group, order), so partition p holds a contiguous key range and a big
group spans partitions; a window per (partition, group); a
(partitions x groups) rollup whose exclusive prefix over earlier
partitions broadcasts back as each row's offset.  Every shuffle is
range-balanced over the data or over the bounded rollup; at 100 TB
the same plan holds with more range partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _range_prefix(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    local: Column,
    total: Column,
    num_partitions: int,
) -> DataFrame:
    """``df``'s columns plus ``__local`` (the window function ``local``
    over one range partition of one group), ``__off`` (the exclusive
    prefix of the per-(partition, group) aggregate ``total`` over the
    group's earlier partitions, NULL for its first) and ``__n`` (the
    group's ``total``).  ``group_cols + order_cols`` must be a total
    order; a NULL group key is a group of its own, as in PARTITION BY."""
    from .operators.windows import _register_persist

    keep = df.columns
    pid = F.spark_partition_id()
    part = df.repartitionByRange(num_partitions, *group_cols, *order_cols).select(
        *keep,
        pid.alias("__pid"),
        local.over(Window.partitionBy(pid, *group_cols).orderBy(*order_cols)).alias(
            "__local"
        ),
    )
    # The offsets rollup forks the DAG: without the persist everything
    # upstream evaluates once per branch (quadratic when kernels chain,
    # as rfm's three scores do).  Registered so release_kernel_persists()
    # frees it between queries; correctness never depends on the cache.
    part = _register_persist(part.persist())
    # the rollup's keys are renamed so the join below needs no aliases
    gkeys = [f"__g{i}" for i in range(len(group_cols))]
    groups = Window.partitionBy(*gkeys)
    earlier = groups.orderBy("__opid").rowsBetween(Window.unboundedPreceding, -1)
    whole = groups.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = (
        part.groupBy(
            F.col("__pid").alias("__opid"),
            *[F.col(g).alias(k) for g, k in zip(group_cols, gkeys)],
        )
        .agg(total.alias("__tot"))
        .select(
            "__opid",
            *gkeys,
            F.sum("__tot").over(earlier).alias("__off"),
            F.sum("__tot").over(whole).alias("__n"),
        )
    )
    # null-safe on the group keys: a plain equi-join drops NULL groups
    cond = F.col("__pid") == F.col("__opid")
    for g, k in zip(group_cols, gkeys):
        cond = cond & F.col(g).eqNullSafe(F.col(k))
    return part.join(F.broadcast(offsets), cond).select(
        *keep, "__local", "__off", "__n"
    )


def _global_rank(
    df: DataFrame, order_cols: list, num_partitions: int
) -> tuple[DataFrame, Column]:
    """The ``_range_prefix`` frame of a row count with no groups, and
    its global row_number: rows in earlier partitions plus the local
    one."""
    p = _range_prefix(
        df, [], order_cols, F.row_number(), F.count(F.lit(1)), num_partitions
    )
    return p, F.coalesce("__off", F.lit(0)) + F.col("__local")


def global_rank_distributed(
    df: DataFrame, order_cols: list, alias: str, num_partitions: int = 32
) -> DataFrame:
    """Appends ``row_number() OVER (ORDER BY order_cols)`` as ``alias``
    without a single-task sort.  ``order_cols`` must be a total order."""
    p, rank = _global_rank(df, order_cols, num_partitions)
    return p.select(*df.columns, rank.alias(alias))


def ntile_distributed(
    df: DataFrame, k: int, order_cols: list, alias: str, num_partitions: int = 32
) -> DataFrame:
    """Appends ``ntile(k) OVER (ORDER BY order_cols)`` as ``alias``
    without a single-task sort: the global rank, then ANSI ntile's
    closed form from (rank, n) — the first n % k buckets take
    ceil(n / k) rows.  ``order_cols`` must be a total order (include a
    unique tie-break) or buckets are nondeterministic."""
    if k < 1:
        raise ValueError(f"ntile_distributed: k must be >= 1, got {k}")
    p, r = _global_rank(df, order_cols, num_partitions)
    q, rem = (F.col("__n") / k).cast("long"), F.col("__n") % k
    big = rem * (q + 1)  # rows covered by the ceil-sized buckets
    bucket = F.when(r <= big, F.ceil(r / (q + 1))).otherwise(
        rem + F.ceil((r - big) / q)
    )
    return p.select(*df.columns, bucket.cast("int").alias(alias))


def grouped_cumsum_distributed(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    value_col: str,
    alias: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Appends ``SUM(value_col) OVER (PARTITION BY group_cols ORDER BY
    order_cols)`` as ``alias`` without shuffling a group onto one task:
    a dominant group spans range partitions.  ``group_cols +
    order_cols`` must be a total order.  The offsets table is
    O(num_partitions x distinct groups), so this is for modest group
    cardinality; for many small groups the plain window is already
    parallel."""
    p = _range_prefix(
        df, group_cols, order_cols, F.sum(value_col), F.sum(value_col), num_partitions
    )
    # ANSI SUM is NULL iff every value in the frame is: a partition's
    # total is NULL iff all its values are, so __off is NULL exactly
    # when no earlier partition of the group holds a value.
    run = F.when(
        F.col("__local").isNull() & F.col("__off").isNull(), F.lit(None)
    ).otherwise(F.coalesce("__off", F.lit(0)) + F.coalesce("__local", F.lit(0)))
    return p.select(*df.columns, run.alias(alias))
