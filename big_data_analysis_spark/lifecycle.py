"""The one owner of every intermediate the package caches or
checkpoints.

A kernel cannot free what it caches before it returns: the DataFrame
it returns is lazy, and the caller's action reads the cached blocks
later.  So each kernel hands its intermediates to this module, and a
harness that runs many queries in one session (``bench.py``, long
test sessions) calls ``release_kernel_persists()`` BETWEEN queries.
A kernel that knows an intermediate is dead may ``free`` it sooner.

Nothing else is touched: a frame the caller cached or checkpointed
itself keeps its blocks.  Correctness never depends on a persisted
frame (Spark recomputes it from lineage), but a checkpoint truncates
lineage, so a released checkpoint handle must not be executed again.

A checkpoint is recorded by its RDD id only, so Spark's ContextCleaner
can still drop the blocks of a handle the kernel itself dropped.  A
persisted frame is recorded as the frame, so that releasing it also
clears its CacheManager entry.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_CHECKPOINTED: list[tuple[SparkContext, int]] = []


def _rdd_id(cp: DataFrame) -> int:
    # A checkpoint's analyzed plan is the LogicalRDD over the RDD that
    # the block manager lists.
    return cp._jdf.queryExecution().analyzed().rdd().id()


def _unpersist_rdd(sc: SparkContext, rdd_id: int, blocking: bool) -> None:
    if sc._jsc is not None:  # a stopped context has freed everything
        sc._jsc.sc().unpersistRDD(rdd_id, blocking)


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` eagerly ``localCheckpoint``'ed: its jobs run now and the
    result's lineage starts at the checkpoint.  Use it for a frame
    read more than once, or to cut an iteration's lineage."""
    cp = df.localCheckpoint(eager=True)
    _CHECKPOINTED.append((cp.sparkSession.sparkContext, _rdd_id(cp)))
    return cp


def persist(df: DataFrame) -> DataFrame:
    """``df`` persisted (lazily, at the default storage level).  Unlike
    a checkpoint, a persisted frame keeps its ``outputPartitioning``,
    so a join on the partitioning key reads it without a shuffle.  It
    also keeps its partition count: AQE does not coalesce a cached
    plan, so a frame persisted after a shuffle has all
    ``spark.sql.shuffle.partitions`` partitions and every scan of it
    runs that many tasks, however small it is.  Persist only where a
    later join reuses the hash partitioning, as ``api.walk_adjacency``
    does; a frame that is merely read many times (a fixpoint's edge
    table) is a ``checkpoint``, whose width AQE sizes."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def free(df: DataFrame) -> None:
    """Release one frame returned by ``checkpoint`` or ``persist``
    before the next ``release_kernel_persists``."""
    if any(d is df for d in _PERSISTED):
        _PERSISTED[:] = [d for d in _PERSISTED if d is not df]
        df.unpersist()
        return
    key = (df.sparkSession.sparkContext, _rdd_id(df))
    if key in _CHECKPOINTED:
        _CHECKPOINTED.remove(key)
    _unpersist_rdd(*key, False)


def release_kernel_persists(blocking: bool = False) -> int:
    """Release every frame registered since the last call and return
    how many there were.  Call it only BETWEEN queries: a released
    checkpoint cannot be recomputed."""
    n = len(_PERSISTED) + len(_CHECKPOINTED)
    while _PERSISTED:
        _PERSISTED.pop().unpersist(blocking)
    while _CHECKPOINTED:
        _unpersist_rdd(*_CHECKPOINTED.pop(), blocking)
    return n
