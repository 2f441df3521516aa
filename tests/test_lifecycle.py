"""Lifecycle of persisted and checkpointed intermediates: everything a
kernel persists or checkpoints is owned by ``lifecycle`` and freed by
``release_kernel_persists``; what the caller persisted or checkpointed
itself is left alone."""

import pytest

from big_data_analysis_spark import lifecycle
from big_data_analysis_spark.registry import load_all


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_release_kernel_persists_frees_checkpoint_blocks(spark):
    """A checkpoint's blocks are freed by release_kernel_persists too,
    not only persisted frames: unreleased checkpoint blocks once
    squeezed execution memory across a long bench suite (positions
    17-25 collapsed 3-25x at 32 cores)."""
    lifecycle.release_kernel_persists(blocking=True)  # clean slate
    baseline = _persistent_ids(spark)
    df = lifecycle.checkpoint(spark.range(10_000))
    assert df.count() == 10_000
    assert _persistent_ids(spark) - baseline
    assert lifecycle.release_kernel_persists(blocking=True) >= 1
    assert _persistent_ids(spark) - baseline == set()


def test_caller_cache_and_checkpoint_survive_release(spark, sf_dir):
    """Releasing a query's intermediates frees only what the package
    registered: the caller's cache() keeps its blocks and the caller's
    own localCheckpoint stays readable."""
    cached = spark.range(1000).selectExpr("id * 2 AS x").cache()
    assert cached.count() == 1000
    own = spark.range(1000).localCheckpoint(eager=True)
    callers = _persistent_ids(spark)
    _execute(load_all()["cache_reuse"].fn(spark, sf_dir))
    lifecycle.release_kernel_persists(blocking=True)
    try:
        assert callers <= _persistent_ids(spark)
        assert cached.is_cached
        assert cached.agg({"x": "sum"}).collect()[0][0] == 999_000
        assert own.count() == 1000  # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if freed
    finally:
        cached.unpersist(blocking=True)


@pytest.mark.parametrize(
    "name",
    ["graph_hits", "win_ntile_distributed", "dedup_ngram_jaccard", "graph_random_walk"],
)
def test_release_returns_persistent_rdds_to_baseline(spark, sf_dir, name):
    """graph_hits checkpoints its rounds, win_ntile_distributed persists
    the api_rank prefix, dedup_ngram_jaccard persists its gram table
    and graph_random_walk its adjacency and frontiers: after release
    none of their blocks is left."""
    lifecycle.release_kernel_persists(blocking=True)
    baseline = _persistent_ids(spark)
    _execute(load_all()[name].fn(spark, sf_dir))
    assert _persistent_ids(spark) - baseline, "the query persisted nothing"
    lifecycle.release_kernel_persists(blocking=True)
    assert _persistent_ids(spark) - baseline == set()


def test_graph_hits_keeps_at_most_two_rounds(spark, sf_dir):
    """fixpoint frees each round once two newer rounds exist, so HITS
    leaves its seed plus the last two rounds, whatever the JVM garbage
    collector has done."""
    lifecycle.release_kernel_persists(blocking=True)
    baseline = _persistent_ids(spark)
    _execute(load_all()["graph_hits"].fn(spark, sf_dir))
    left = _persistent_ids(spark) - baseline
    lifecycle.release_kernel_persists(blocking=True)
    assert len(left) <= 3, sorted(left)
