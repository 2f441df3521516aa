"""Physical-plan quality assertions (.explain discipline): predicate
pushdown reaches the parquet scan, column pruning narrows ReadSchema,
bounded dims broadcast, rank-limit windows use WindowGroupLimit, and
scan+agg plans shuffle exactly once. These lock in the plan shapes
that make the engine scale — a regression here is a 100-TB problem
even when correctness stays green."""

from big_data_analysis_spark.registry import load_all

REG = load_all()


def plan_of(name, spark, sf_dir) -> str:
    df = REG[name].fn(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


from contextlib import contextmanager


@contextmanager
def scale_layout():
    """Force the spread_table guard into its splittable-layout no-op
    branch.  Plan-shape contracts assert the 100 TB shape; the
    fixture's degenerate single-row-group mitigation (one guarded
    repartition Exchange) must not count against them.  The guard
    itself is contract-tested in
    test_spread_table_guard_is_layout_adaptive."""
    import big_data_analysis_spark.io as io

    orig = io._planned_scan_splits
    io._planned_scan_splits = lambda *a: 1 << 30
    try:
        yield
    finally:
        io._planned_scan_splits = orig


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of("tpch_q6", spark, sf_dir)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_project_select_prunes_columns(spark, sf_dir):
    plan = plan_of("project_select", spark, sf_dir)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_custkey" in read and "c_name" in read and "c_mktsegment" in read
    assert "c_acctbal" not in read and "c_nationkey" not in read


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = plan_of("join_broadcast", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = plan_of("win_topk_per_group", spark, sf_dir)
    assert "WindowGroupLimit" in plan


def test_topk_global_avoids_full_sort(spark, sf_dir):
    plan = plan_of("topk_global", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_q1_single_shuffle(spark, sf_dir):
    plan = plan_of("tpch_q1", spark, sf_dir)
    # partial + final hash aggregate around exactly one exchange
    # (formatted output repeats each node in the detail section —
    # count the tree section only)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "HashAggregate" in tree


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: a partial-mode HashAggregate must run below
    the exchange so the shuffle carries group rows, not raw rows."""
    plan = plan_of("tpch_q1", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    df = REG["tpch_q6"].fn(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in plan


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    """join_bucketed: both sides pre-bucketed on the key -> the only
    Exchange left is the post-join aggregation shuffle. The same
    logical join unbucketed (join_inner_equi) shuffles both inputs."""
    bucketed = plan_of("join_bucketed", spark, sf_dir)
    tree = bucketed.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    assert tree.count("Exchange") == 1  # agg only, no join-side shuffles
    plain_tree = plan_of("join_inner_equi", spark, sf_dir).split("\n\n")[0]
    assert plain_tree.count("Exchange") >= 2  # shuffles at least one join input + agg


def test_threshold_pairs_fully_distributed(spark, sf_dir):
    """sim_threshold_pairs must not materialize the corpus on the
    driver: no toPandas/collect in its source, and the physical plan
    is explode -> one Exchange on pair_id -> grouped-pandas GEMM."""
    import inspect

    from big_data_analysis_spark.operators.similarity import sim_threshold_pairs

    src = inspect.getsource(sim_threshold_pairs)
    assert "toPandas" not in src and ".collect(" not in src and "broadcast" not in src
    plan = plan_of("sim_threshold_pairs", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "FlatMapGroupsInPandas" in tree
    assert tree.count("Exchange") == 1  # the pair_id shuffle only


def test_threshold_pairs_block_fanout_bounded(spark, sf_dir):
    """Each vector is replicated into exactly NB block-pairs and the
    group count is NB*(NB+1)/2 — bounded fan-out, sized tasks."""
    import pyspark.sql.functions as F

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    df = REG["sim_threshold_pairs"].fn(spark, sf_dir)
    # reconstruct the exploded stage: NB=8 in the operator
    NB = 8
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    blk = (F.col("vec_id") % NB).cast("int")
    exploded = e.withColumn("blk", blk).withColumn(
        "pair_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(NB - 1)),
                lambda o: F.least(F.col("blk"), o) * NB + F.greatest(F.col("blk"), o),
            )
        ),
    )
    assert exploded.count() == n * NB
    assert exploded.select("pair_id").distinct().count() == NB * (NB + 1) // 2
    # and the operator's own result is still produced (non-empty at any sf)
    assert df.count() >= 0


def test_index_probe_broadcasts_queries_no_corpus_shuffle(spark, sf_dir):
    """sim_index_probe: the corpus side is scanned once and never
    shuffled before the join — the bounded query set broadcasts
    (BroadcastNestedLoopJoin over the Hamming-ball condition) and the
    only shuffle Exchange is the per-query top-k window, which also
    gets a partial WindowGroupLimit below it."""
    plan = plan_of("sim_index_probe", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree
    assert "WindowGroupLimit" in tree
    assert tree.count("- Exchange") == 1  # window shuffle only


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A read over a partitionBy() output with a partition-key filter
    must show PartitionFilters at the scan (no full-directory scan)."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "pruned")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderstatus" in pf[0]


def test_text_chunk_is_pure_map(spark, sf_dir):
    """Chunking must be a shuffle-free map stage: generate + explode
    with zero Exchange — at 100 TB any shuffle here is pure waste."""
    plan = plan_of("text_chunk", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Generate" in tree  # the posexplode


def test_contamination_broadcasts_small_sides(spark, sf_dir):
    """The stop-shingle anti-join and the eval-side join must both be
    broadcasts — shuffling the full train shingle table on either
    would dominate the query at scale."""
    plan = plan_of("text_contamination", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LeftAnti" in tree
    assert "SortMergeJoin" not in tree


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing = ONE shuffle total: the window partitions on the
    (lang, source) shard key and the final groupBy's keys are a
    superset of it, so Catalyst reuses the same partitioning for the
    aggregation — chunk build and aggregation add no Exchange."""
    plan = plan_of("pipeline_pack_sequences", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Window" in tree


def test_pii_scrub_no_python_no_shuffle(spark, sf_dir):
    """Scrubbing is JVM regexp codegen: no Exchange, no Python eval
    operators in the plan."""
    plan = plan_of("text_pii_scrub", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Python" not in tree  # no BatchEvalPython / ArrowEvalPython


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    """tf-idf must tokenize the corpus exactly ONCE: df comes from a
    count window over the tf table, not a second aggregate joined
    back (Catalyst does not dedup common subtrees, so the join
    formulation would explode + aggregate the corpus twice)."""
    plan = plan_of("text_tfidf", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Generate") == 1
    assert "Window" in tree


def test_interpolate_single_shuffle_two_frames(spark, sf_dir):
    """win_interpolate reads neighbors from a preceding and a
    following frame — both must plan into ONE Window node over ONE
    Exchange (same partitioning and ordering), not two shuffles."""
    plan = plan_of("win_interpolate", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 1


def test_journey_regex_single_shuffle(spark, sf_dir):
    """The journey build is one ordered-LISTAGG aggregation: exactly
    one Exchange (on user_id) and no Python operators — the regexp
    classification stays in JVM codegen."""
    plan = plan_of("pipeline_journey_regex", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Python" not in tree


def test_wav_parse_pure_map_no_python(spark, sf_dir):
    """The wire-format parsers (WAV and BMP) synthesize AND parse
    their binaries in one codegen'd map stage: no Exchange, no
    Python operators — the decode never leaves the JVM."""
    for name in (
        "multimodal_wav_parse",
        "multimodal_bmp_parse",
        "multimodal_avi_parse",
        "multimodal_png_parse",
        "multimodal_mp4_parse",
        "multimodal_tar_index",
        "multimodal_gif_parse",
    ):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, name
        assert "Python" not in tree, name


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


def test_mixture_epochs_is_map_side(spark, sf_dir):
    """pipeline_mixture_epochs must be broadcast-join + explode only:
    no sort-merge join against the bounded epoch table, no window,
    and the replication implemented as a Generate (explode) — the
    corpus itself never shuffles."""
    plan = plan_of("pipeline_mixture_epochs", spark, sf_dir)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan
    assert "windowspecdefinition" not in plan


def test_q9_bridge_dims_broadcast(spark, sf_dir):
    """tpch_q9 (lineitem-bridge adaptation) must broadcast the
    bounded dims (part filter, supplier, nation) — a sort-merge join
    against a 2k-row part table is the classic wasted shuffle — and
    keep the 'red'-part name filter pushed into the part scan side,
    pruning the fact early."""
    plan = plan_of("tpch_q9", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan  # partial+final grouped agg


def test_keyset_pagination_pushes_cursor_to_scan(spark, sf_dir):
    """sort_paginate_keyset must (1) push the cursor's single-column
    range conjunct into the parquet scan — that's the whole point of
    keyset over OFFSET: deep pages skip row groups instead of
    heap-scanning offset+limit rows — and (2) take the page with a
    TakeOrderedAndProject bounded heap, never a global sort."""
    plan = plan_of("sort_paginate_keyset", spark, sf_dir)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "LessThanOrEqual(o_totalprice" in pushed, pushed
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_skyline_avoids_global_sort(spark, sf_dir):
    """win_skyline's distributed refinement: the strict-above prefix
    max must run range-partitioned at the distinct-price level — no
    data-proportional window with an empty partition spec (the old
    global RANGE-frame sort-scan shape). The <=32-row pid-carry
    window is exempt (reads the per-partition rollup, not data)."""
    plan = plan_of("win_skyline", spark, sf_dir)
    assert "rangepartitioning" in plan.lower()
    data_win = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "pmax_d" in l and "pid_max" not in l
    ]
    assert data_win, plan
    assert all("], [], [" not in l for l in data_win), data_win


def test_q15_global_max_is_agg_broadcast(spark, sf_dir):
    """tpch_q15's scalar MAX over the per-supplier revenue rollup must
    be an agg(max) broadcast-cross-joined back — the rollup is
    supplier-proportional (10k/sf), so an empty-partition Window over
    it is a single-task funnel at 100 TB. Guard: no window node at
    all, and the one-row max arrives via a broadcast join."""
    plan = plan_of("tpch_q15", spark, sf_dir)
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan  # partial+final max, map-side combine


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


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    """The event_type IN filter must resolve against hive partition
    directories at planning time (PartitionFilters), reading 2 of 5
    partitions — not as a post-scan row filter."""
    plan = plan_of("scan_parquet_partitioned", spark, sf_dir)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_type" in pf[0], plan


def test_dynamic_partition_pruning_on_fact_scan(spark, sf_dir):
    """The hive-partitioned fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the runtime
    dim-driven pruning that keeps a star join over a partitioned
    100 TB fact from reading every partition."""
    plan = plan_of("join_dynamic_partition_pruning", spark, sf_dir)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruningexpression" in pf[0], plan


def test_dq_checks_orphan_join_broadcasts(spark, sf_dir):
    """The referential-integrity check must be a broadcast left-anti
    against the customer key dim — shuffling orders for a DQ gate
    would double the ingest cost at scale."""
    plan = plan_of("pipeline_dq_checks", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LeftAnti" in tree
    assert "SortMergeJoin" not in tree


def test_incremental_dedup_joins_keys_not_text(spark, sf_dir):
    """The membership joins must run on the md5/token-set key tables;
    the document text only feeds the key derivation (scan), never a
    join side."""
    plan = plan_of("pipeline_incremental_dedup", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    # both membership joins present, planned as hash joins
    assert tree.count("Join") >= 2
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """join_runtime_bloom's scoped confs must make Catalyst inject a
    Bloom filter on the lineitem (application) side — bloom_filter_agg
    built from the filtered orders, might_contain pre-filtering the
    fact scan before the join shuffle. Confs restore afterwards, so
    the rest of the suite's pinned plans can't drift."""
    from pyspark.sql import functions as F

    from big_data_analysis_spark.io import table
    from big_data_analysis_spark.operators.joins import _BLOOM_CONFS
    from big_data_analysis_spark.session import harden_session

    harden_session(spark)
    # inputs first — table() re-hardens, which would overwrite the
    # scoped broadcast-threshold override (the exact bug this test
    # would have caught)
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    old = {k: None for k in _BLOOM_CONFS}
    for k in _BLOOM_CONFS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            pass
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        j = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey).groupBy(
            "l_orderkey"
        ).count()
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in optimized
    assert "might_contain" in optimized


def test_r5_map_stage_ops_have_no_exchange(spark, sf_dir):
    """The r5 map-stage operators — BPE tokenizer apply, image
    nearest-neighbor resize, audio decimation, int8 quantization —
    must plan as pure scans + projections: zero Exchange, zero
    Python (Arrow/BatchEval) nodes. These are the scan-speed
    contracts that make them linear at 100 TB."""
    with scale_layout():
        for name in (
            "pipeline_bpe_apply",
            "multimodal_image_resize",
            "multimodal_audio_downsample",
            "vec_quantize_int8",
            "pipeline_eval_em_f1",
            "fn_zorder_key",
        ):
            tree = plan_of(name, spark, sf_dir).split("\n\n")[0]
            assert "Exchange" not in tree, name
            assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree, name


def test_r5_single_shuffle_aggs(spark, sf_dir):
    """The r5 single-pass aggregation ops must shuffle exactly once
    (map-side partial aggregation / one window partitioning), with
    zero Python nodes: confusion matrix and decayed value are global/
    keyed aggs, dynamic session windows merge in one (user, session)
    aggregation, rolling slope shares one partition-key shuffle across
    both its windows."""
    with scale_layout():
        for name in (
            "pipeline_confusion_matrix",
            "agg_decayed_value",
            "agg_session_window_dynamic",
            "win_rolling_slope",
            "pipeline_pack_bpe_batches",
            "win_cusum_changepoint",
            "fn_surrogate_key",
        ):
            tree = plan_of(name, spark, sf_dir).split("\n\n")[0]
            assert tree.count("Exchange") == 1, name
            assert "EvalPython" not in tree, name


def test_maxsim_broadcast_and_takeordered(spark, sf_dir):
    """sim_maxsim must broadcast the bounded query bag (never
    shuffle the corpus for the join), reduce through partial-agg
    exchanges, and cut the global top-10 with TakeOrdered — a
    single-task global Sort would be the scale bug."""
    plan = plan_of("sim_maxsim", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in tree
    assert "TakeOrderedAndProject" in tree
    assert "Python" not in tree


def test_dedup_paragraph_two_shuffles_partitioned_window(spark, sf_dir):
    """dedup_paragraph is exactly two shuffles (chunk-keyed
    first-occurrence window, then the per-doc rollup); the window
    must carry the chunk partition key — an empty partition spec
    would funnel the corpus through one task."""
    plan = plan_of("dedup_paragraph", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert "Python" not in tree
    rn_lines = [
        l for l in plan.splitlines() if "row_number() windowspecdefinition" in l
    ]
    assert rn_lines and all("], [], [" not in l for l in rn_lines), rn_lines


def test_eval_retrieval_no_corpus_window(spark, sf_dir):
    """pipeline_eval_retrieval's top-10 must run as WindowGroupLimit
    (rank pushed into the shuffle) over (query, partition)-keyed
    windows — never a per-query corpus-sized sort without the
    group-limit cut — and the query bag rides a broadcast."""
    plan = plan_of("pipeline_eval_retrieval", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "WindowGroupLimit" in tree
    assert "BroadcastExchange" in tree
    assert "Python" not in tree


def test_caption_align_single_join_no_python(spark, sf_dir):
    """multimodal_caption_align: both parsers run in the scan's map
    stage; the only data movement is the doc_id join (broadcast at
    this scale), with zero Python operators."""
    plan = plan_of("multimodal_caption_align", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in tree
    assert "Python" not in tree


def test_span_and_fim_are_pure_maps(spark, sf_dir):
    """The pretraining-objective preps (span corruption, FIM split)
    must be shuffle-free single map stages — array algebra over the
    token array, no explode-shuffle, no Python."""
    for name in ("pipeline_span_corruption", "pipeline_fim_split"):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, name
        assert "Python" not in tree, name


def test_pmi_broadcasts_unigram_counts(spark, sf_dir):
    """text_pmi_collocations: the unigram-count joins ride broadcasts
    (vocab << corpus) — a SortMergeJoin on the bigram table against
    the vocab would shuffle the corpus-sized side twice more."""
    plan = plan_of("text_pmi_collocations", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_dedup_url_map_plus_distinct_expansion(spark, sf_dir):
    """URL canonicalization is a pure map (no join, no Python); the
    collapse is the standard COUNT(DISTINCT) two-phase expansion —
    exactly two Exchanges, both keyed on the canonical URL (the
    first also carries the raw url for the distinct), never more."""
    plan = plan_of("pipeline_dedup_url", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("- Exchange") == 2
    assert "Join" not in tree
    assert "Python" not in tree


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
        if "windowspecdefinition" in l and "__cs_local" in l
    ]
    assert sum_lines, plan
    # Catalyst materializes spark_partition_id() as _w0; the running
    # sum's partition spec must carry it alongside the group key
    assert all("_w0" in l or "__cs_pid" in l for l in sum_lines), sum_lines


def test_tombstone_delete_broadcasts_tombstones_and_scans_lineitem_once(
    spark, sf_dir
):
    """pipeline_tombstone_delete: the tombstone set joins the fact
    tables via BroadcastHashJoin (zero shuffle on the orders side),
    and lineitem — the dominant table — is scanned exactly once; the
    ledger aggregates ride the same pass that marks the rows."""
    plan = plan_of("pipeline_tombstone_delete", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    # orders: its own ledger pass + the purged-key extraction the
    # lineitem pass joins against (documented two-scan shape)
    assert plan.count("orders.parquet") == 2


def test_pq_encode_zero_exchange_pure_codegen(spark, sf_dir):
    """vec_pq_encode must be a pure map stage: codebook literals +
    array_min argmin mean ZERO Exchange and zero Python in the plan
    — PQ compression at scan speed."""
    plan = plan_of("vec_pq_encode", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Python" not in tree


def test_pq_adc_single_exchange_with_group_limit(spark, sf_dir):
    """sim_pq_adc's only exchange is the per-query top-k tail, and
    the rank limit must push below it as a partial WindowGroupLimit
    (each map task pre-prunes to k before anything shuffles)."""
    plan = plan_of("sim_pq_adc", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("WindowGroupLimit") == 2  # partial below + final above
    assert "Python" not in tree


def test_random_walk_step_join_never_shuffles_adjacency(spark, sf_dir):
    """The walk's per-step join must reuse the persisted adjacency's
    hashpartitioning(node): exactly ONE Exchange (the walker
    frontier) and an InMemoryTableScan for the adjacency — the
    property localCheckpoint could not give (it forgets
    outputPartitioning; the r8-r12 implementation paid a bucketed
    table WRITE per run for the same guarantee)."""
    from pyspark.sql import functions as F

    from big_data_analysis_spark import api
    from big_data_analysis_spark.io import table

    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
    )
    adj = api.walk_adjacency(edges, "a", "b")
    try:
        frontier = adj.select(
            F.col("node").alias("walker_id"), F.col("node")
        ).localCheckpoint(eager=True)
        # hint("merge"): at fixture scale AQE would broadcast the
        # adjacency, hiding the partitioning reuse (same trick as
        # join_bucketed) — at 100 TB the sort-merge path is the plan.
        j = frontier.hint("merge").join(adj, "node").select(
            "walker_id", F.element_at("nbrs", 1).alias("node")
        )
        j.write.format("noop").mode("overwrite").save()
        p = j._jdf.queryExecution().executedPlan().toString()
        # the InMemoryRelation's stored BUILD plan (printed inline)
        # contains the adjacency fold's own Exchange — count only the
        # join's plan above it: one Exchange = the frontier side,
        # adjacency side reads the cache with no re-shuffle.
        join_part = p.split("InMemoryRelation")[0]
        assert join_part.count("Exchange") == 1, p
        assert "InMemoryTableScan" in p, p
    finally:
        adj.unpersist()


def test_aqe_splits_skewed_join_partitions(spark):
    """session.py turns on spark.sql.adaptive.skewJoin — prove it
    actually fires: a sort-merge join with one hot key (~97% of the
    left side) must show skew-split shuffle reads in the final
    adaptive plan (AQEShuffleRead marked 'skewed'), i.e. the hot
    partition is subdivided instead of serializing one task — the
    automatic complement to join_salted_skew's manual salting.
    Thresholds are lowered test-locally (defaults need a 256 MB
    partition) and restored."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 30 == 0, F.col("id") % 7 + 1)
            .otherwise(F.lit(0))
            .alias("k"),
            (F.col("id") * 17 % 1000).alias("payload"),
        )
        right = spark.range(8).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("dim")
        )
        # Downstream must NOT require hash distribution on k: a
        # groupBy("k") above this join makes AQE DECLINE the split
        # (it would break the partitioning an exchange above needs —
        # verified while writing this test). That declined case is
        # exactly where join_salted_skew's manual salting remains the
        # tool; here a global aggregate keeps the split legal.
        j = left.join(right, "k").agg(
            F.sum("payload").alias("s"), F.count(F.lit(1)).alias("n")
        )
        row = j.collect()[0]
        assert (row.s, row.n) == (99_900_000, 200_000)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:4000]
        assert "coalesced and skewed" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_r7_day_grid_stats_single_scan(spark, sf_dir):
    """The day-grid statistics must touch the raw events table ONCE
    (the checkpointed grid feeds every plan branch): exactly one
    Scan over events.parquet in the executed plan."""
    for name in ("agg_kendall_tau", "agg_mann_kendall", "agg_runs_test"):
        plan = plan_of(name, spark, sf_dir)
        assert plan.count("events.parquet") <= 1, name


def test_r7_zscore_and_seasonal_single_shuffle(spark, sf_dir):
    """Anomaly flags and the seasonal backtest are one grid shuffle
    plus windows on the same partitioning — no second Exchange
    beyond the grid aggregate and final rollup."""
    for name, cap in (("win_zscore_anomaly", 1), ("win_seasonal_error", 2)):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") <= cap, (name, tree.count("Exchange"))


def test_rejection_sample_no_global_sort(spark, sf_dir):
    """Best-of-n must window on the pool key, never globally — and
    the rank()=1 filter must push a WindowGroupLimit below the
    shuffle (per-pool partial top-1, the WindowExec never sees more
    than the group winners per task)."""
    plan = plan_of("pipeline_rejection_sample", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Window" in tree and "WindowGroupLimit" in tree
    # the window's partition spec (details section) must be the pool
    # key — an empty spec would be the single-task global sort
    assert "prompt_id" in plan


def test_matryoshka_broadcasts_queries(spark, sf_dir):
    """The corpus must never shuffle: the bounded query set is the
    broadcast side of the score join."""
    plan = plan_of("vec_matryoshka_probe", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree


def test_dsar_broadcasts_subjects(spark, sf_dir):
    """DSAR must broadcast the tiny subject set against both fact
    tables — a SortMergeJoin of lineitem against the subjects would
    shuffle the lake for a handful of requests.  Pinned hard (r8,
    ADVICE): every join is a BroadcastHashJoin AND every build side
    is the subject/aggregate side (BuildRight with the fact table
    streamed) — a bare 'BroadcastHashJoin somewhere' assertion let
    r7's ignored outer-join hints pass on size-based fact broadcasts
    at sf0.001."""
    plan = plan_of("pipeline_dsar_report", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    assert tree.count("BroadcastHashJoin") == 5
    # all five builds on the right (2× subject keys, subj_orders, the
    # two aggregated report sides) — the fact scans are never exchanged
    assert "BuildLeft" not in tree
    assert tree.count("BuildRight") == 5


def test_html_extract_and_encoding_guard_pure_map(spark, sf_dir):
    """The two ingest guards are regexp codegen: no Python, and no
    Exchange before the (optional) final rollup."""
    for name, max_ex in (("text_html_extract", 0), ("text_encoding_guard", 1)):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert "Python" not in tree, name
        assert tree.count("Exchange") <= max_ex, name


def test_recursive_cte_indicators_plan_shape(spark, sf_dir):
    """The r9 recursive-CTE indicators must plan as a UnionLoop over
    the checkpointed bounded grid: no parquet re-scan inside the
    recursion, no SortMergeJoin (the per-level frontier joins
    broadcast), and at most the two label exchanges the loop itself
    introduces (win_trix adds one more for its post-recursion lag
    window)."""
    from big_data_analysis_spark.registry import load_all

    reg = load_all()
    for name in ("win_macd", "win_supertrend", "win_trix", "win_heikin_ashi"):
        df = reg[name].fn(spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "UnionLoop" in p, name
        assert "Scan parquet" not in p, name  # grid is localCheckpointed
        assert "SortMergeJoin" not in p, name
        cap = 3 if name == "win_trix" else 2
        assert p.count("Exchange") <= cap, (name, p.count("Exchange"))


# ---------------------------------------------------------------- #
# r10 wave plan locks
# ---------------------------------------------------------------- #


def test_eval_gen_rowmetrics_are_pure_maps(spark, sf_dir):
    """ROUGE/BLEU/WER/chrF are per-row maps: zero Exchange, zero
    Python — eval scoring must stay scan-speed at 100 TB."""
    for name in (
        "pipeline_eval_rouge_n",
        "pipeline_eval_bleu",
        "pipeline_eval_wer",
        "pipeline_eval_chrf",
    ):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_bq_hamming_broadcasts_probes_no_corpus_shuffle(spark, sf_dir):
    """The packed corpus is joined via a broadcast of the 8-row probe
    set — the only Exchanges allowed are the probe broadcast and the
    bounded per-query rank window."""
    plan = plan_of("vec_bq_hamming", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    # corpus-side shuffle would add a hashpartitioning Exchange on
    # the packed table BEFORE the join; only the post-join window
    # repartition is allowed
    pre_join = tree.split("Join")[0]
    assert "Exchange hashpartitioning" not in pre_join


def test_bloom_prefilter_broadcasts_bits_and_truth(spark, sf_dir):
    """Both the bit set and the build-side text set ride as
    broadcasts — the probe corpus is never reshuffled for the
    membership checks."""
    plan = plan_of("dedup_bloom_prefilter", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in tree


def test_resource_allocation_broadcasts_degrees(spark, sf_dir):
    plan = plan_of("graph_resource_allocation", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    # post-fix shape: checkpointed neighbor list, no re-derivation
    assert tree.count("Exchange") <= 6


def test_bipartite_projection_single_selfjoin_shuffle(spark, sf_dir):
    plan = plan_of("graph_bipartite_projection", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    # the cust-keyed self-join is the one data-proportional shuffle
    # pair; degree lookups broadcast
    assert tree.count("BroadcastHashJoin") >= 2
    assert tree.count("Exchange") <= 8


def test_kwic_filters_before_context_assembly(spark, sf_dir):
    """The keyword predicate must sit under the context-window
    projection — scan-bound at scale."""
    plan = plan_of("text_kwic", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree  # pure explode+filter+project map
    assert "Filter" in tree


def test_heaps_law_explodes_corpus_once(spark, sf_dir):
    """Both curves must read the one exploded corpus: the plan may
    aggregate twice (first-occurrence + per-doc counts) but a decile
    fanout re-exploding text would show >2 Generate nodes."""
    plan = plan_of("text_heaps_law", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Generate") <= 2


def test_spc_rules_single_partition_pass(spark, sf_dir):
    """Center/sigma stats and all rule windows share the per-type
    partitioning: exactly one hashpartitioning Exchange on
    event_type above the grid aggregation."""
    plan = plan_of("win_spc_rules", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange hashpartitioning(event_type") <= 2


def test_dp_histogram_single_bounded_aggregate(spark, sf_dir):
    """The mechanism is post-processing on the bounded (type, dow)
    grid: exactly one data-proportional aggregate, no join."""
    plan = plan_of("pipeline_dp_histogram", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2  # partial->final agg + order
    assert "Join" not in tree


def test_cuped_two_stage_moment_plan(spark, sf_dir):
    """One user-keyed shuffle then a single global 6-column reduce —
    the canonical two-stage moment plan; a second data-proportional
    Exchange would mean the cohort recrossed the wire."""
    plan = plan_of("agg_cuped", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange hashpartitioning") <= 1


def test_pmi_collocations_scans_corpus_twice_total(spark, sf_dir):
    """The count tables are checkpointed: the final plan must read
    only materialized vocabulary-bounded rows (zero parquet scans in
    the result tree — the two corpus scans happened once, eagerly,
    when uc/bc were built)."""
    plan = plan_of("pipeline_pmi_collocations", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree


def test_spread_table_guard_is_layout_adaptive(spark, sf_dir):
    """spread_table (guide §2.5 unsplittable-input mitigation) must
    (a) repartition to defaultParallelism on the fixture layout —
    single-row-group files plan ONE scan task, so the pre-Exchange
    map work would otherwise run sequentially — and (b) be a provable
    NO-OP whenever the planned scan splits already reach the core
    count (the 100 TB layout), so no extra Exchange exists at scale."""
    import big_data_analysis_spark.io as io

    fired = io.spread_table(spark, sf_dir, "documents", "doc_id")
    assert (
        fired.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    orig = io._planned_scan_splits
    io._planned_scan_splits = lambda *a: 1 << 30  # splittable layout
    try:
        noop = io.spread_table(spark, sf_dir, "documents", "doc_id")
    finally:
        io._planned_scan_splits = orig
    assert "Repartition" not in noop._jdf.queryExecution().logical().toString()
    # the pushed filter must survive the guarded repartition (Catalyst
    # pushes predicates through RepartitionByExpression to the scan)
    jvm = spark.sparkContext._jvm
    filtered = fired.where("doc_id = 3")
    plan = jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "doc_id" in plan


def test_spread_guard_hardened_conf_and_row_groups(spark, sf_dir):
    """r14 (ADVICE r13): the spread guard must (a) accept Spark's
    byte-suffixed maxPartitionBytes strings, (b) degrade to the
    no-op sentinel on an unparsable conf instead of raising, and
    (c) cap byte-range splits at the parquet row-group count —
    parquet is only splittable at row-group boundaries, so a huge
    single-row-group file still plans ONE row-bearing task."""
    import big_data_analysis_spark.io as io

    assert io._parse_size_bytes("128m") == 128 << 20
    assert io._parse_size_bytes("128MB") == 128 << 20
    assert io._parse_size_bytes(" 1g ") == 1 << 30
    assert io._parse_size_bytes(str(128 << 20)) == 128 << 20

    # an unparsable conf value (conf.set itself validates, so fake the
    # session) must degrade to the no-op sentinel, never raise
    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, *_a):
            return self._v

    class _FakeSpark:
        def __init__(self, v):
            self.conf = _Conf(v)

    assert (
        io._planned_scan_splits(_FakeSpark("not-a-size"), sf_dir, "documents")
        == io._PLENTY
    )

    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        assert io._planned_scan_splits(spark, sf_dir, "documents") >= 1
        # row-group cap: even a 1 KB split size cannot report more
        # row-bearing tasks than the footer has row groups
        import pyarrow.parquet as pq

        rgs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_row_groups
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert io._planned_scan_splits(spark, sf_dir, "documents") <= max(1, rgs)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)


def test_fact_first_shj_never_broadcasts_lineitem(spark, sf_dir):
    """r14 (VERDICT r13 item 10): the fact-first TPC-H rewrites must
    keep the LINEITEM fact table on the streamed side of a
    ShuffledHashJoin.  Catalyst drift that re-broadcasts the
    (filtered) fact table — the r12 plan shape, impossible at 100 TB
    — would show up as a BroadcastExchange whose input carries l_*
    columns."""
    import re

    for name in ("tpch_q3", "tpch_q5", "tpch_q10", "join_multiway"):
        plan = plan_of(name, spark, sf_dir)
        tree = plan.split("\n\n")[0]
        assert "ShuffledHashJoin" in tree, name
        # detail blocks: any BroadcastExchange whose Input list holds
        # lineitem columns means the fact table is being broadcast
        for block in re.split(r"\n\(\d+\) ", plan):
            if block.startswith("BroadcastExchange"):
                inp = [l for l in block.splitlines() if l.startswith("Input")]
                assert not any(
                    re.search(r"\bl_\w+#", l) for l in inp
                ), f"{name}: lineitem broadcast: {inp}"


def test_power_iteration_single_gram_pass(spark, sf_dir):
    """r14 (VERDICT r13 item 10): vec_power_iteration_exact must stay
    the one-Gram-pass shape — the executed plan reads ONLY the
    checkpointed 8x8 Gram table (Scan ExistingRDD), never re-scans
    the embeddings parquet (the r12 plan unrolled 11 scans)."""
    plan = plan_of("vec_power_iteration_exact", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree
    assert tree.count("Scan ExistingRDD") <= 2
