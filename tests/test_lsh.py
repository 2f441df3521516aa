"""LSH family: the shared candidate kernels of api_lsh
(`lsh_cells` / `lsh_candidates` / `pair_overlap`, self-joined or
two-sided) and the queries built on them.  No query calls MLlib's
approxSimilarityJoin; it lives on here as the reference that the
MinHash pairs (api.minhash_pairs, the incremental batch-vs-base join)
and the BRP gates (sim_threshold_join_lsh, sim_knn_lsh) must equal
pair for pair and double for double.  The deterministic md5 twins
are replayed in pure Python (hashlib over DuckDB-extracted raw
tables); plan checks pin the banded equi-join and the
candidate-bounded verify."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_analysis_spark import api
from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def plan_of(name, spark, sf_dir) -> str:
    df = REG[name].fn(spark, sf_dir)
    jvm = spark.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE text IS NOT NULL"
    ).fetchall()
    return {int(i): t.split(" ") for i, t in rows}


def _shingles(toks):
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def _documents(spark, sf_dir, corpus):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if corpus == "widevocab":
        from big_data_analysis_spark.operators.dedup import _widevocab_tokens

        d = d.select("doc_id", F.array_join(_widevocab_tokens(), " ").alias("text"))
    return d.select("doc_id", "text")


@pytest.mark.parametrize(
    "corpus, threshold", [("documents", 0.9), ("widevocab", 0.5)]
)
def test_minhash_pairs_equals_mllib_approx_similarity_join(
    spark, sf_dir, corpus, threshold
):
    """api.minhash_pairs must return exactly what MLlib's
    approxSimilarityJoin returns on the same fitted model — the same
    pairs and bit-equal jaccard doubles — on the fixture documents
    (31-word vocabulary: nearly every pair is a candidate) and on the
    wide-vocab corpus of dedup_minhash_widevocab."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _documents(spark, sf_dir, corpus)
    got = sorted(
        tuple(r)
        for r in api.minhash_pairs(
            docs, "text", "doc_id", threshold=threshold
        ).collect()
    )
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    feats = (
        HashingTF(
            inputCol="toks", outputCol="features", numFeatures=1 << 18, binary=True
        )
        .transform(toks)
        .where(F.size("toks") > 0)
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    ref = (
        model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="dist")
        .where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id"),
            F.col("datasetB.doc_id"),
            (1 - F.col("dist")).alias("jaccard"),
        )
    )
    want = sorted(tuple(r) for r in ref.collect())
    assert len(want) > 0
    assert got == want


def test_widevocab_verify_is_bounded_by_candidates(spark, sf_dir):
    """The exact verify of dedup_minhash_widevocab must only ever
    touch candidate pairs: every join keyed on the HashingTF bucket
    also carries a doc-id key.  A join on the bucket alone pairs up
    every two docs sharing a bucket, whatever the candidate set —
    quadratic in bucket occupancy at scale."""
    plan = plan_of("dedup_minhash_widevocab", spark, sf_dir)
    bucket_joins = [
        [k.split("#")[0] for k in keys.split(", ")]
        for keys in re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
        if "bkt#" in keys
    ]
    assert bucket_joins, "no join on the bucket column in the plan"
    for names in bucket_joins:
        assert {"id_a", "id_b"} & set(names), f"bucket-only join keys {names}"


def test_minhash_exact_bands_equijoin_no_cartesian(spark, sf_dir):
    """Candidate generation must be the banded hash-partitioned
    self-equi-join on (band, key) — a CartesianProduct or
    BroadcastNestedLoopJoin here means the LSH degenerated to doc x
    doc and the 100-TB story is gone.  The candidate table is
    localCheckpoint'ed inside dedup_minhash_exact (the final plan no
    longer shows the band join), so assert on the pre-checkpoint
    candidate plan built from the same helpers the operator uses."""
    from big_data_analysis_spark.api_lsh import (
        lsh_candidates,
        lsh_cells,
        minhash_band_keys,
    )
    from big_data_analysis_spark.io import table
    from big_data_analysis_spark.operators.dedup import (
        _MHX_BANDS,
        _MHX_K,
        _mhx_signatures,
    )

    d = table(spark, sf_dir, "documents")
    bands = minhash_band_keys(_MHX_K, _MHX_K // _MHX_BANDS)
    df = lsh_candidates(lsh_cells(_mhx_signatures(d), "doc_id", bands, ["n_sh"]))
    jvm = spark.sparkContext._jvm
    plan = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoop" not in tree
    # the band key reaches the join node as its equi-join key
    assert re.search(r"Left keys \[2\]: \[band#\d+, key#\d+\]", plan)


def test_simhash_exact_bands_equijoin_no_cartesian(spark, sf_dir):
    """Same LSH guarantee for the SimHash byte-band join."""
    plan = plan_of("dedup_simhash_exact", spark, sf_dir)
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoop" not in tree


def test_minhash_exact_matches_python_lsh(spark, sf_dir):
    docs = {i: _shingles(t) for i, t in _docs(sf_dir).items()}
    sigs = {}
    for i, sh in docs.items():
        if not sh:
            continue
        sigs[i] = [
            min(
                int(
                    hashlib.md5(f"{k // 2}|{s}".encode()).hexdigest()[
                        16 * (k % 2) : 16 * (k % 2) + 15
                    ],
                    16,
                )
                for s in sh
            )
            for k in range(8)
        ]
    buckets = defaultdict(list)
    for i, m in sigs.items():
        for b in range(4):
            buckets[(b, m[2 * b], m[2 * b + 1])].append(i)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    expect = {}
    for a, b in sorted(cand):
        inter = len(docs[a] & docs[b])
        na, nb = len(docs[a]), len(docs[b])
        if 3 * inter >= na + nb:
            expect[(a, b)] = (inter, na, nb)
    got = {
        (r.doc_a, r.doc_b): (r.inter_cnt, r.n_sh_a, r.n_sh_b)
        for r in run("dedup_minhash_exact", spark, sf_dir).collect()
    }
    assert got == expect
    assert len(expect) > 0
    # banding must be genuinely sub-quadratic on this corpus
    n = len(sigs)
    assert len(cand) < n * (n - 1) // 20


def test_simhash_exact_matches_python_model(spark, sf_dir):
    docs = {i: _shingles(t) for i, t in _docs(sf_dir).items()}
    sigs = {}
    for i, sh in docs.items():
        if not sh:
            continue
        votes = [0] * 32
        for s in sh:
            h = _md5_60(f"sh|{s}")
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        sigs[i] = sum(1 << b for b in range(32) if votes[b] >= 0)
    expect = {}
    ids = sorted(sigs)
    for xi, a in enumerate(ids):
        for b in ids[xi + 1 :]:
            sa, sb = sigs[a], sigs[b]
            if not any(
                ((sa >> (8 * k)) & 255) == ((sb >> (8 * k)) & 255)
                for k in range(4)
            ):
                continue
            ham = bin(sa ^ sb).count("1")
            if ham <= 3:
                expect[(a, b)] = (sa, sb, ham)
    got = {
        (r.doc_a, r.doc_b): (r.sig_a, r.sig_b, r.hamming)
        for r in run("dedup_simhash_exact", spark, sf_dir).collect()
    }
    assert got == expect
    assert len(expect) > 0


def test_brp_gate_equals_mllib_approx_similarity_join(spark, sf_dir):
    """The candidate join and euclidean gate of sim_threshold_join_lsh
    keep exactly the pairs MLlib's approxSimilarityJoin keeps on the
    same fitted model, with bit-equal keyDistance doubles.  A gate
    folded over the float32 arrays misses the doubles in the last
    bits."""
    from pyspark.ml.functions import array_to_vector

    from big_data_analysis_spark.operators.similarity import (
        _BRP_GATE,
        _BRP_THRESHOLD,
        _brp_gated_pairs,
    )

    gated, model = _brp_gated_pairs(spark, sf_dir, **_BRP_THRESHOLD)
    got = sorted(tuple(r) for r in gated.select("vec_a", "vec_b", "dist").collect())
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    ref = (
        model.approxSimilarityJoin(e, e, _BRP_GATE, distCol="dist")
        .where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(F.col("datasetA.vec_id"), F.col("datasetB.vec_id"), "dist")
    )
    want = sorted(tuple(r) for r in ref.collect())
    assert len(want) > 0
    assert got == want


def test_knn_lsh_equals_mllib_two_sided_join(spark, sf_dir):
    """sim_knn_lsh's two-sided candidate join and gate keep exactly the
    (query, neighbor) pairs MLlib's approxSimilarityJoin(q, e, 1.2)
    keeps on the same fitted model, each query's pair with itself
    included, with bit-equal keyDistance doubles."""
    from pyspark.ml.functions import array_to_vector

    from big_data_analysis_spark.operators.similarity import (
        _BRP_KNN,
        _brp_gated_pairs,
    )

    gated, model = _brp_gated_pairs(
        spark, sf_dir, **_BRP_KNN, queries=F.col("vec_id") < 5
    )
    got = sorted(tuple(r) for r in gated.select("vec_a", "vec_b", "dist").collect())
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    q = e.where(F.col("vec_id") < 5)
    ref = model.approxSimilarityJoin(q, e, 1.2, distCol="dist").select(
        F.col("datasetA.vec_id"), F.col("datasetB.vec_id"), "dist"
    )
    want = sorted(tuple(r) for r in ref.collect())
    assert {a for a, _, _ in want} == set(range(5))
    assert got == want


def test_incremental_minhash_equals_mllib_two_sided_join(spark, sf_dir):
    """The batch-vs-base pairs of pipeline_incremental_minhash are
    exactly those of MLlib's approxSimilarityJoin(batch_f, base_f,
    0.5), jaccard doubles bit-equal.  The reference model is fitted
    on the base and the kernel's on the batch: the coefficients
    depend only on the seed and the vector size."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from big_data_analysis_spark.api_lsh import _minhash_token_pairs

    d = _documents(spark, sf_dir, "widevocab").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    base = d.where(F.col("doc_id") % 4 != 3)
    batch = d.where(F.col("doc_id") % 4 == 3)
    got = sorted(
        tuple(r)
        for r in _minhash_token_pairs(
            batch, base, threshold=0.5, num_tables=8, num_features=1 << 18, seed=42
        ).collect()
    )
    tf = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=1 << 18, binary=True
    )
    base_f, batch_f = tf.transform(base), tf.transform(batch)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(base_f)
    ref = model.approxSimilarityJoin(batch_f, base_f, 0.5, distCol="jd").select(
        F.col("datasetA.doc_id"), F.col("datasetB.doc_id"), (1 - F.col("jd"))
    )
    want = sorted(tuple(r) for r in ref.collect())
    assert len(want) > 0
    assert got == want


def _lsh_join_plans(spark, sf_dir, **conf):
    """(initial formatted plan, final adaptive plan, sorted rows) of
    sim_threshold_join_lsh with ``conf`` set while it is built,
    planned and run.  The query's table reads re-apply the engine's
    session conf, so ``conf`` is set again once the DataFrame is
    built."""
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = REG["sim_threshold_join_lsh"].fn(spark, sf_dir)
        for k, v in conf.items():
            spark.conf.set(k, v)
        jvm = spark.sparkContext._jvm
        initial = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rows = sorted(tuple(r) for r in df.collect())
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return initial, final, rows


def test_lsh_threshold_join_has_100tb_plan_shape(spark, sf_dir):
    """With broadcasts off, as for a corpus-sized embeddings table, no
    BroadcastExchange is left in sim_threshold_join_lsh: nothing
    forces the embeddings into a broadcast.  No Python runs in the
    verify, and the rows equal those of the default session."""
    _, default_final, want = _lsh_join_plans(spark, sf_dir)
    initial, final, got = _lsh_join_plans(
        spark, sf_dir, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    assert "BroadcastExchange" not in initial
    assert "BroadcastExchange" not in final
    for plan in (initial, final, default_final):
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(want) > 0
    assert got == want


def test_lsh_candidate_spread_follows_the_scan_layout(spark, sf_dir, tmp_path):
    """The candidate pairs are hash-repartitioned on (vec_a, vec_b) to
    defaultParallelism when the embeddings scan plans fewer tasks
    than that (the single-row-group fixture), so the verify runs on
    every core.  On a copy with one row group per core and
    maxPartitionBytes small enough to split it, the guard is a no-op:
    one Exchange fewer, same rows."""
    import pyarrow.parquet as pq

    n = spark.sparkContext.defaultParallelism
    initial, _, want = _lsh_join_plans(spark, sf_dir)
    [args] = [l for l in initial.splitlines() if "REPARTITION_BY_NUM" in l]
    assert re.search(rf"hashpartitioning\(vec_a#\d+L, vec_b#\d+L, {n}\)", args), args

    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    dst = tmp_path / "embeddings.parquet"
    pq.write_table(src, dst, row_group_size=-(-src.num_rows // n))
    assert pq.ParquetFile(dst).metadata.num_row_groups >= n
    split = str(max(1, dst.stat().st_size // (2 * n)))
    initial_rg, _, got = _lsh_join_plans(
        spark, str(tmp_path), **{"spark.sql.files.maxPartitionBytes": split}
    )
    assert "REPARTITION_BY_NUM" not in initial_rg
    assert initial_rg.split("\n\n")[0].count("Exchange") == (
        initial.split("\n\n")[0].count("Exchange") - 1
    )
    assert got == want
