"""LSH family: the shared candidate kernels of api_lsh
(`lsh_cells` / `lsh_candidates` / `pair_overlap`) and the queries
built on them.  MLlib's approxSimilarityJoin stays here as the
reference implementation of api.minhash_pairs; the deterministic
md5 twins are replayed in pure Python (hashlib over DuckDB-extracted
raw tables); plan checks pin the banded equi-join and the
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
