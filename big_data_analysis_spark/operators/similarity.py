"""Vector similarity operators (SURVEY.md §2.10): exact cosine,
brute-force kNN, LSH/IVF approximate search, centroids, norm checks.

Embeddings are unit-norm 64-dim float32 (FIXTURES.md), so cosine ==
dot product. Oracle-checked dot products quantize elements to
DECIMAL(8,6) and do the whole product/sum in exact decimal; the
scale-12 sum has a < 2^53 significand, so the final decimal->double
conversion is a SINGLE correct rounding in both engines. Every wider
layout was tried and fails cross-engine: float32 accumulation
(list_dot_product) is order/width-sensitive; FLOAT->DECIMAL casts
take the shortest-repr path in Spark but the binary-expansion path
in DuckDB (widen to DOUBLE first — unambiguous); scale-18 sums hit
DuckDB's two-rounding int128->double conversion (client-side too);
DuckDB truncates decimal downscales where Spark rounds half-up.
The 1e-6 element quantization shifts cosines by ~1e-5 — the full-
precision path stays available to the rows-only LSH/IVF operators.

Scale ladder: brute force is the oracle/baseline (O(n*q) with
broadcast queries — no shuffle); BucketedRandomProjectionLSH is the
sub-quadratic candidate path; IVF (KMeans-partitioned search) is the
cluster-pruned path — both verified for recall against brute force
in unit tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from ..api_lsh import lsh_candidates, lsh_cells
from ..io import spread_table, table
from ..registry import query

_DEC = "decimal(8,6)"
_ACC = "decimal(25,12)"


def qdot(qa: Column, qb: Column) -> Column:
    """Exact dot product over ALREADY-quantized long arrays (r13:
    dot_dec's arithmetic minus its per-pair re-quantization —
    identical result, sum(q(x)*q(y)) / 1e12 as double)."""
    acc = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return acc.cast("double") / 1.0e12


def dot_dec(a: Column, b: Column) -> Column:
    """Exact dot product over 1e-6-quantized elements -> double.

    round(v * 1e6) as LONG is the same grid as CAST(v AS
    DECIMAL(8,6)) but folds in primitive 64-bit integer arithmetic —
    whole-stage-codegen friendly, ~50x faster than a BigDecimal
    fold. |element| <= 1e6 so the 64-term product sum stays < 2^47,
    far from overflow, and the final /1e12 double division is a
    single correct rounding in both engines (see module docstring
    for the full cross-engine rounding story)."""
    def q(v):  # quantize: round(v * 1e6) as long == CAST(v AS DECIMAL(8,6)) * 1e6
        return F.round(v.cast("double") * 1_000_000).cast("long")

    prods = F.zip_with(a, b, lambda x, y: q(x) * q(y))
    return (
        F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x).cast(
            "double"
        )
        / 1.0e12
    )


# DuckDB twin: relational dot product over unnested (id, pos, val)
# rows with the same exact-decimal arithmetic.
_SQL_EV = """
  SELECT vec_id, label,
         unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
"""


def dot_q_pandas():
    """Vectorized pandas-UDF twin of dot_dec: NumPy int64 einsum over
    Arrow batches — identical quantized arithmetic, C speed. Used
    where the candidate-pair count is large (LSH verify stages);
    interpreted higher-order folds cost ~100x more per pair."""

    @F.pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.rint(np.stack(a.to_numpy()).astype("float64") * 1_000_000).astype(
            "int64"
        )
        B = np.rint(np.stack(b.to_numpy()).astype("float64") * 1_000_000).astype(
            "int64"
        )
        return pd.Series(np.einsum("ij,ij->i", A, B) / 1.0e12)

    return _dot


def _sql_dot(alias_a: str, alias_b: str) -> str:
    return (
        f"(CAST(SUM(CAST(round(CAST({alias_a}.v AS DOUBLE) * 1000000) AS BIGINT) * "
        f"CAST(round(CAST({alias_b}.v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12)"
    )


# --- Shared sign-bit LSH hyperplanes -------------------------------
# Deterministic rational hyperplanes h_k[i] = ((37*i + 17*k) % 101
# - 50) / 100 — integer-derived, so both engines build bit-identical
# planes with no RNG and no libm.  pipeline_semantic_index (the index
# WRITE path, plans/pipelines.py) and sim_index_probe (the READ path
# below) share them, which is what makes the probe consistent with
# the persisted index.
SEM_PLANES = 4
SEM_DIM = 64


def sem_plane_sql(k: int) -> str:
    """DuckDB: sign bit of the quantized-int64 dot(embedding, h_k),
    over the unnested (vec_id, v, i) layout of ``_SQL_EV``."""
    return (
        f"(CASE WHEN SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * "
        f"(((37 * (i - 1) + 17 * {k}) % 101) - 50)) >= 0 THEN 1 ELSE 0 END)"
    )


_SQL_BUCKET = " + ".join(f"{sem_plane_sql(k)} * {1 << k}" for k in range(SEM_PLANES))


def sem_bucket(emb: Column) -> Column:
    """Sign-bit LSH bucket id (0..2^SEM_PLANES-1) of a vector against
    the fixed rational hyperplanes — exact integer arithmetic, one
    array fold per plane, zero Python at execution time."""

    def q(v):
        return F.round(v.cast("double") * 1_000_000).cast("long")

    def plane_bit(k: int) -> Column:
        # r13 (guide §1.2): the coefficients are compile-time ints —
        # one literal array per plane instead of the old per-ROW
        # transform(sequence(...)) reconstruction.
        coeffs = F.expr(
            "array("
            + ",".join(
                f"{(37 * i + 17 * k) % 101 - 50}L" for i in range(SEM_DIM)
            )
            + ")"
        )
        prods = F.zip_with(emb, coeffs, lambda x, c: q(x) * c)
        dot = F.aggregate(prods, F.lit(0).cast("long"), lambda a, x: a + x)
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    return sum(plane_bit(k) * (1 << k) for k in range(SEM_PLANES))


@query(
    "sim_cosine_pairs",
    oracle=f"""
WITH ev AS ({_SQL_EV})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_sql_dot('a', 'b')} AS cosine
FROM ev a JOIN ev b ON b.i = a.i AND b.vec_id = a.vec_id + 1
GROUP BY a.vec_id, b.vec_id
""",
    category="similarity",
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine for given id pairs (consecutive ids here).
    Spark side stays array-native — zip_with + aggregate fold, no
    explode, no shuffle beyond the self-join."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select("vec_a", "vec_b", dot_dec(F.col("ea"), F.col("eb")).alias("cosine"))
    )


@query(
    "sim_knn_brute",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
scores AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, {_sql_dot('q', 'd')} AS cosine
  FROM ev q JOIN ev d ON d.i = q.i AND q.vec_id < 5 AND d.vec_id <> q.vec_id
  GROUP BY q.vec_id, d.vec_id
)
SELECT query_id, neighbor_id, cosine
FROM scores
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) <= 3
""",
    category="similarity",
)
def sim_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for query vectors (vec_id < 5):
    broadcast the bounded query set against the full corpus (no
    shuffle of the big side), then per-query top-k window. This is
    the recall oracle for the LSH/IVF paths."""
    e = table(spark, sf_dir, "embeddings")
    return api.knn_brute(
        e, e.where(F.col("vec_id") < 5), "vec_id", "embedding", k=3
    )


_PROBE_RADIUS = 2  # Hamming multi-probe ball over the bucket bits


@query(
    "sim_index_probe",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
sig AS (
  SELECT vec_id, {_SQL_BUCKET} AS bucket
  FROM ev GROUP BY vec_id
),
cand AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
  FROM sig q JOIN sig d
    ON q.vec_id < 5 AND d.vec_id <> q.vec_id
   AND bit_count(xor(q.bucket, d.bucket)) <= {_PROBE_RADIUS}
),
scores AS (
  SELECT c.query_id, c.neighbor_id, {_sql_dot('a', 'b')} AS cosine
  FROM cand c
  JOIN ev a ON a.vec_id = c.query_id
  JOIN ev b ON b.vec_id = c.neighbor_id AND b.i = a.i
  GROUP BY c.query_id, c.neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM scores
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) <= 3
""",
    category="similarity",
)
def sim_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index READ path — the query-time half of
    pipeline_semantic_index (the RAG loop closed): hash each query
    vector with the SAME rational hyperplanes the index build used,
    multi-probe every bucket within Hamming distance _PROBE_RADIUS of
    the query's bucket, verify candidates with the exact integer dot
    product, keep the top-3 per query. Fully oracle-checked (the
    MLlib LSH ops are rows-only; this one is bit-exact end to end).

    Scale: the corpus-side bucket column is exactly what
    pipeline_semantic_index persists, so at scale this reads the
    materialized index bucketed on `bucket` and touches only matched
    buckets; the query side is a bounded broadcast (queries x probe
    ball). No corpus shuffle, no model fit, no RNG.

    Probe radius: the fixture corpus is ~random unit vectors whose
    top-3 neighbors sit near cosine 0.3 — the hard case for sign-LSH
    — so radius 2 (11/16 buckets) is the measured >=0.9-recall
    operating point at sf0.01 (0.93; 0.87 at sf0.001, see
    tests/test_quality.py). Clustered real-world embeddings run
    radius 0-1 with more planes."""
    e = table(spark, sf_dir, "embeddings")
    # r13: quantize once into qv; candidates score via qdot.
    qe_arr = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    sig = e.select(
        "vec_id",
        qe_arr.alias("qv"),
        sem_bucket(F.col("embedding")).alias("bucket"),
    )
    q = sig.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qqv"),
        F.col("bucket").alias("qbucket"),
    )
    cand = sig.join(
        F.broadcast(q),
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))
        <= _PROBE_RADIUS,
    ).where(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qdot(F.col("qqv"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "sim_threshold_pairs",
    oracle=f"""
WITH ev AS ({_SQL_EV})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_sql_dot('a', 'b')} AS cosine
FROM ev a JOIN ev b ON b.i = a.i AND a.vec_id < b.vec_id
GROUP BY a.vec_id, b.vec_id
HAVING {_sql_dot('a', 'b')} >= 0.4
""",
    category="similarity",
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine >= 0.4, exact (embedding-cosine near-dup
    detection), via BLOCK-PARTITIONED BOTH-SIDES INTEGER GEMM — no
    driver-side materialization anywhere in the path.

    Shape: each vector lands in block b = vec_id % NB; a vector in
    block b is replicated into the NB block-PAIRS {(min(b,o),
    max(b,o)) : o in 0..NB-1}, the frame shuffles once on pair_id,
    and each of the NB*(NB+1)/2 groups runs one NumPy int64 matmul
    over its two blocks (bit-identical to the per-pair long fold).
    Replication is NB x rows; per-task memory is ~2n/NB vectors —
    at 100 TB pick NB ~ sqrt(corpus/executor-budget) and the same
    plan holds. The LSH candidate path (sim_threshold_join_lsh)
    remains the sub-quadratic alternative when recall < 1 is
    acceptable."""
    NB = 8  # block count: 36 block-pair tasks, ~2n/8 vectors each

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    blk = (F.col("vec_id") % NB).cast("int")
    exploded = (
        e.withColumn("blk", blk)
        .withColumn(
            "pair_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(NB - 1)),
                    lambda o: F.least(F.col("blk"), o) * NB
                    + F.greatest(F.col("blk"), o),
                )
            ),
        )
    )
    thresh_e12 = int(0.4 * 1e12)
    schema = "vec_a long, vec_b long, cosine double"

    def gemm_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pair_id"].iloc[0])
        i, j = pid // NB, pid % NB
        ids = pdf["vec_id"].to_numpy()
        Q = np.rint(
            np.stack(pdf["embedding"].to_numpy()).astype("float64") * 1_000_000
        ).astype("int64")
        if i == j:
            # within-block: every unordered pair appears twice in S;
            # keep the a<b half
            S = Q @ Q.T  # exact int64 dot products x 1e12
            ai, bj = np.nonzero((S >= thresh_e12) & (ids[:, None] < ids[None, :]))
            va, vb = ids[ai], ids[bj]
        else:
            # cross-block: each unordered pair appears once (one side
            # per block) with arbitrary id order — emit (min, max)
            ma = pdf["blk"].to_numpy() == i
            a_ids, b_ids = ids[ma], ids[~ma]
            S = Q[ma] @ Q[~ma].T
            ai, bj = np.nonzero(S >= thresh_e12)
            x, y = a_ids[ai], b_ids[bj]
            va, vb = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": S[ai, bj] / 1.0e12})

    return exploded.groupBy("pair_id").applyInPandas(gemm_block_pair, schema)


@query(
    "vec_centroid",
    oracle="""
WITH ev AS (
  SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
SELECT label, CAST(i AS INT) AS pos,
       CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(8,6))) AS DOUBLE) / COUNT(*) AS component,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM ev GROUP BY label, i
""",
    category="similarity",
)
def vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector in long format (label, pos, component):
    posexplode -> exact decimal sum per (label, position).  The shuffle
    key is (label, pos) — 10 x 64 groups, perfectly balanced at any
    scale.  Long format keeps every graded cell scalar (the driver's
    comparator cannot hash array cells); an array-typed reassembly is
    one ``collect_list(struct(pos, component))`` away for callers."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(
            (F.sum(F.col("v").cast("double").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
                "component"
            ),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select(
            "label",
            (F.col("i") + F.lit(1)).cast("int").alias("pos"),
            "component",
            "n_vecs",
        )
    )


@query(
    "vec_norm_check",
    oracle=f"""
WITH ev AS ({_SQL_EV})
SELECT vec_id,
       (CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) AS l2_norm_sq,
       ABS((CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) * CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / 1e12) - 1.0) AS unit_dev
FROM ev GROUP BY vec_id
""",
    category="similarity",
)
def vec_norm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared L2 norm per vector + deviation from unit norm — the
    data-quality gate for an embedding pipeline, kept in exact
    decimal (norm^2 == 1 iff norm == 1; a sqrt would reintroduce
    engine-specific decimal->double rounding)."""
    e = table(spark, sf_dir, "embeddings")
    norm_sq = dot_dec(F.col("embedding"), F.col("embedding"))
    return e.select(
        "vec_id",
        norm_sq.alias("l2_norm_sq"),
        F.abs(norm_sq - 1.0).alias("unit_dev"),
    )


@query("sim_knn_lsh", oracle=None, category="similarity")
def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via BucketedRandomProjectionLSH (random
    hyperplane buckets; unit-norm => euclidean dist = sqrt(2-2cos),
    so a distance threshold of 1.2 covers cosine >= 0.28). Seeded,
    rows-only; unit test measures recall vs sim_knn_brute."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.5,
        numHashTables=6,
        seed=42,
    ).fit(e)
    # r13 (guide §2.4): pre-hash ONCE and localCheckpoint so the
    # join does not re-run scan+vectorize+hash on BOTH sides (same
    # seeded model => identical candidates).  r14 A/B: 0.75 s with
    # vs 1.09 s without — kept.
    hashed = lsh.transform(e).localCheckpoint(eager=True)
    q = hashed.where(F.col("vec_id") < 5)
    pairs = lsh.approxSimilarityJoin(q, hashed, 1.2, distCol="eucl_dist")
    scored = pairs.where(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    ).select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        (1 - F.col("eucl_dist") * F.col("eucl_dist") / 2).alias("est_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("est_cosine"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query("sim_threshold_join_lsh", oracle=None, category="similarity")
def sim_threshold_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.4 via LSH candidate join + exact verify
    — the sub-quadratic scale path for sim_threshold_pairs
    (tests/test_quality.py::test_threshold_lsh_matches_exact asserts
    pair-set equality with the exact twin: precision 1.0 from the
    verify stage, recall >= 0.9 and in practice 1.0 at sf0.001).
    Candidates come from bucket collisions only; the exact dot
    product then filters. Rows-only by design: the candidate set
    depends on pyspark.ml's private hyperplane hash family, which no
    ANSI-SQL oracle can reproduce — the exact twin carries the hash
    grade (pass r04-era)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.7,
        numHashTables=8,
        seed=7,
    ).fit(e)
    # r14 (guide §2.3/§8, the dedup_minhash_widevocab pattern): the
    # fixture embeddings are LSH-degenerate — 1.99 M of the 2.00 M
    # possible pairs collide in >=1 of the 8 tables (measured at
    # sf0.1) — so approxSimilarityJoin pushed ~8 M COLLISION ROWS
    # each carrying the full (embedding array + features vector + 8
    # hash vectors) struct through its internal distinct().
    # Reimplemented bit-identically with the model's own numbers
    # (verified row-identical incl. the cosine doubles at
    # sf0.001/0.01/0.1): candidates are the id-only api_lsh join over
    # the (table, value) hash cells; the euclidean
    # gate reproduces keyDistance exactly (sqrt of the left-to-right
    # (x-y)^2 fold = Vectors.sqdist on dense vectors, < 1.0955); the
    # exact cosine verify (dot_q_pandas) runs only on gate
    # survivors, as before.  At 100 TB the candidate shuffle carries
    # 16-byte id pairs instead of KB-scale structs.
    from pyspark.ml.functions import vector_to_array

    tables = [vector_to_array(F.col("hashes")[t])[0] for t in range(8)]
    cells = lsh_cells(lsh.transform(e), "vec_id", tables).localCheckpoint(
        eager=True  # 8 narrow rows per vector
    )
    cand = lsh_candidates(cells).select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b")
    )
    emb = e.select("vec_id", "embedding")
    withv = cand.join(
        F.broadcast(
            emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
        ),
        "vec_a",
    ).join(
        F.broadcast(
            emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
        ),
        "vec_b",
    )
    # keyDistance = sqrt(Vectors.sqdist) accumulates (x_i-y_i)^2 LEFT
    # TO RIGHT; zip_with + aggregate folds in the same order, so the
    # gate is bit-equal to the Scala loop.  (A flat 64-term SQL
    # expression was tried instead — 128 GetArrayItems per row blew
    # the codegen budget and fell back to interpreted: 25 s vs 5.6 s.)
    sqdist = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # cosine >= 0.4  <=>  euclidean <= sqrt(2 - 0.8) ~= 1.0954
    gated = withv.where(F.sqrt(sqdist) < 1.0955)
    dot = dot_q_pandas()
    pairs = gated.select(
        "vec_a", "vec_b", dot(F.col("emb_a"), F.col("emb_b")).alias("cosine")
    )
    return pairs.where(F.col("cosine") >= 0.4)


@query("sim_knn_ivf", oracle=None, category="similarity")
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate kNN: KMeans partitions the corpus into
    nlist cells; each query probes its top-NPROBE nearest cells.
    Seeded, rows-only; unit test measures recall vs brute force
    (>= 0.9; nprobe=4 of k=8 reaches 1.0 on the fixture — its 3-NN
    are weakly similar and scatter across cells, so a high
    nprobe/nlist ratio is the price of recall at this tiny corpus;
    at scale nlist grows ~sqrt(n) and the probed fraction shrinks).

    Scale posture (all implemented, not just documented): the KMeans
    fit runs on a BOUNDED SAMPLE (<= _IVF_FIT_CAP rows — centroid
    quality needs a sample, not the corpus), the centroid table (k x
    dim floats) rides to executors as literal columns, corpus cell
    assignment is the model's map-side transform, and the probe join
    broadcasts the bounded query set — the corpus is scanned once
    and shuffled once on cell_id regardless of size."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    _IVF_FIT_CAP = 100_000
    NPROBE = 4

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    n = e.count()
    fit_input = (
        e.sample(fraction=min(1.0, _IVF_FIT_CAP / max(n, 1)), seed=42)
        if n > _IVF_FIT_CAP
        else e
    )
    km = KMeans(k=8, seed=42, featuresCol="features", predictionCol="cell_id").fit(
        fit_input
    )
    assigned = km.transform(e).select("vec_id", "embedding", "cell_id")
    # top-NPROBE cells per query: distance to each centroid computed
    # column-side against the (tiny) centroid literals
    centroids = [np.asarray(c).tolist() for c in km.clusterCenters()]
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    def dist_to(c: list) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("qe"),
                F.array(*[F.lit(float(v)) for v in c]),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(dist_to(c).alias("dist"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
    )
    probes = q.select(
        "query_id", "qe", F.explode(F.slice(ranked, 1, NPROBE)).alias("probe")
    ).select("query_id", "qe", F.col("probe.cell").alias("qcell"))
    scored = (
        assigned.join(F.broadcast(probes), F.col("cell_id") == F.col("qcell"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_dec(F.col("qe"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query("vec_power_iteration", oracle=None, category="similarity")
def vec_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram
    matrix by distributed power iteration — the third iterative-
    algorithm family next to connected components and PageRank, and
    the building block behind PCA whitening / spectral diagnostics
    of an embedding table. v_{k+1} = normalize(sum_i x_i (x_i . v_k))
    for 12 fixed rounds from the deterministic uniform start.

    Rows-only: float dot products are summation-order-sensitive;
    tests/test_quality.py re-runs the identical iteration in NumPy
    and asserts 1e-6 directional agreement (|cos| with the NumPy
    vector, sign-fixed), plus unit norm and cross-run determinism.

    Execution shape per round: v_k rides into the task as a plain
    64-element array literal (no broadcast join needed at d=64);
    each row computes its scalar projection with one zip_with +
    aggregate, fans out d (pos, contrib) pairs, and ONE groupBy(pos)
    shuffle of 64 keys reduces the next unnormalized iterate; the
    driver sees exactly d scalars per round (normalization of a
    64-vector). At 100 TB rows scale freely — per-round traffic is
    O(d * partitions), independent of n."""
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    e = e.persist()
    d = 64
    v = [1.0 / d**0.5] * d
    for _ in range(12):
        v_lit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("x"), v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        nxt = (
            e.select(F.posexplode(F.transform(F.col("x"), lambda xi: xi * dot)))
            .groupBy("pos")
            .agg(F.sum("col").alias("s"))
            .collect()
        )
        w = [0.0] * d
        for r in nxt:
            w[r["pos"]] = r["s"]
        norm = sum(c * c for c in w) ** 0.5
        v = [c / norm for c in w]
    e.unpersist()
    out = [(i, v[i]) for i in range(d)]
    return spark.createDataFrame(out, "pos int, component double")


# --- IVF-Flat read path (oracle-exact) -----------------------------
# Fixed coarse codebook: the embeddings with vec_id < _IVF_CELLS act
# as the cell centroids (cell_id = vec_id).  At scale the codebook
# comes from an offline sampled k-means fit (sim_knn_ivf implements
# that, rows-only because KMeans isn't cross-engine-reproducible);
# the READ-path contract graded here — assign each corpus vector to
# its nearest cell, probe the query's _IVF_NPROBE nearest cells,
# exact-verify candidates — is identical, and a deterministic
# codebook makes it bit-checkable end to end.
_IVF_CELLS = 16
_IVF_NPROBE = 2

# DuckDB: exact integer squared distance between quantized vectors,
# over the unnested (vec_id, v, i) layout joined against the centroid
# rows. |q| <= 1e6 -> diff^2 <= 4e12, x64 dims < 2^48: no overflow.
_SQL_QD = "CAST(round(CAST(d.v AS DOUBLE) * 1000000) AS BIGINT)"
_SQL_QC = "CAST(round(CAST(c.v AS DOUBLE) * 1000000) AS BIGINT)"


@query(
    "sim_ivf_probe",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
dist AS (
  SELECT d.vec_id, c.vec_id AS cell_id,
         SUM(({_SQL_QD} - {_SQL_QC}) * ({_SQL_QD} - {_SQL_QC})) AS dist2
  FROM ev d JOIN ev c ON c.i = d.i AND c.vec_id < {_IVF_CELLS}
  GROUP BY d.vec_id, c.vec_id
),
assign AS (
  SELECT vec_id, cell_id FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell_id) = 1
),
probe AS (
  SELECT vec_id AS query_id, cell_id FROM dist
  WHERE vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell_id)
          <= {_IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
scores AS (
  SELECT c.query_id, c.neighbor_id, {_sql_dot('a', 'b')} AS cosine
  FROM cand c
  JOIN ev a ON a.vec_id = c.query_id
  JOIN ev b ON b.vec_id = c.neighbor_id AND b.i = a.i
  GROUP BY c.query_id, c.neighbor_id
)
SELECT query_id, neighbor_id, cosine FROM scores
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) <= 3
""",
    category="similarity",
)
def sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN READ path, fully oracle-exact (the deterministic
    companion of the rows-only KMeans sim_knn_ivf): every corpus
    vector is assigned to its nearest codebook cell by EXACT
    quantized-int64 squared distance (tie-break lower cell id), each
    query probes its _IVF_NPROBE nearest cells, candidates in probed
    cells are verified with the exact integer dot product, top-3 per
    query survive.

    Scale shape: the 16 centroid vectors ride as literal columns, so
    corpus cell assignment is a zero-shuffle map stage (at real
    codebook sizes — 2^12..2^16 cells — the same argmin runs as a
    broadcast join against the codebook table instead); the probe
    side is bounded (queries x nprobe) and broadcast, so the only
    data-proportional movement is the candidate-set window. With the
    assignment persisted (the IVF "index"), a query touches only its
    probed cells — the inverted-file contract.

    One collect() of 16 codebook rows (bounded scalar staging, same
    pattern as sim_knn_ivf's centroid literals).  Perf: embeddings
    quantized ONCE (r6 — per-element re-quantization in the argmin
    was uncodegennable, ~10x); r13 notes inline below."""
    e = table(spark, sf_dir, "embeddings")
    qe = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    e2 = e.select("vec_id", qe.alias("qv"))
    cents = {
        r["vec_id"]: [int(x) for x in r["qv"]]
        for r in e2.where(F.col("vec_id") < _IVF_CELLS)
        .select("vec_id", "qv")
        .collect()
    }

    # r13: ~1.5 s of the 3.4 s median was fn() CONSTRUCTION — 16x64
    # centroid literals built Column-by-Column over py4j (the r8
    # dedup_simhash lesson); now ONE F.expr SQL string.
    def _dist2_sql(c: list) -> str:
        arr = ",".join(str(x) for x in c)
        return (
            f"aggregate(zip_with(qv, array({arr}),"
            " (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
        )

    structs_sql = (
        "array("
        + ",".join(
            f"struct({_dist2_sql(c)} AS dist2, {cid} AS cell_id)"
            for cid, c in sorted(cents.items())
        )
        + ")"
    )
    # argmin = array_min (natural struct order, no comparator); the
    # never-firing coalesce(-1) makes cell_id non-nullable so the
    # join pushes no isnotnull filter below this projection — that
    # filter re-inlined the whole 16-centroid expression per row
    # (the dominant cost in plans/r13/sim_ivf_probe_before.txt (2)).
    assigned = e2.select(
        "vec_id",
        "qv",
        F.coalesce(
            F.expr(f"array_min({structs_sql}).cell_id"), F.lit(-1)
        ).alias("cell_id"),
    )
    probes = (
        e2.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qqv"),
            F.explode(
                F.expr(
                    f"transform(slice(array_sort({structs_sql}), 1,"
                    f" {_IVF_NPROBE}), s -> s.cell_id)"
                )
            ).alias("cell_id"),
        )
    )
    cand = assigned.join(F.broadcast(probes), "cell_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        qdot(F.col("qqv"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "vec_quantize_int8",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
q AS (
  SELECT vec_id, CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM ev
),
m AS (
  SELECT vec_id, qv,
         GREATEST(MAX(ABS(qv)) OVER (PARTITION BY vec_id), 1) AS maxq
  FROM q
),
c AS (
  SELECT vec_id, qv, maxq,
         ((qv + maxq) * 254 + maxq) // (2 * maxq) - 127 AS code
  FROM m
)
SELECT vec_id,
       CAST(MAX(maxq) AS DOUBLE) / 127000000.0 AS scale,
       CAST(MIN(code) AS BIGINT) AS q_min,
       CAST(MAX(code) AS BIGINT) AS q_max,
       CAST(SUM(code) AS BIGINT) AS q_sum,
       CAST(SUM(ABS(qv * 127 - code * maxq)) AS BIGINT) AS recon_err_q
FROM c
GROUP BY vec_id
""",
    category="similarity",
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    serving-side compression step (4x smaller vectors, SIMD int8
    dot products) of an embedding index: per-vector scale =
    max|v|/127, code_i = round(v_i/scale) in [-127, 127].

    Rounding portability is the whole trick: round-half-up is done in
    PURE INTEGER arithmetic on the 1e-6-quantized grid —
    ``code = floor(((qv + maxq)*254 + maxq) / (2*maxq)) - 127`` —
    with a non-negative numerator so floor == truncate and Spark's
    `div`-style semantics agree with DuckDB's `//` bit-for-bit (a
    double-rounding implementation diverges near half-steps).
    Spark-side the floor-div is (a - pmod(a,b))/b: the difference is
    an exact multiple of b, so the one double division is exact.
    GREATEST(maxq, 1) totalizes the zero vector to all-zero codes.

    Pure map stage over the vectors (zero shuffles before the final
    per-vector aggregate, which is itself elementwise — the output is
    one row per input row): at 100 TB this is scan-speed. Emits
    scalar audit columns (scale, code min/max/sum, exact integer L1
    reconstruction error on the scaled grid) rather than the array
    itself, per the driver's scalar-output convention."""
    e = table(spark, sf_dir, "embeddings")

    def q(v: Column) -> Column:
        return F.round(v.cast("double") * 1_000_000).cast("long")

    qarr = F.transform(F.col("embedding"), q)
    d = e.select("vec_id", qarr.alias("qarr")).select(
        "vec_id",
        "qarr",
        F.greatest(
            F.array_max(F.transform(F.col("qarr"), lambda x: F.abs(x))),
            F.lit(1).cast("long"),
        ).alias("maxq"),
    )

    def floordiv(a: Column, b: Column) -> Column:
        return ((a - F.pmod(a, b)) / b).cast("long")

    maxq = F.col("maxq")
    codes = F.transform(
        F.col("qarr"),
        lambda qv: floordiv((qv + maxq) * 254 + maxq, 2 * maxq) - 127,
    )
    d = d.withColumn("codes", codes)
    err = F.zip_with(
        F.col("qarr"), F.col("codes"), lambda qv, c: F.abs(qv * 127 - c * maxq)
    )
    return d.select(
        "vec_id",
        (maxq.cast("double") / F.lit(127000000.0)).alias("scale"),
        F.array_min("codes").alias("q_min"),
        F.array_max("codes").alias("q_max"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.aggregate(err, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "recon_err_q"
        ),
    )


# --- Product quantization (PQ) encode, oracle-exact ----------------
# M subspaces x K centroids; the deterministic codebook is the first
# _PQ_K vectors' subvectors (codebook-per-subspace = their slices),
# exactly the IVF trick: at scale the codebook comes from an offline
# sampled k-means per subspace, but the ENCODE contract graded here —
# nearest-centroid per subspace by exact integer distance — is
# identical, and a deterministic codebook makes it bit-checkable.
_PQ_M = 4
_PQ_SUB = 16  # 64 dims / 4 subspaces
_PQ_K = 4


@query(
    "vec_pq_encode",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
dist AS (
  SELECT d.vec_id, (d.i - 1) // {_PQ_SUB} AS m, c.vec_id AS k,
         SUM(({_SQL_QD} - {_SQL_QC}) * ({_SQL_QD} - {_SQL_QC})) AS dist2
  FROM ev d JOIN ev c ON c.i = d.i AND c.vec_id < {_PQ_K}
  GROUP BY d.vec_id, (d.i - 1) // {_PQ_SUB}, c.vec_id
),
best AS (
  SELECT vec_id, m, k, dist2 FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, k) = 1
)
SELECT vec_id,
       CAST(MAX(CASE WHEN m = 0 THEN k END) AS BIGINT) AS code_0,
       CAST(MAX(CASE WHEN m = 1 THEN k END) AS BIGINT) AS code_1,
       CAST(MAX(CASE WHEN m = 2 THEN k END) AS BIGINT) AS code_2,
       CAST(MAX(CASE WHEN m = 3 THEN k END) AS BIGINT) AS code_3,
       CAST(SUM(dist2) AS BIGINT) AS recon_dist2
FROM best GROUP BY vec_id
""",
    category="similarity",
)
def vec_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE — the compression step of an
    IVF-PQ index (Jegou et al., the FAISS workhorse): each vector
    splits into {_PQ_M} subvectors of {_PQ_SUB} dims; each subvector
    is assigned to its nearest of {_PQ_K} per-subspace centroids by
    EXACT quantized-int64 squared distance (tie-break lower code),
    compressing 64 floats to {_PQ_M} small codes; the total quantized
    reconstruction distance rides along as the audit column.

    Scale shape: the codebook is bounded (M x K subvectors) and rides
    as literal columns, so encoding is a ZERO-SHUFFLE map stage —
    scan speed at 100 TB, exactly like vec_quantize_int8 (at real
    codebook sizes, 2^8 centroids/subspace, the same argmin runs as
    {_PQ_M} broadcast joins).  Per subspace the K distances sit in an
    array of (dist2, code) structs and array_min picks the argmin —
    the codebook-literal nested form that stays inside whole-stage
    codegen (the unrolled-aggregate alternative fell out of codegen
    in sim_ivf_probe's r5 shape, ~10x slower).  One collect() of
    {_PQ_K} codebook rows (bounded scalar staging).  Emits scalar
    code columns per the driver convention, not an array."""
    e = table(spark, sf_dir, "embeddings")
    qe = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    e2 = e.select("vec_id", "embedding", qe.alias("qv"))
    cents = {
        r["vec_id"]: [int(x) for x in r["qv"]]
        for r in e2.where(F.col("vec_id") < _PQ_K).collect()
    }
    # the deterministic-codebook contract NEEDS ids 0.._PQ_K-1: the
    # oracle emits c.vec_id as the code while the kernel emits the
    # codebook POSITION — identical only when the id set is exactly
    # the dense range. Fail loudly if the fixture ever changes shape.
    assert sorted(cents) == list(range(_PQ_K)), sorted(cents)
    codebook_q = [cents[k] for k in sorted(cents)]
    return api.pq_encode(
        e2, "vec_id", "embedding", codebook_q=codebook_q, n_subspaces=_PQ_M
    )


@query(
    "sim_pq_adc",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
dist AS (
  SELECT d.vec_id, (d.i - 1) // {_PQ_SUB} AS m, c.vec_id AS k,
         SUM(({_SQL_QD} - {_SQL_QC}) * ({_SQL_QD} - {_SQL_QC})) AS dist2
  FROM ev d JOIN ev c ON c.i = d.i AND c.vec_id < {_PQ_K}
  GROUP BY d.vec_id, (d.i - 1) // {_PQ_SUB}, c.vec_id
),
codes AS (
  SELECT vec_id, m, k FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, k) = 1
),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(q.dist2) AS adc_dist2
  FROM codes c
  JOIN dist q ON q.m = c.m AND q.k = c.k AND q.vec_id < 5
  WHERE c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, CAST(adc_dist2 AS BIGINT) AS adc_dist2
FROM adc
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_dist2, neighbor_id) <= 3
""",
    category="similarity",
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ READ path — Asymmetric Distance Computation (the scoring
    half of IVF-PQ): each query precomputes a lookup table of exact
    int64 squared distances from its own subvectors to every
    per-subspace centroid ({_PQ_M} x {_PQ_K} entries), and a
    compressed corpus vector scores as the SUM of {_PQ_M} table
    lookups indexed by its codes — the query side stays full
    precision ("asymmetric"), the corpus side never decompresses.
    Top-3 smallest ADC distances per query survive (self excluded).

    Scale shape: the corpus pass reuses the zero-shuffle PQ encode
    map (codebook literals), and the 5 query LUTs are bounded
    literals folded into the same stage — element_at on a
    {_PQ_K}-entry literal array per (query, subspace), then one
    explode to (query_id, adc) pairs; the only data-proportional
    movement is the per-query top-k window, exactly sim_ivf_probe's
    tail. At real sizes the LUT table (queries x M x K rows)
    broadcast-joins against the code columns instead — corpus bytes
    still never move.  Self-match exclusion keeps the output
    non-degenerate (a query's own codes give ADC distance equal to
    its reconstruction distance — an exact invariant the tests pin —
    usually rank-1).

    Honest accuracy note: at 2 bits/subspace x 4 subspaces (8 bits
    per 64-dim vector) on isotropic random embeddings, ADC ranking
    is a COARSE pre-ranker (measured top-3 recall vs exact kNN is
    low on this fixture) — which is exactly how production IVF-PQ
    uses it: ADC prunes to a candidate set that exact re-ranking
    (the sim_ivf_probe / sim_index_probe verify pattern) then
    orders.  The graded contract here is the ADC *arithmetic*,
    which is bit-exact."""
    e = table(spark, sf_dir, "embeddings")
    qe = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
    )
    e2 = e.select("vec_id", qe.alias("qv"))
    # ONE bounded collect: the centroid set (vec_id < _PQ_K) is a
    # subset of the query set (vec_id < 5)
    queries = {
        r["vec_id"]: [int(x) for x in r["qv"]]
        for r in e2.where(F.col("vec_id") < 5).collect()
    }
    cents = {k: v for k, v in queries.items() if k < _PQ_K}
    # codes below are CODEBOOK POSITIONS (enumerate) and the LUTs are
    # position-ordered lists — the dense-range assert keeps them and
    # the oracle's c.vec_id codes interchangeable (see vec_pq_encode)
    assert sorted(cents) == list(range(_PQ_K)), sorted(cents)

    def sub_d2_py(vec: list, cent: list, m: int) -> int:
        a = vec[m * _PQ_SUB : (m + 1) * _PQ_SUB]
        b = cent[m * _PQ_SUB : (m + 1) * _PQ_SUB]
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # per-query LUT: lut[qid][m][k] — bounded (5 x M x K) ints,
    # computed driver-side from the two bounded collects above
    lut = {
        qid: [
            [sub_d2_py(qvec, cents[k], m) for k in sorted(cents)]
            for m in range(_PQ_M)
        ]
        for qid, qvec in queries.items()
    }

    # Codebook and LUT literals assembled as single F.expr SQL
    # strings (the multimodal_audio_rms lesson: Column-by-Column
    # construction costs hundreds of py4j round trips per bench run,
    # ~1.2 s measured r8). Identical expressions.
    def sub_dist2_sql(m: int, c: list) -> str:
        lits = ",".join(str(x) for x in c[m * _PQ_SUB : (m + 1) * _PQ_SUB])
        return (
            f"aggregate(zip_with(slice(qv, {m * _PQ_SUB + 1}, {_PQ_SUB}),"
            f" array({lits}), (x, y) -> (x - y) * (x - y)),"
            f" CAST(0 AS BIGINT), (a, t) -> a + t)"
        )

    coded = e2
    for m in range(_PQ_M):
        structs = ",".join(
            f"named_struct('d', {sub_dist2_sql(m, c)},"
            f" 'k', CAST({k} AS BIGINT))"
            for k, c in enumerate(c for _, c in sorted(cents.items()))
        )
        coded = coded.withColumn(
            f"code_{m}", F.expr(f"array_min(array({structs})).k")
        )

    per_query = ",".join(
        "named_struct('query_id', CAST({qid} AS BIGINT), 'adc_dist2', {s})".format(
            qid=qid,
            s=" + ".join(
                "element_at(array({lits}), CAST(code_{m} + 1 AS INT))".format(
                    lits=",".join(str(v) for v in lut[qid][m]), m=m
                )
                for m in range(_PQ_M)
            ),
        )
        for qid in sorted(queries)
    )
    scored = (
        coded.select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(f"explode(array({per_query}))").alias("s"),
        )
        .select("s.query_id", "neighbor_id", "s.adc_dist2")
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "sim_maxsim",
    oracle="""
WITH ev AS (
  SELECT vec_id, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, i,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM ev WHERE vec_id < 8
),
d AS (
  SELECT vec_id // 8 AS mdoc_id, vec_id, i,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS dv
  FROM ev WHERE vec_id >= 8
),
dots AS (
  SELECT d.mdoc_id, d.vec_id, q.qid,
         CAST(SUM(d.dv * q.qv) AS BIGINT) AS dp
  FROM d JOIN q ON q.i = d.i
  GROUP BY d.mdoc_id, d.vec_id, q.qid
),
mx AS (
  SELECT mdoc_id, qid, MAX(dp) AS m FROM dots GROUP BY mdoc_id, qid
),
s AS (
  SELECT mdoc_id, CAST(SUM(m) AS BIGINT) AS si FROM mx GROUP BY mdoc_id
)
SELECT CAST(mdoc_id AS BIGINT) AS mdoc_id,
       CAST(row_number() OVER (ORDER BY si DESC, mdoc_id) AS INT) AS rank,
       CAST(si AS DOUBLE) / 1e12 AS maxsim
FROM s
QUALIFY row_number() OVER (ORDER BY si DESC, mdoc_id) <= 10
""",
    category="similarity",
)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (the ColBERT MaxSim
    operator): embeddings are grouped 8-per-document into
    multi-vector docs; the query is itself a bag of 8 vectors
    (vec_id < 8, BROADCAST); a document's score is
    sum_q max_v <q, v> — for each query vector take its best-matching
    doc vector, then sum.  Execution is the 100 TB shape: the corpus
    is scanned once, dotted against the broadcast query bag (map
    side, no corpus shuffle), then reduced by TWO partial-agg
    hash aggregations (max per (doc, query-vector), sum per doc) on
    the doc key, and the global top-10 is a TakeOrdered, never a
    single-task sort.  Every dot/max/sum stays in exact int64
    (1e-6-quantized elements) until ONE final division, so the
    ranking is bit-deterministic regardless of partitioning.  Thin
    adapter over the public api.maxsim kernel."""
    e = table(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") >= 8).select(
        F.expr("vec_id div 8").alias("mdoc_id"), "embedding"
    )
    queries = e.where(F.col("vec_id") < 8).select("embedding")
    return api.maxsim(corpus, queries, "mdoc_id", "embedding", k=10)


@query("vec_pca_top2", oracle=None, category="similarity")
def vec_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions of the (uncentered) embedding Gram
    matrix by power iteration WITH DEFLATION — the spectral
    diagnostic pair (anisotropy check, whitening basis) that
    single-component vec_power_iteration can't give: v2 is found by
    projecting v1 out of every iterate (u <- u - (v1.u) v1, a
    d-element driver-side correction — the corpus is never touched
    by the deflation).  Per round per component: one zip_with dot
    map + one 64-key groupBy(pos) shuffle; driver traffic is d
    scalars.  Also emits each component's Rayleigh quotient
    eigenvalue share of the total Gram trace (energy explained).
    Rows-only (⊘): float iteration is summation-order-sensitive;
    tests/test_quality.py re-runs the identical NumPy iteration and
    asserts 1e-6 directional agreement for BOTH components plus
    orthogonality |v1.v2| < 1e-9.  Honesty note: on a
    well-separated spectrum 12 rounds converge to the true top-2;
    on a near-degenerate one (this fixture's random unit vectors —
    Gram ~ (n/d) I) the pair is an orthogonal basis of high-energy
    directions whose Rayleigh quotients sit inside the eigenvalue
    cluster, which the test pins against the exact spectrum."""
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    e = e.persist()
    d = 64

    def matvec(v):
        v_lit = F.array(*[F.lit(float(c)) for c in v])
        dot = F.aggregate(
            F.zip_with(F.col("x"), v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        rows = (
            e.select(F.posexplode(F.transform(F.col("x"), lambda xi: xi * dot)))
            .groupBy("pos")
            .agg(F.sum("col").alias("s"))
            .collect()
        )
        w = [0.0] * d
        for r in rows:
            w[r["pos"]] = r["s"]
        return w

    comps, eigs = [], []
    for _comp in range(2):
        v = [1.0 / d**0.5] * d
        for _ in range(12):
            w = matvec(v)
            for p in comps:  # deflate: remove already-found directions
                pu = sum(pi * wi for pi, wi in zip(p, w))
                w = [wi - pu * pi for wi, pi in zip(w, p)]
            norm = sum(c * c for c in w) ** 0.5
            v = [c / norm for c in w]
        comps.append(v)
        av = matvec(v)
        eigs.append(sum(vi * ai for vi, ai in zip(v, av)))
    trace_row = e.select(
        F.aggregate(
            F.transform(F.col("x"), lambda xi: xi * xi),
            F.lit(0.0),
            lambda a, t: a + t,
        ).alias("sq")
    ).agg(F.sum("sq").alias("tr")).collect()[0]
    trace = trace_row["tr"]
    e.unpersist()
    out = [
        (ci, i, comps[ci][i], eigs[ci], eigs[ci] / trace)
        for ci in range(2)
        for i in range(d)
    ]
    return spark.createDataFrame(
        out,
        "component int, pos int, value double, eigenvalue double, "
        "energy_share double",
    )


def _rp_project_oracle() -> str:
    """Oracle for the JL projection: the deterministic splitmix64
    Rademacher matrix (api.rp_sign) is EMITTED as a 1024-row VALUES
    table by this builder — the engines share the exact matrix with
    no RNG state — and each output cell is the same exact int64
    signed sum / 1e6 single rounding the Spark side computes."""
    from .. import api as _api

    rows = ", ".join(
        f"({i + 1}, {j}, {_api.rp_sign(i, j)})"
        for j in range(16)
        for i in range(64)
    )
    return f"""
WITH ev AS ({_SQL_EV}),
xq AS (
  SELECT vec_id, i AS pos,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM ev
),
signs(pos, dim, s) AS (VALUES {rows})
SELECT x.vec_id, CAST(s.dim AS BIGINT) AS dim,
       CAST(SUM(x.q * s.s) AS DOUBLE) / 1000000.0 AS y
FROM xq x JOIN signs s ON s.pos = x.pos
GROUP BY x.vec_id, s.dim
"""


@query("vec_rp_project", oracle=_rp_project_oracle(), category="similarity")
def vec_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss compression of the 64-d embedding
    column to 16-d via api.rp_project's deterministic Rademacher
    matrix — the train-nothing companion to vec_pca_top2 (data-
    dependent) and vec_pq_encode (codebook): the cheap first stage
    of an ANN/dedup cascade, where candidate distances are computed
    in the 4x-smaller sketch space and only survivors are verified
    against full vectors.

    PROMOTED r8 from ⊘ to ORACLE-EXACT: the k*d=1024 Rademacher
    sign literals are generated into the oracle as a VALUES table by
    _rp_project_oracle (the same api.rp_sign splitmix64 matrix), so
    both engines compute the identical exact int64 signed sums and
    the single /1e6 rounding.  tests/test_quality.py still
    recomputes every cell EXACTLY in NumPy and asserts the measured
    pairwise-distance distortion of the k-scaled sketch stays inside
    the JL band for a sample of pairs.

    r13 (guide §2.5): the 1024-literal signed-sum projection is a
    pure map stage — one task on the fixture's single-row-group
    file; spread_table parallelizes it (no-op on a splittable
    layout).  0.41 -> 0.21 s isolated."""
    e = spread_table(spark, sf_dir, "embeddings", "vec_id")
    out = api.rp_project(e, "vec_id", "embedding", d=64, k=16)
    return out.select("vec_id", F.col("dim").cast("long").alias("dim"), "y")


_MRL_PREFIX = 16  # Matryoshka truncation dimension


@query(
    "vec_matryoshka_probe",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
full_s AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         {_sql_dot('q', 'd')} AS cosine
  FROM ev q JOIN ev d ON d.i = q.i AND q.vec_id < 8 AND d.vec_id <> q.vec_id
  GROUP BY q.vec_id, d.vec_id
),
pref_s AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         {_sql_dot('q', 'd')} AS cosine
  FROM ev q JOIN ev d ON d.i = q.i AND q.vec_id < 8 AND d.vec_id <> q.vec_id
  WHERE q.i <= {_MRL_PREFIX}
  GROUP BY q.vec_id, d.vec_id
),
full_t AS (
  SELECT query_id, neighbor_id AS full_top1, cosine AS full_cosine
  FROM full_s
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) = 1
),
pref_t AS (
  SELECT query_id, neighbor_id AS prefix_top1, cosine AS prefix_cosine
  FROM pref_s
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) = 1
)
SELECT f.query_id, f.full_top1, f.full_cosine,
       p.prefix_top1, p.prefix_cosine,
       CAST(CASE WHEN f.full_top1 = p.prefix_top1 THEN 1 ELSE 0 END AS BIGINT)
         AS top1_agree
FROM full_t f JOIN pref_t p ON p.query_id = f.query_id
""",
    category="similarity",
)
def vec_matryoshka_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation probe: for each query vector, the
    exact top-1 neighbor under the FULL 64-dim dot product vs under
    the first-{_MRL_PREFIX}-dims truncation — the measurement behind
    MRL-style tiered retrieval (serve the cheap prefix index, escalate
    to full dims only on disagreement/margin). Both scores are exact
    int64 grid dots (1e-6 quantization, dot_dec); the truncated dot
    reuses the SAME quantized elements via slice, so the two rankings
    are commensurable. Plan shape = knn_brute's: bounded query set
    broadcast against the corpus, per-query windows over ONE shuffle
    on query_id; at 100 TB the corpus never shuffles and the prefix
    variant reads 4x fewer vector bytes (the actual economics of the
    probe)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qe")
    )
    d = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__de"))
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot_dec(F.col("__qe"), F.col("__de")).alias("full_cosine"),
            dot_dec(
                F.slice(F.col("__qe"), 1, _MRL_PREFIX),
                F.slice(F.col("__de"), 1, _MRL_PREFIX),
            ).alias("prefix_cosine"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("full_cosine"), F.asc("neighbor_id")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("prefix_cosine"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "full_cosine",
        "prefix_cosine",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    full_t = ranked.where(F.col("rf") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("full_top1"),
        "full_cosine",
    )
    pref_t = ranked.where(F.col("rp") == 1).select(
        F.col("query_id").alias("qid2"),
        F.col("neighbor_id").alias("prefix_top1"),
        "prefix_cosine",
    )
    return full_t.join(pref_t, full_t["query_id"] == pref_t["qid2"]).select(
        "query_id",
        "full_top1",
        "full_cosine",
        "prefix_top1",
        "prefix_cosine",
        (F.col("full_top1") == F.col("prefix_top1"))
        .cast("long")
        .alias("top1_agree"),
    )


_PI_EXACT_ROUNDS = 10
_PI_SCALE = 10**6


def _power_iteration_exact_oracle() -> str:
    """Unrolled fixed-round integer power iteration (the
    graph_pagerank_exact unroll: plain WITH RECURSIVE cannot
    aggregate in the recursive term, and each round's tables are
    read twice, so everything is AS MATERIALIZED)."""
    S = _PI_SCALE
    parts = [
        f"WITH ev AS MATERIALIZED ({_SQL_EV}),",
        "xq AS MATERIALIZED (SELECT vec_id, i AS pos,"
        " CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q FROM ev),",
        f"v0 AS MATERIALIZED (SELECT DISTINCT i AS pos,"
        f" CAST({S} AS HUGEINT) AS val FROM ev),",
    ]
    for r in range(_PI_EXACT_ROUNDS):
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT x.vec_id, SUM(CAST(x.q AS HUGEINT) * v.val) AS p
  FROM xq x JOIN v{r} v ON v.pos = x.pos GROUP BY x.vec_id
),
u{r} AS MATERIALIZED (
  SELECT x.pos, SUM(CAST(x.q AS HUGEINT) * p.p) AS u
  FROM xq x JOIN p{r} p ON p.vec_id = x.vec_id GROUP BY x.pos
),
v{r + 1} AS MATERIALIZED (
  SELECT pos,
         (u * {S}) // GREATEST((SELECT MAX(ABS(u)) FROM u{r}), 1) AS val
  FROM u{r}
),"""
        )
    R = _PI_EXACT_ROUNDS
    parts.append(
        f"fin AS (SELECT 1)\n"
        f"SELECT pos, CAST(val AS BIGINT) AS component_scaled,\n"
        f"  CAST((SELECT MAX(ABS(a.val - b.val)) FROM v{R} a"
        f" JOIN v{R - 1} b ON b.pos = a.pos) AS BIGINT)"
        f" AS residual_scaled\n"
        f" FROM v{R}"
    )
    return "\n".join(parts)


@query(
    "vec_power_iteration_exact",
    oracle=_power_iteration_exact_oracle(),
    category="similarity",
)
def vec_power_iteration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration promoted to ORACLE-EXACT — the fixed-point
    integer certification applied to the Gram-matrix eigenvector
    kernel: embeddings are quantized once onto the proven 1e-6 grid
    (round(v*1e6), the grid every certified dot product here uses),
    the iterate is an int64-scaled 64-vector (scale 1e6), each round
    computes p_i = <x_i, v> in int64 (|p| <= 64 * 1e6 * 1e6 <
    2^53), accumulates u = X^T p in DECIMAL(38,0)/HUGEINT, and
    max-normalizes with a truncating integer division that both
    engines share — so 10 rounds later the component vector is
    bit-identical across engines.  Max-normalization (not the float
    twin's L2) is what keeps the lattice sqrt-free; the float ⊘ twin
    vec_power_iteration (NumPy 1e-6 directional agreement) remains
    the reference kernel, this twin certifies the matvec round
    STRUCTURE.  Overflow headroom: |u| <= n * 1e6 * 6.4e13, so the
    *1e6 rescale stays inside 38 digits until n ~ 1e18 rows.

    Execution shape (r13 optimization): the 10 rounds share one
    algebraic identity — u = X^T (X v) = (X^T X) v — and X^T X (the
    exact 64x64 integer Gram matrix G) does not depend on the
    iterate, so the whole chain needs exactly ONE pass over the
    data (the r12 era ran 11 full scans at 9.0-11.5 s): quantization
    to the 1e-6 grid stays in JVM codegen (F.round = HALF_UP — numpy
    rounds half-to-even, so rounding must not cross the boundary),
    then one mapInArrow stage computes per-task partial Grams as a
    NumPy int64 GEMM per Arrow batch (batch rows <= 10k so
    |batch G_jk| <= 1e16 never overflows int64) accumulated across
    batches in arbitrary-precision Python ints, emitted as 64x64
    long-format rows (pos_j, pos_k, g DECIMAL(38,0)) and summed by
    ONE tiny 4096-key aggregate — exactness at any n, same
    DECIMAL(38,0) headroom as the unrolled form.  The 10
    max-normalized rounds run as exact integer matvecs over the
    collected G (the bounded O(d^2) scalar read that replaces the 10
    per-round 64-scalar collects), and the graded output re-derives
    the final round ENGINE-SIDE from the distributed Gram sums:
    u_j = SUM_k G_jk * v_k with the round-9 iterate as a literal
    array — integer arithmetic commutes, so every value is
    bit-identical to the row-wise X^T(Xv) it replaces.  Rows scale
    freely at 100 TB — ONE data-proportional stage, and the GEMM is
    vectorized native code instead of 11 rounds of 64-term codegen
    dots (the guide-§4.2 shape)."""
    S = _PI_SCALE
    d = 64
    # selectExpr with pre-built strings: ONE py4j call + one parse
    # instead of ~320 Column-API round-trips (measured 0.6 s/run of
    # pure driver overhead); SQL round() is the same HALF_UP F.round.
    xs = table(spark, sf_dir, "embeddings").selectExpr(
        *[
            f"CAST(round(CAST(element_at(embedding, {j}) AS DOUBLE)"
            f" * 1000000) AS BIGINT) AS x{j}"
            for j in range(1, d + 1)
        ]
    )

    def _partial_gram(batches):
        import decimal

        import numpy as np
        import pyarrow as pa

        acc = None
        for b in batches:
            x = np.column_stack(
                [b.column(i).to_numpy(zero_copy_only=False) for i in range(d)]
            ).astype(np.int64)
            g = x.T @ x  # |entry| <= 10k rows * 1e12 < 2^63
            acc = g.astype(object) if acc is None else acc + g.astype(object)
        if acc is None:
            return
        js, ks, vals = [], [], []
        for j in range(d):
            for k in range(d):
                js.append(j + 1)
                ks.append(k + 1)
                vals.append(decimal.Decimal(int(acc[j, k])))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(js, type=pa.int32()),
                pa.array(ks, type=pa.int32()),
                pa.array(vals, type=pa.decimal128(38, 0)),
            ],
            names=["pos_j", "pos_k", "g"],
        )

    gsum = (
        xs.mapInArrow(
            _partial_gram, "pos_j int, pos_k int, g decimal(38,0)"
        )
        .groupBy("pos_j", "pos_k")
        .agg(F.sum("g").alias("g"))
        .localCheckpoint(eager=True)
    )
    G = [[0] * (d + 1) for _ in range(d + 1)]
    for r in gsum.collect():
        G[r["pos_j"]][r["pos_k"]] = int(r["g"])

    def _tdiv(a: int, b: int) -> int:
        # SQL DIV truncates toward zero; Python // floors
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    v = [S] * d
    v_prev = list(v)
    for _ in range(_PI_EXACT_ROUNDS):
        v_prev = list(v)
        u = [
            sum(G[j][k + 1] * v_prev[k] for k in range(d))
            for j in range(1, d + 1)
        ]
        # max(..., 1): all-zero embeddings would give m=0 (divide by
        # zero); the guard maps the degenerate case to the zero vector
        # identically in the driver fold, the engine projection, and
        # the oracle twin.  Unreachable on the fixture.
        m = max(max(abs(x) for x in u), 1)
        v = [_tdiv(x * S, m) for x in u]
    # the graded output re-derives the final round ENGINE-SIDE from
    # the distributed Gram sums (same integers the driver fold saw)
    varr = F.expr(
        "array("
        + ", ".join(f"CAST({int(c)} AS DECIMAL(38,0))" for c in v_prev)
        + ")"
    )
    ud = gsum.groupBy(F.col("pos_j").alias("pos")).agg(
        F.sum(F.col("g") * F.element_at(varr, F.col("pos_k"))).alias("u")
    )
    mrow = ud.agg(
        F.greatest(
            F.max(F.abs(F.col("u"))), F.lit(1).cast("decimal(38,0)")
        ).alias("m")
    )
    out = ud.crossJoin(F.broadcast(mrow)).select(
        "pos",
        F.expr(f"CAST(u * {S} DIV m AS BIGINT)").alias("component_scaled"),
    )
    # convergence certificate: max lattice movement of the iterate in
    # the final round (both engines compute it over the identical
    # integer trajectory — the driver-side fold here IS the
    # distributed result, already collected as the next-round
    # literals).  Nonzero = the fixed 10 rounds certify the matvec
    # round structure but have not yet fixpointed — graded, visible.
    residual = max(abs(a - b) for a, b in zip(v, v_prev))
    return out.select(
        "pos",
        "component_scaled",
        F.lit(int(residual)).cast("long").alias("residual_scaled"),
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
scores AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         CAST(MIN(d.label) AS BIGINT) AS neighbor_label,
         {_sql_dot('q', 'd')} AS cosine
  FROM ev q JOIN ev d
    ON d.i = q.i AND q.vec_id < 8
   AND d.vec_id <> q.vec_id AND d.label <> q.label
  GROUP BY q.vec_id, d.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, neighbor_label, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM scores
)
SELECT query_id, neighbor_id, neighbor_label, cosine, rank
FROM ranked WHERE rank <= 3
""",
    category="similarity",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training — the
    data-generation step behind every contrastive fine-tune: for
    each query vector, the top-3 MOST similar corpus vectors with a
    DIFFERENT label (same-label rows are positives and excluded;
    nearest other-label items are the negatives that actually move
    the loss).  Scoring is the module's exact 1e-6-quantized dot
    product, ranking is deterministic (cosine DESC, neighbor_id).
    Scale shape: the bounded query set broadcasts against the corpus
    (the sim_knn_brute contract — the corpus is never shuffled by
    the scoring), and the per-query top-3 cut is the
    WindowGroupLimit rank pattern."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("__qe"),
    )
    d = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("neighbor_label"),
        F.col("embedding").alias("__de"),
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            api.cosine(F.col("__qe"), F.col("__de")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


@query(
    "sim_centroid_pairs",
    oracle=f"""
WITH ev AS ({_SQL_EV}),
xq AS (
  SELECT vec_id, label, i AS pos,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM ev
),
cs AS (
  SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM xq GROUP BY label, pos
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         MAX(a.n) AS n_a, MAX(b.n) AS n_b,
         SUM(CAST(a.s * b.n - b.s * a.n AS HUGEINT)
             * (a.s * b.n - b.s * a.n)) AS num
  FROM cs a JOIN cs b ON b.pos = a.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       sqrt(CAST(CAST(num AS VARCHAR) AS DOUBLE))
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 1000000.0
         AS centroid_distance
FROM pairs
""",
    category="similarity",
)
def sim_centroid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-centroid distances between the label clusters —
    the cluster-separation matrix read next to vec_centroid (which
    gives the centroids) and vec_kmeans_lloyd (which finds them):
    per-label integer component sums on the proven 1e-6 lattice, the
    centroid DIFFERENCE at common-denominator scale
    (S_a*n_b - S_b*n_a, exact int64), its squared 64-dim sum in
    HUGEINT/DECIMAL(38,0), and ONE sqrt + two divisions after the
    VARCHAR double crossing.  45 label pairs x 64 dims — the pair
    join is domain-bounded however many vectors arrive; the corpus
    contributes one (label, pos) hash-agg."""
    e = table(spark, sf_dir, "embeddings")
    xq = e.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
            )
        ).alias("pos0", "q"),
    )
    cs = xq.groupBy("label", F.col("pos0").alias("pos")).agg(
        F.sum("q").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cs.select(
        F.col("label").alias("label_a"),
        F.col("pos").alias("pos_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a0"),
    )
    b = cs.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b0"),
    )
    diff = F.col("s_a") * F.col("n_b0") - F.col("s_b") * F.col("n_a0")
    pairs = (
        a.join(
            b,
            (F.col("pos_b") == F.col("pos_a"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a0").alias("n_a"),
            F.max("n_b0").alias("n_b"),
            F.sum(diff.cast("decimal(38,0)") * diff).alias("num"),
        )
    )
    return pairs.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            F.sqrt(F.col("num").cast("string").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            / 1_000_000.0
        ).alias("centroid_distance"),
    )


# ------------------------------------------------------------------ #
# r10 wave 2: compressed-index read paths — binary quantization with
# Hamming ANN, and two-level residual quantization
# ------------------------------------------------------------------ #

_BQ_NQ = 8  # bounded probe set
_BQ_K = 3

_BQ_PACK_DUCK = """
  SELECT vec_id,
         CAST(list_sum(list_transform(generate_series(1, 32),
           i -> CASE WHEN CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                          AS BIGINT) > 0
                     THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))
           AS BIGINT) AS w0,
         CAST(list_sum(list_transform(generate_series(33, 64),
           i -> CASE WHEN CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                          AS BIGINT) > 0
                     THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END))
           AS BIGINT) AS w1
  FROM embeddings
"""


@query(
    "vec_bq_hamming",
    oracle=f"""
WITH packed AS ({_BQ_PACK_DUCK}),
pairs AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w0, d.w0)) + bit_count(xor(q.w1, d.w1))
           AS BIGINT) AS hamming
  FROM packed q JOIN packed d ON d.vec_id <> q.vec_id
  WHERE q.vec_id < {_BQ_NQ}
),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY hamming, neighbor_id)
           AS BIGINT) AS rnk
  FROM pairs
)
SELECT query_id, rnk, neighbor_id, hamming
FROM ranked WHERE rnk <= {_BQ_K}
""",
    category="similarity",
)
def vec_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN read path — the 32x-compression tier
    below int8 (vec_quantize_int8) and PQ (sim_pq_adc): each 64-dim
    vector collapses to its SIGN BITS packed into two int64 words
    (bits 0..31 and 32..63 — one word would need bit 63 and overflow
    both engines' signed BIGINT), and nearest-neighbor search becomes
    bit_count(xor) Hamming distance — the popcount trick every
    binary-embedding index (faiss IndexBinaryFlat) runs.  Both the
    packing (shiftleft folds on the 1e-6 sign grid) and the distance
    are exact integers; top-3 per probe via one bounded window.

    Execution shape: packing is a zero-shuffle scan-speed map; the
    8-row probe set broadcasts against the packed corpus (corpus
    scanned once, never reshuffled — the sim_hard_negatives
    discipline); the rank window partitions by query over <= corpus
    rows per probe.  At 100 TB the packed corpus is 16 bytes/vector —
    the index that actually fits in RAM."""
    e = table(spark, sf_dir, "embeddings")

    def word(lo: int, hi: int) -> Column:
        return F.expr(
            f"aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), (acc, i) ->"
            " acc + IF(CAST(round(CAST(element_at(embedding, i) AS DOUBLE)"
            " * 1000000) AS BIGINT) > 0,"
            f" shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT)))"
        )

    packed = e.select(
        "vec_id", word(1, 32).alias("w0"), word(33, 64).alias("w1")
    )
    q = packed.where(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    pairs = packed.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
            + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
        )
        .cast("long")
        .alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _BQ_K)
        .select("query_id", "rnk", "neighbor_id", "hamming")
    )


def _rq_oracle() -> str:
    """Two-level residual quantization against in-data codebooks
    (level 1 = vectors 0..3 on the 1e-6 grid; level 2 = vectors 4..7
    floor-divided by 4 to residual scale)."""
    return """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
c1 AS (SELECT vec_id AS code1, qv AS cv FROM q WHERE vec_id < 4),
c2 AS (
  SELECT vec_id - 4 AS code2,
         list_transform(qv, x -> CAST(floor(x / 4.0) AS BIGINT)) AS cv
  FROM q WHERE vec_id >= 4 AND vec_id < 8
),
d1 AS (
  SELECT q.vec_id, c1.code1,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> (q.qv[i] - c1.cv[i]) * (q.qv[i] - c1.cv[i])))
           AS BIGINT) AS dist1,
         list_transform(generate_series(1, 64),
           i -> q.qv[i] - c1.cv[i]) AS resid,
         CAST(list_sum(list_transform(q.qv, x -> x * x)) AS BIGINT) AS err0
  FROM q CROSS JOIN c1
),
b1 AS (
  SELECT * FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist1, code1) = 1
),
d2 AS (
  SELECT b1.vec_id, b1.code1, b1.dist1 AS err1, b1.err0, c2.code2,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> (b1.resid[i] - c2.cv[i]) * (b1.resid[i] - c2.cv[i])))
           AS BIGINT) AS dist2
  FROM b1 CROSS JOIN c2
)
SELECT vec_id, CAST(code1 AS BIGINT) AS code1, err1,
       CAST(code2 AS BIGINT) AS code2, dist2 AS err2, err0
FROM d2
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, code2) = 1
"""


@query("vec_rq_encode", oracle=_rq_oracle(), category="similarity")
def vec_rq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level RESIDUAL quantization encode (Chen et al.;
    faiss ResidualQuantizer) — the additive-codebook alternative to
    PQ's subspace split (vec_pq_encode): level 1 picks the nearest
    of 4 coarse codewords by exact integer L2^2 on the 1e-6 grid,
    level 2 encodes the RESIDUAL against a second 4-word codebook,
    and the emitted (code1, code2, err0/err1/err2) ledger exposes the
    variance each level removes.  Codebooks are IN-DATA (vectors 0..3
    raw; vectors 4..7 floor-div 4 to residual scale — the pmod floor
    trick, Spark == DuckDB //), so the whole construction is
    cross-engine reproducible with no fitted state.  Both argmins
    are deterministic (dist, code) windows.

    Execution: two broadcast joins against 4-row codebooks + two
    bounded windows keyed by vec_id — the corpus is scanned once;
    at 100 TB real codebooks ride as literals (the sim_ivf_probe /
    vec_pq_encode pattern) and the argmin is the same map."""
    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * 1_000_000).cast("long"),
        ).alias("qv"),
    )
    c1 = q.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("code1"), F.col("qv").alias("cv1")
    )
    c2 = q.where((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)).select(
        (F.col("vec_id") - 4).alias("code2"),
        F.transform(
            F.col("qv"), lambda x: ((x - F.pmod(x, 4)) / 4).cast("long")
        ).alias("cv2"),
    )
    sq_l2 = lambda a, b: F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )
    d1 = q.crossJoin(F.broadcast(c1)).select(
        "vec_id",
        "code1",
        sq_l2("qv", "cv1").alias("dist1"),
        F.zip_with("qv", "cv1", lambda x, y: x - y).alias("resid"),
        F.expr(
            "aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("err0"),
    )
    w1 = Window.partitionBy("vec_id").orderBy("dist1", "code1")
    b1 = (
        d1.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    d2 = b1.crossJoin(F.broadcast(c2)).select(
        "vec_id",
        F.col("code1").cast("long").alias("code1"),
        F.col("dist1").alias("err1"),
        "err0",
        F.col("code2").cast("long").alias("code2"),
        sq_l2("resid", "cv2").alias("dist2"),
    )
    w2 = Window.partitionBy("vec_id").orderBy("dist2", "code2")
    return (
        d2.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("vec_id", "code1", "err1", "code2",
                F.col("dist2").alias("err2"), "err0")
    )
