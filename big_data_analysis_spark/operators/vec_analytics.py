"""Exact vector-analytics kernels (split out of the r9-era
screening.py catch-all per VERDICT r10 item 6): Walsh-Hadamard
transform over the int64 embedding lattice, DBSCAN point-role
classification, and silhouette scores — all on the quantized
(round(v*1e6) -> int64) embedding columns so every distance and
threshold decision is exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import lifecycle
from ..io import table
from ..registry import query


_WHT_D = 16  # transform size (first 16 embedding dims)


def _wht_signs() -> list:
    return [
        [(-1) ** bin(i & j).count("1") for i in range(_WHT_D)]
        for j in range(_WHT_D)
    ]


@query(
    "vec_hadamard_transform",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(range(1, {_WHT_D + 1}),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                     AS BIGINT)) AS xq
  FROM embeddings WHERE vec_id < 64
)
SELECT vec_id, CAST(g.j AS BIGINT) AS component,
       CAST(CASE {" ".join(
         f"WHEN g.j = {j} THEN ("
         + " + ".join(f"({s}) * xq[{i + 1}]" for i, s in enumerate(signs))
         + ")"
         for j, signs in enumerate(_wht_signs()))}
       END AS BIGINT) AS coef
FROM q, LATERAL (SELECT unnest(generate_series(0, {_WHT_D - 1})) AS j) g
""",
    category="similarity",
)
def vec_hadamard_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walsh-Hadamard transform (H_16) of the leading 16 embedding
    dimensions — the +-1 orthogonal transform fast-JL projections and
    LSH preconditioners apply before sampling (rotating the energy so
    no single coordinate dominates): y_j = sum_i (-1)^popcount(i&j)
    x_i over the 1e-6-quantized lattice, EXACT int64 throughout (the
    only weights are +-1). The sign matrix is generated once in
    Python and embedded as literals in both engines' expressions —
    16 components x 16 terms of pure add/subtract, the rp_project
    sign-literal discipline. Tests certify Parseval (sum y^2 = 16 *
    sum x^2, exact integers) and the involution H(Hx) = 16x. Scale:
    map-only, zero shuffle beyond the final posexplode projection."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 64)
    q = e.select(
        "vec_id",
        F.expr(
            f"transform(sequence(1, {_WHT_D}),"
            " i -> CAST(round(CAST(element_at(embedding, i) AS DOUBLE)"
            " * 1000000) AS BIGINT))"
        ).alias("xq"),
    )
    comps = []
    for j, signs in enumerate(_wht_signs()):
        expr = " + ".join(
            f"({s}) * element_at(xq, {i + 1})" for i, s in enumerate(signs)
        )
        comps.append(f"CAST(({expr}) AS BIGINT)")
    return q.select(
        "vec_id",
        F.posexplode(F.expr("array(" + ", ".join(comps) + ")")).alias(
            "component", "coef"
        ),
    ).select("vec_id", F.col("component").cast("long").alias("component"), "coef")

_DBSCAN_N = 96
_DBSCAN_EPS2 = 1_600_000_000_000  # squared lattice distance threshold
_DBSCAN_MINPTS = 6  # neighborhood size incl. the point itself

_QDIST_SQL = " + ".join(
    f"CAST(a.xq[{k}] - b.xq[{k}] AS HUGEINT) * (a.xq[{k}] - b.xq[{k}])"
    for k in range(1, 65)
)
_QUANT_SQL = (
    "list_transform(range(1, 65),"
    " i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))"
)


@query(
    "vec_dbscan_core",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT_SQL} AS xq
  FROM embeddings WHERE vec_id < {_DBSCAN_N}
),
nbr AS (
  SELECT a.vec_id,
         CAST(1 + SUM(CASE WHEN a.vec_id <> b.vec_id
                       AND {_QDIST_SQL} <= {_DBSCAN_EPS2}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_nbrs
  FROM q a CROSS JOIN q b
  GROUP BY a.vec_id
),
core AS (SELECT vec_id, n_nbrs, n_nbrs >= {_DBSCAN_MINPTS} AS is_core
         FROM nbr),
border AS (
  SELECT a.vec_id,
         CAST(MAX(CASE WHEN c.is_core AND a.vec_id <> b.vec_id
                        AND {_QDIST_SQL} <= {_DBSCAN_EPS2}
                       THEN 1 ELSE 0 END) AS BIGINT) AS near_core
  FROM q a CROSS JOIN q b JOIN core c ON c.vec_id = b.vec_id
  GROUP BY a.vec_id
)
SELECT core.vec_id, core.n_nbrs, core.is_core,
       CASE WHEN core.is_core THEN 'core'
            WHEN border.near_core = 1 THEN 'border'
            ELSE 'noise' END AS role
FROM core JOIN border ON border.vec_id = core.vec_id
""",
    category="similarity",
)
def vec_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification (eps^2 = 1.6e12 on the 1e-6
    lattice, minPts = 6 incl. self) — the density-based clustering
    primitive: CORE points have a dense eps-neighborhood, BORDER
    points are within eps of a core, everything else is NOISE. Both
    the neighborhood counts and the near-core test are exact integer
    comparisons of HUGEINT/DECIMAL squared lattice distances — no
    float enters the classification (once roles are fixed, the
    cluster extraction is exactly dedup_cluster_cc's min-label
    propagation over the core-core adjacency, already certified).
    Scale: the demo classifies a bounded 96-vector subset via direct
    pair joins; at corpus scale the neighborhood queries run through
    the LSH/IVF bucketing tier (sim_index_probe) — the pair join here
    is the semantics oracle, not the production plan."""
    e = table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _DBSCAN_N
    )
    q = lifecycle.checkpoint(
        e.select(
            "vec_id",
            F.expr(
                f"transform(sequence(1, 64),"
                " i -> CAST(round(CAST(element_at(embedding, i) AS DOUBLE)"
                " * 1000000) AS BIGINT))"
            ).alias("xq"),
        )
    )
    a = q.select(F.col("vec_id").alias("ia"), F.col("xq").alias("qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("xq").alias("qb"))
    # r13 (guide §1.2/§2.3): BIGINT distance — the 1e-6 lattice bounds
    # each diff^2 at 4e12 and the 64-term sum below 2^48 (the module's
    # documented quantization bound), so the old per-term DECIMAL(38)
    # arithmetic paid ~10x per multiply for headroom that can never be
    # used; the comparison is the identical boolean.  The pair table
    # (96 x 96 rows) is localCheckpoint'ed because BOTH the
    # neighborhood count and the near-core test consume it — the r12
    # plan re-ran the cross join + distance twice.
    dist = " + ".join(
        f"(element_at(qa, {k}) - element_at(qb, {k}))"
        f" * (element_at(qa, {k}) - element_at(qb, {k}))"
        for k in range(1, 65)
    )
    pairs = lifecycle.checkpoint(
        a.crossJoin(b)
        .select(
            "ia",
            "ib",
            (F.expr(dist) <= _DBSCAN_EPS2).alias("near"),
        )
    )
    nbr = pairs.groupBy("ia").agg(
        (
            1
            + F.sum(
                F.when((F.col("ia") != F.col("ib")) & F.col("near"), 1).otherwise(
                    0
                )
            )
        )
        .cast("long")
        .alias("n_nbrs")
    )
    core = nbr.select(
        F.col("ia").alias("vec_id"),
        "n_nbrs",
        (F.col("n_nbrs") >= _DBSCAN_MINPTS).alias("is_core"),
    )
    core_ids = core.select(
        F.col("vec_id").alias("ib"), F.col("is_core").alias("core_b")
    )
    border = (
        pairs.join(F.broadcast(core_ids), "ib")
        .groupBy("ia")
        .agg(
            F.max(
                F.when(
                    F.col("core_b")
                    & F.col("near")
                    & (F.col("ia") != F.col("ib")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("near_core")
        )
        .select(F.col("ia").alias("vec_id"), "near_core")
    )
    j = core.join(border, "vec_id")
    return j.select(
        "vec_id",
        "n_nbrs",
        "is_core",
        F.when(F.col("is_core"), "core")
        .when(F.col("near_core") == 1, "border")
        .otherwise("noise")
        .alias("role"),
    )

_SIL_N = 128


@query(
    "vec_silhouette",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT_SQL} AS xq
  FROM embeddings WHERE vec_id < {_SIL_N}
),
pd AS (
  SELECT a.vec_id, a.label AS la, b.label AS lb,
         CAST(SUM({_QDIST_SQL}) AS HUGEINT) AS dsum,
         CAST(COUNT(*) AS BIGINT) AS dcnt
  FROM q a JOIN q b ON a.vec_id <> b.vec_id
  GROUP BY a.vec_id, a.label, b.label
),
aa AS (
  SELECT vec_id, la AS label,
         CAST(CAST(dsum AS VARCHAR) AS DOUBLE) / dcnt AS a_mean
  FROM pd WHERE la = lb
),
bb AS (
  SELECT vec_id, la AS label,
         MIN(CAST(CAST(dsum AS VARCHAR) AS DOUBLE) / dcnt) AS b_mean
  FROM pd WHERE la <> lb
  GROUP BY vec_id, la
)
SELECT aa.vec_id, aa.label, aa.a_mean, bb.b_mean,
       (bb.b_mean - aa.a_mean) / GREATEST(aa.a_mean, bb.b_mean)
         AS silhouette
FROM aa JOIN bb ON bb.vec_id = aa.vec_id
""",
    category="similarity",
)
def vec_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette coefficient per point (squared-Euclidean variant)
    over the label clustering of the embedding corpus — the cluster-
    quality diagnostic: a(i) = mean distance to own cluster, b(i) =
    the nearest other cluster's mean distance, s = (b - a) /
    max(a, b). Distance sums are exact HUGEINT/DECIMAL lattice
    integers; each mean is ONE double division (VARCHAR route) and
    identical in both engines, so the MIN over other labels and the
    final ratio are deterministic cross-engine. Scale: the demo runs
    a bounded 128-vector subset through the direct pair rollup
    (grouped on (point, other-label) — the pair mass collapses
    map-side); corpus-scale silhouette uses per-cluster centroids +
    counts (the vec_centroid machinery) as the standard
    approximation."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < _SIL_N)
    q = lifecycle.checkpoint(
        e.select(
            "vec_id",
            "label",
            F.expr(
                f"transform(sequence(1, 64),"
                " i -> CAST(round(CAST(element_at(embedding, i) AS DOUBLE)"
                " * 1000000) AS BIGINT))"
            ).alias("xq"),
        )
    )
    a = q.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("la"),
        F.col("xq").alias("qa"),
    )
    b = q.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("lb"),
        F.col("xq").alias("qb"),
    )
    # r13 (guide §1.2/§2.3): BIGINT distance (same documented lattice
    # bound as vec_dbscan_core: 64-term sum < 2^48, and the per-point
    # rollup of <=127 pairs stays < 2^56 — far from overflow), and
    # the (point, other-label) rollup is localCheckpoint'ed because
    # BOTH the own-cluster mean and the min-other-cluster mean
    # consume it — the r12 plan re-ran the pair join + distance
    # twice.  The VARCHAR->DOUBLE mean route is unchanged: a LONG and
    # a DECIMAL(38,0) holding the same integer print the same string.
    dist = " + ".join(
        f"(element_at(qa, {k}) - element_at(qb, {k}))"
        f" * (element_at(qa, {k}) - element_at(qb, {k}))"
        for k in range(1, 65)
    )
    pd_ = lifecycle.checkpoint(
        a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "la", "lb", F.expr(dist).alias("d2"))
        .groupBy("ia", "la", "lb")
        .agg(
            F.sum("d2").alias("dsum"),
            F.count(F.lit(1)).cast("long").alias("dcnt"),
        )
    )
    mean = F.col("dsum").cast("string").cast("double") / F.col("dcnt")
    aa = pd_.where(F.col("la") == F.col("lb")).select(
        F.col("ia").alias("vec_id"),
        F.col("la").alias("label"),
        mean.alias("a_mean"),
    )
    bb = (
        pd_.where(F.col("la") != F.col("lb"))
        .groupBy(F.col("ia").alias("vec_id"), F.col("la").alias("label"))
        .agg(F.min(mean).alias("b_mean"))
    )
    j = aa.join(bb, ["vec_id", "label"])
    return j.select(
        "vec_id",
        "label",
        "a_mean",
        "b_mean",
        (
            (F.col("b_mean") - F.col("a_mean"))
            / F.greatest(F.col("a_mean"), F.col("b_mean"))
        ).alias("silhouette"),
    )

# --- vec_kmeans_lloyd (moved r14 from operators/similarity.py to keep
# --- that module under the 2,100-line cap; registry name/category and
# --- behaviour unchanged) ---
from .. import api
from .similarity import _SQL_EV


_KM_K = 8
_KM_ROUNDS = 4


def _kmeans_oracle() -> str:
    """Unrolled fixed-round Lloyd iteration mirroring
    api.kmeans_lloyd exactly: 1e-6-quantized vectors, argmin of
    int64 squared distance with ties to the LOWest centroid index
    (array_position's first-match semantics = MIN(cl) over the
    minimal distance), centroid update as component-wise FLOOR
    division (Spark does it in driver-side Python where // floors;
    DuckDB // truncates, so the negative branch gets the explicit
    mirrored ceiling), empty clusters keep their previous centroid
    (LEFT JOIN + COALESCE). Multiply-read tables AS MATERIALIZED
    (the graph_pagerank_exact lesson)."""
    k, rounds = _KM_K, _KM_ROUNDS
    fd = (
        "CASE WHEN s.s >= 0 THEN s.s // s.n"
        " ELSE -((-s.s + s.n - 1) // s.n) END"
    )
    parts = [
        f"WITH ev AS MATERIALIZED ({_SQL_EV}),",
        "xq AS MATERIALIZED (SELECT vec_id, i AS pos,"
        " CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q FROM ev),",
        f"seed AS MATERIALIZED (SELECT vec_id,"
        f" ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl"
        f" FROM (SELECT DISTINCT vec_id FROM ev ORDER BY vec_id LIMIT {k}) s),",
        "c0 AS MATERIALIZED (SELECT seed.cl, x.pos, x.q AS val"
        " FROM seed JOIN xq x ON x.vec_id = seed.vec_id),",
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT v.vec_id, c.cl,
         SUM((v.q - c.val) * (v.q - c.val)) AS dist
  FROM xq v JOIN c{r} c ON c.pos = v.pos GROUP BY v.vec_id, c.cl
),
m{r} AS (SELECT vec_id, MIN(dist) AS dmin FROM d{r} GROUP BY vec_id),
a{r} AS MATERIALIZED (
  SELECT d.vec_id, MIN(d.cl) AS cl
  FROM d{r} d JOIN m{r} m ON m.vec_id = d.vec_id AND d.dist = m.dmin
  GROUP BY d.vec_id
),
s{r} AS MATERIALIZED (
  SELECT a.cl, v.pos, CAST(SUM(v.q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM a{r} a JOIN xq v ON v.vec_id = a.vec_id GROUP BY a.cl, v.pos
),
c{r + 1} AS MATERIALIZED (
  SELECT c.cl, c.pos, CAST(COALESCE({fd}, c.val) AS BIGINT) AS val
  FROM c{r} c LEFT JOIN s{r} s ON s.cl = c.cl AND s.pos = c.pos
),"""
        )
    R = rounds
    parts.append(
        f"""df AS MATERIALIZED (
  SELECT v.vec_id, c.cl,
         SUM((v.q - c.val) * (v.q - c.val)) AS dist
  FROM xq v JOIN c{R} c ON c.pos = v.pos GROUP BY v.vec_id, c.cl
),
mf AS (SELECT vec_id, MIN(dist) AS dmin FROM df GROUP BY vec_id),
af AS MATERIALIZED (
  SELECT d.vec_id, MIN(d.cl) AS cl, MIN(m.dmin) AS dmin
  FROM df d JOIN mf m ON m.vec_id = d.vec_id AND d.dist = m.dmin
  GROUP BY d.vec_id
),
cn AS (SELECT cl, CAST(SUM(val * val) AS BIGINT) AS l2 FROM c{R} GROUP BY cl)
SELECT CAST(af.cl AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(af.dmin) AS BIGINT) AS inertia,
       CAST(MIN(af.vec_id) AS BIGINT) AS min_member,
       CAST(MIN(cn.l2) AS BIGINT) AS centroid_l2q,
       CAST((SELECT COUNT(*) FROM af x JOIN a{R - 1} y
             ON y.vec_id = x.vec_id WHERE x.cl <> y.cl) AS BIGINT)
         AS n_reassigned_last_round
FROM af JOIN cn ON cn.cl = af.cl
GROUP BY af.cl"""
    )
    return "\n".join(parts)


@query("vec_kmeans_lloyd", oracle=_kmeans_oracle(), category="similarity")
def vec_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means (Lloyd's algorithm), the
    clustering stage a curation pipeline runs to stratify an
    embedding corpus before sampling: k=8, init = the first k
    vectors by id, 4 synchronous rounds.  EVERY quantity is exact
    int64 — vectors are 1e-6-quantized once, assignment is argmin of
    integer squared distance (ties to the lower centroid id), and
    the centroid update collects per-cluster integer component SUMS
    (k*d bounded scalars, the only driver traffic) and floor-divides
    on the driver — so the fixpoint trajectory is bit-identical
    under any partitioning or row order, which float k-means never
    is.  Per round: one broadcast-literal argmin map over the corpus
    + one (cluster, dim)-keyed partial-agg shuffle of k*d keys.
    PROMOTED r8 from ⊘ to ORACLE-EXACT: the very property that made
    it ⊘-certifiable (a bit-exact integer trajectory) makes it
    unrollable as fixed-round MATERIALIZED CTEs — the
    graph_pagerank_exact trick — so the driver now hash-grades it
    against DuckDB; the NumPy trajectory-equality test
    (tests/test_quality.py) stays as the definition check.  Thin
    adapter over the public api.kmeans_lloyd kernel.

    r14: the unverified r13 spread_table edit here A/B-measured a
    LOSS (4.78 s with vs 4.46 s without, isolated 32c) — the kernel
    persists its quantized corpus, so the repartition only added a
    shuffle — reverted."""
    e = table(spark, sf_dir, "embeddings")
    out = api.kmeans_lloyd(
        e, "vec_id", "embedding", k=_KM_K, rounds=_KM_ROUNDS,
        certificate=True,
    )
    return out.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("inertia").cast("long").alias("inertia"),
        F.col("min_member").cast("long").alias("min_member"),
        F.col("centroid_l2q").cast("long").alias("centroid_l2q"),
        F.col("n_reassigned_last_round").cast("long").alias(
            "n_reassigned_last_round"
        ),
    )
