"""Iterative graph algorithms as DataFrame joins (SURVEY.md §2 —
"iterative algorithms", the non-SQL-expressible tier): PageRank,
HITS, k-core, connected components, shortest paths and BFS
centralities.  Every round loop runs through fixpoint.fixpoint
(join + groupBy per round, one eager localCheckpoint per round whose
jobs also report the round's change count; HITS checkpoints each
half-step too, whose jobs report its max-normalizer).

At 100 TB the per-iteration cost is one join of the round's state
with the loop-invariant edge table plus one group-by, GraphX/Pregel's
superstep on the DataFrame runtime.  Each kernel builds its edge
table once before the loop as a checkpoint, whose partitions AQE
sizes (``api.pagerank`` still persists its own); each round shuffles
it on its join key or broadcasts the smaller side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from ..api_graph import (
    _degrees,
    _min_label_step,
    _n_flagged,
    _nodes,
    _peel_step,
    _with_certificate,
)
from ..fixpoint import fixpoint, observed_checkpoint
from .. import lifecycle
from ..io import table
from ..registry import query

_DAMPING = 0.85
_ITERS = 15
# Early-exit threshold on max |rank' - rank|: converged-to-1e-12
# iterates differ from the _ITERS-step fixed point by at most
# damping * tol / (1 - damping) ~ 6e-12, far inside the 1e-9
# NumPy-agreement contract.
_TOL = 1e-12


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 100-node digraph derived from lineitem:
    (orderkey%100) -> (partkey%100), distinct, self-loops dropped."""
    li = table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            (F.col("l_orderkey") % 100).alias("src"),
            (F.col("l_partkey") % 100).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return e


@query("graph_pagerank", oracle=None, category="graph")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 15 damped power iterations over a deterministic
    lineitem-derived digraph. Dangling-node mass is redistributed
    uniformly each round (the standard stochastic-matrix fix), so
    ranks sum to 1 every iteration.

    Rows-only: per-iteration double arithmetic is order-sensitive
    across engines; tests/test_quality.py re-runs the identical
    iteration in NumPy on the collected edge list and asserts 1e-9
    agreement plus rank-sum==1 and determinism across runs.

    Per round (api.pagerank, run through fixpoint): a broadcast
    degree join -> edge join (one shuffle on src) -> groupBy dst,
    with the dangling mass folded in as a 1-row broadcast
    crossJoin."""
    return api.pagerank(
        spark, _edges(spark, sf_dir), iters=_ITERS, damping=_DAMPING, tol=_TOL
    ).select("node", "rank")


_PR_SCALE = 10**12  # fixed-point rank scale (1.0 == 1e12)
_PR_EXACT_ITERS = 15

_PR_EDGE_SQL = """
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
"""


def _pagerank_exact_oracle() -> str:
    """Unrolled fixed-point PageRank as chained CTEs (DuckDB's plain
    WITH RECURSIVE forbids aggregation in the recursive term, so the
    fixed iteration count is unrolled mechanically instead). Every
    multiply-referenced CTE is AS MATERIALIZED — r{k} is referenced
    twice per round, so default inlining would expand the base scan
    2^15 times (observed live as an fd-exhaustion error)."""
    S = _PR_SCALE
    parts = [
        f"WITH e AS MATERIALIZED ({_PR_EDGE_SQL}),",
        "deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS d"
        "  FROM e GROUP BY src),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "meta AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),",
        f"r0 AS MATERIALIZED (SELECT node,"
        f" CAST({S} // (SELECT n FROM meta) AS BIGINT) AS pr FROM nodes),",
    ]
    for k in range(_PR_EXACT_ITERS):
        parts.append(
            f"""c{k} AS (
  SELECT e.dst AS node,
         CAST(SUM((85 * r.pr) // (100 * deg.d)) AS BIGINT) AS contrib
  FROM r{k} r JOIN deg ON deg.src = r.node JOIN e ON e.src = r.node
  GROUP BY e.dst
),
d{k} AS (
  SELECT CAST(COALESCE(SUM(r.pr), 0) AS BIGINT) AS dm
  FROM r{k} r LEFT JOIN deg ON deg.src = r.node
  WHERE deg.src IS NULL
),
r{k + 1} AS MATERIALIZED (
  SELECT n.node,
         CAST((15 * {S}) // (100 * (SELECT n FROM meta))
              + COALESCE(c.contrib, 0)
              + (85 * (SELECT dm FROM d{k})) // (100 * (SELECT n FROM meta))
           AS BIGINT) AS pr
  FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
),"""
        )
    parts.append(
        f"fin AS (SELECT 1)\n"
        f"SELECT node, pr AS rank_scaled FROM r{_PR_EXACT_ITERS}"
    )
    return "\n".join(parts)


@query("graph_pagerank_exact", oracle=_pagerank_exact_oracle(), category="graph")
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank promoted from rows-only to ORACLE-EXACT (VERDICT r7
    item 8) via fixed-point integer arithmetic: ranks are int64
    scaled by 1e12, every per-edge share and teleport/dangling term
    is an exact floor division (Spark `DIV` == DuckDB `//`), and the
    iteration count is FIXED at 15 (no float-threshold early exit),
    so both engines walk the identical integer lattice and the final
    vector is bit-for-bit comparable — the same certification trick
    that made graph_bfs_distance/graph_sssp_weighted exact. The
    float `graph_pagerank` (NumPy-verified, early-exit) remains the
    reference kernel; this twin certifies the ITERATION STRUCTURE
    (degree join → edge join → groupBy dst → teleport + dangling
    fold) against an independent engine. Floor losses only shrink
    the conserved mass (ranks sum to ≤ 1e12, short by < n per
    round), they never reorder it.

    Execution shape per round (as in api.pagerank): one broadcast
    degree join, one equi-join on src, one groupBy dst shuffle; n is a
    literal, the exact count of the checkpointed node table, and the
    dangling mass stays a 1-row broadcast crossJoin in the plan (a
    sum is not safe to observe).  The 15 rounds are a fixpoint budget
    (early exit once no rank moves; each round carries the previous
    rank to flag the rows that moved)."""
    S = _PR_SCALE
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nodes = lifecycle.checkpoint(_nodes(e))
    # exact, not observed: it feeds the arithmetic (1 spares an empty graph S DIV 0)
    n = max(nodes.count(), 1)
    r = nodes.select("node", F.lit(S // n).cast("long").alias("pr"))

    def step(r: DataFrame) -> DataFrame:
        rd = r.join(F.broadcast(deg), r["node"] == deg["src"]).select(
            "node", "pr", "d"
        )
        contrib = (
            rd.join(e, rd["node"] == e["src"])
            .select("dst", F.expr("(85 * pr) DIV (100 * d)").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").cast("long").alias("contrib"))
            .select(F.col("dst").alias("node"), "contrib")
        )
        dm = r.join(deg, r["node"] == deg["src"], "left_anti").agg(
            F.coalesce(F.sum("pr"), F.lit(0)).cast("long").alias("dm")
        )
        return (
            r.select("node", F.col("pr").alias("prev"))
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                F.expr(
                    f"CAST({15 * S // (100 * n)} AS BIGINT)"
                    " + coalesce(contrib, CAST(0 AS BIGINT))"
                    f" + (85 * dm) DIV CAST({100 * n} AS BIGINT)"
                )
                .cast("long")
                .alias("pr"),
                "prev",
            )
        )

    r, _, _, _ = fixpoint(
        "graph_pagerank_exact",
        r,
        step,
        max_rounds=_PR_EXACT_ITERS,
        changed=_n_flagged(F.col("pr") != F.col("prev")),
    )
    return r.select("node", F.col("pr").alias("rank_scaled"))


@query(
    "graph_triangle_count",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem
  WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (  -- undirected canonical edges a < b
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM u e1
JOIN u e2 ON e2.a = e1.b
JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
""",
    category="graph",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the canonicalized undirected graph: order
    every edge a<b, then the a<b<c wedge join counts each triangle
    exactly once — two equi-joins, fully SQL-expressible, so unlike
    PageRank this graph op is oracle-checked bit-exact.

    Scale: the standard trick is already in the shape — ordering
    edges by id makes each wedge generated once (no /6 dedup), and
    the join fans out on edge endpoints, so a degree cap / skew salt
    slots in exactly like dedup_ngram_jaccard's df-cap when a hub
    node appears."""
    e = _edges(spark, sf_dir)
    # the undirected edge table is BOUNDED (100-node demo graph,
    # <= 4950 rows) and read three times below — eager localCheckpoint
    # materializes it once without pinning a session-lifetime cache.
    u = lifecycle.checkpoint(
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    e1 = u.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = u.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = u.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y2") == F.col("y"))
        .join(e3, (F.col("x3") == F.col("x")) & (F.col("z3") == F.col("z")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = lifecycle.checkpoint(tri)
    lifecycle.free(u)
    return out


@query(
    "graph_degree_stats",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem
  WHERE l_orderkey % 100 <> l_partkey % 100
),
nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
),
outd AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
ind  AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY dst)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT MAX(d) FROM outd) AS max_out_degree,
       (SELECT MAX(d) FROM ind) AS max_in_degree,
       CAST((SELECT COUNT(*) FROM e) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM nodes) AS DOUBLE) AS avg_out_degree
""",
    category="graph",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the digraph — the first diagnostic before
    running any iterative graph algorithm (max degree predicts the
    skew a join-based PageRank/CC round will hit; avg degree sizes
    the per-round shuffle): node/edge counts, max in/out degree, and
    the exact-ratio mean out-degree. Three bounded aggregations over
    one edge table; the scalar assembly is a 1-row crossJoin chain,
    not a driver collect."""
    e = _edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst"))
    ).distinct()
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    max_out = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("max_out_degree"))
    )
    max_in = (
        e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("max_in_degree"))
    )
    return (
        n_nodes.crossJoin(n_edges).crossJoin(max_out).crossJoin(max_in)
        .select(
            "n_nodes",
            "n_edges",
            "max_out_degree",
            "max_in_degree",
            (
                F.col("n_edges").cast("double") / F.col("n_nodes").cast("double")
            ).alias("avg_out_degree"),
        )
    )


_BFS_MAX_HOPS = 6


def _bfs(name: str, e: DataFrame, roots: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS: (root, node, dist, frontier) for every node
    each root in ``roots`` (column ``node``) reaches within
    ``max_hops`` hops of the (src, dst) edges ``e``, all trees
    advancing together.  Each round equi-joins the newest pairs
    (``frontier``) to ``e`` on src and anti-joins the result against
    the visited set, which it reads in full anyway, so re-writing
    visited at each checkpoint keeps a round O(visited)."""

    def step(visited: DataFrame) -> DataFrame:
        frontier = visited.where("frontier")
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select("root", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .distinct()
            .join(visited.select("root", "node"), ["root", "node"], "left_anti")
        )
        return visited.withColumn("frontier", F.lit(False)).union(
            nxt.withColumn("frontier", F.lit(True))
        )

    visited = lifecycle.checkpoint(
        roots.select(
            F.col("node").alias("root"),
            "node",
            F.lit(0).alias("dist"),
            F.lit(True).alias("frontier"),
        )
    )
    visited, _, _, _ = fixpoint(
        name,
        visited,
        step,
        max_rounds=max_hops,
        changed=_n_flagged(F.col("frontier")),
    )
    return visited


@query(
    "graph_bfs_distance",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
bfs(node, dist) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < {_BFS_MAX_HOPS}
)
SELECT node, CAST(MIN(dist) AS INT) AS dist
FROM bfs GROUP BY node
""",
    category="graph",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest hop-distance (source: node 0, cap
    {_BFS_MAX_HOPS} hops) over the shared lineitem-derived digraph —
    the third iterative graph kernel, and the one with an EXACT
    oracle: hop distances are integers, so DuckDB's WITH RECURSIVE
    fixpoint must agree bit-for-bit (unlike the float-iterating
    PageRank, which is rows-only by necessity).

    Execution shape: _bfs from the one root; the hop cap bounds the
    rounds.  At 100 TB this is Pregel's BFS on the DataFrame
    runtime.  The edge table is a checkpoint built once before the
    loop; its distinct partitions it on (src, dst), not src, so each
    round's join shuffles it on src or broadcasts the smaller side."""
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    root = spark.range(0, 1, 1, 1).select(F.col("id").alias("node"))
    visited = _bfs("graph_bfs_distance", e, root, _BFS_MAX_HOPS)
    lifecycle.free(e)
    return visited.select("node", "dist")


_SSSP_CAP = 20  # grade distances <= CAP; expansion guard matches the oracle


@query(
    "graph_sssp_weighted",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst,
         1 + (l_orderkey % 100 * 7 + l_partkey % 100 * 13) % 5 AS w
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
sssp(node, cost) AS (
  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION
  SELECT e.dst, sssp.cost + e.w
  FROM sssp JOIN e ON e.src = sssp.node
  WHERE sssp.cost < {_SSSP_CAP}
)
SELECT node, CAST(MIN(cost) AS BIGINT) AS dist
FROM sssp GROUP BY node
HAVING MIN(cost) <= {_SSSP_CAP}
""",
    category="graph",
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths (Bellman-Ford rounds) —
    the weighted companion of graph_bfs_distance, with integer edge
    weights (1..5, derived from the endpoints) so the fixpoint is an
    EXACT integer and DuckDB's recursive CTE must agree bit-for-bit.
    Distances are graded up to cost {_SSSP_CAP}; every prefix of an
    optimal path is strictly cheaper, so the shared expansion guard
    (relax only from nodes with dist < {_SSSP_CAP}) loses nothing.

    Execution shape: per fixpoint round ONE frontier⋈edges equi-join
    on src and a min-aggregation merging candidates into the running
    distance table, until no distance is added or lowered.  Semi-naive
    (RaSQL): the frontier is the rows flagged ``__delta`` (added or
    lowered) in the round before, whose relaxation is the only one
    that can lower a distance, so every round's table equals
    full Bellman-Ford's.  Rounds are bounded by the weight cap (every
    optimal path has ≤ {_SSSP_CAP} edges since weights ≥ 1).  The
    Pregel SSSP shape on the DataFrame runtime.  The edge table is a
    checkpoint built once before the loop; its distinct partitions it
    on (src, dst), not src, so each round's join shuffles it on src or
    broadcasts the smaller side."""
    e = lifecycle.checkpoint(
        _edges(spark, sf_dir)
        .select(
            "src",
            "dst",
            (1 + (F.col("src") * 7 + F.col("dst") * 13) % 5).alias("w"),
        )
    )
    dist = spark.range(0, 1, 1, 1).select(
        F.col("id").alias("node"), F.col("id").alias("dist"), F.lit(True).alias("__delta")
    )
    none = F.lit(None).cast("long")

    def step(dist: DataFrame) -> DataFrame:
        old = dist.select("node", F.col("dist").alias("old"), none.alias("cand"))
        cand = (
            dist.where(F.col("__delta") & (F.col("dist") < _SSSP_CAP))
            .join(e, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                none.alias("old"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
        )
        return (
            old.unionByName(cand)
            .groupBy("node")
            .agg(F.min("old").alias("old"), F.min("cand").alias("cand"))
            .select(
                "node",
                F.least("old", "cand").alias("dist"),
                F.coalesce(F.col("cand") < F.col("old"), F.col("old").isNull()).alias(
                    "__delta"
                ),
            )
        )

    dist, _, _, _ = fixpoint(
        "graph_sssp_weighted",
        dist,
        step,
        max_rounds=_SSSP_CAP + 4,
        changed=_n_flagged(F.col("__delta")),
    )
    lifecycle.free(e)
    return dist.where(F.col("dist") <= _SSSP_CAP).select("node", "dist")


@query(
    "graph_common_neighbors",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
n AS (
  SELECT a AS node, b AS nbr FROM u
  UNION ALL
  SELECT b AS node, a AS nbr FROM u
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM n GROUP BY node),
pairs AS (
  SELECT n1.node AS node_a, n2.node AS node_b,
         CAST(COUNT(*) AS BIGINT) AS common_cnt
  FROM n n1 JOIN n n2 ON n1.nbr = n2.nbr AND n1.node < n2.node
  GROUP BY n1.node, n2.node
)
SELECT p.node_a, p.node_b, p.common_cnt,
       da.d AS deg_a, db.d AS deg_b,
       CAST(p.common_cnt AS DOUBLE) / (da.d + db.d - p.common_cnt)
           AS jaccard,
       CAST(CASE WHEN u.a IS NULL THEN 0 ELSE 1 END AS INT) AS is_edge
FROM pairs p
JOIN deg da ON da.node = p.node_a
JOIN deg db ON db.node = p.node_b
LEFT JOIN u ON u.a = p.node_a AND u.b = p.node_b
""",
    category="graph",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the undirected view of the demo graph:
    for every node pair sharing at least one neighbor, the
    common-neighbor count and neighborhood Jaccard
    (|N(a)∩N(b)| / |N(a)∪N(b)| — one exact integer ratio), plus an
    is_edge flag so existing edges can be held out as the positive
    class.  Wedge generation is the shared-neighbor equi-join (the
    triangle-count shape: pairs appear once because a < b), degrees
    ride in on two broadcast-able joins against the bounded degree
    table.  At 100 TB graphs the wedge join's skew risk is hub
    nodes — production runs cap/bucket hub degrees exactly like
    dedup_ngram_jaccard's stop-gram cap; the demo graph is 100
    nodes, so the cap is not wired here (documented, not hidden)."""
    return api.link_prediction(_edges(spark, sf_dir), "src", "dst")


_KCORE_K = 3
_LPA_ITERS = 10


@query("graph_k_core", oracle=None, category="graph")
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) by synchronous peeling, over the
    BIPARTITE order—part graph (an edge per distinct (l_orderkey,
    l_partkey) pair; part nodes live in a negative id namespace):
    every round drops all nodes whose CURRENT degree is below k and
    recomputes degrees on the induced subgraph until fixpoint — the
    classic mutual-density filter (an order survives iff it still
    has >= 3 surviving parts, a part iff >= 3 surviving orders).
    Unlike the 100-node demo digraph (which is near-complete at
    every SF), this graph's node count GROWS with the data while
    mean degree stays ~constant — so the peeling depth is
    scale-stable and the kernel is exercised for real.  Per round:
    two left-semi joins of the edge table against the survivor set +
    one degree aggregation (api.k_core, run through fixpoint).
    Peeling is order-independent, so the core is
    deterministic under any partitioning.  Rows-only (⊘): the
    fixpoint is outside single-statement SQL;
    tests/test_quality.py re-runs the identical peeling in pure
    Python over the edge list and asserts EXACT equality of the
    surviving (node, core_degree) set."""
    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
    )
    return api.k_core(edges, "a", "b", k=_KCORE_K)


@query("graph_label_propagation", oracle=None, category="graph")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic label propagation over
    the BIPARTITE order—part graph (same edge set as graph_k_core,
    and for the same reason: its node count grows with the data
    while mean degree stays ~constant, so the label dynamics are
    scale-stable, unlike the near-complete 100-node demo digraph
    where LPA collapses to one community in a single round).
    Semi-synchronous schedule (parts from orders, then orders from
    parts) with most-frequent-neighbor-label updates and min-label
    tie-breaks — a pure function of the edge set, no RNG.  Emits the
    community summary (label, n_orders, n_parts) rather than the
    per-node map so the output is checksum-stable and small.

    Rows-only (⊘): the fixpoint loop is outside single-statement
    SQL; tests/test_quality.py re-runs the identical schedule in
    pure Python over the collected edge list and asserts EXACT
    equality of every node's final label, plus determinism across
    independent Spark runs."""
    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
    )
    labels = api.label_propagation(edges, "a", "b", iters=_LPA_ITERS)
    return labels.groupBy("label").agg(
        F.sum(F.when(F.col("node") >= 0, 1).otherwise(0)).alias("n_orders"),
        F.sum(F.when(F.col("node") < 0, 1).otherwise(0)).alias("n_parts"),
    )


@query("graph_modularity", oracle=None, category="graph")
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities on the bipartite
    order—part graph — the quality score that tells you whether a
    community assignment is better than chance: Q = sum_c [e_c/m -
    (d_c/2m)^2], computed as ONE exact int64 rational (num =
    sum_c (4*m*e_c - d_c^2), den = 4*m^2) with a single final
    double division, so the score is bit-reproducible across
    partitionings.  One row out: (n_communities, n_edges, q_num,
    q_den, modularity).

    Rows-only (⊘): the input labels come from the iterative LPA
    fixpoint; tests/test_quality.py recomputes BOTH the labels and
    the integer rational in pure Python over the same edge list and
    asserts exact equality of (n_communities, n_edges, q_num,
    q_den)."""
    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
    )
    labels = api.label_propagation(edges, "a", "b", iters=_LPA_ITERS)
    return api.modularity(edges, "a", "b", labels)


_RW_STEPS = 3
_RW_EDGE_SQL = """
  SELECT DISTINCT a, b FROM (
    SELECT l_orderkey AS a, -l_partkey - 1 AS b FROM lineitem
    UNION ALL
    SELECT -l_partkey - 1 AS a, l_orderkey AS b FROM lineitem
  ) u
"""


def _random_walk_oracle() -> str:
    """Unrolled 3-step walk: neighbor pick t is the
    mix(walker, node, t) % degree-th neighbor in ascending order
    (api.random_walk's exact integer function; the explicit
    double-mod is Spark's pmod — node ids are negative in the part
    namespace, so a plain % would take the dividend's sign)."""
    parts = [
        f"WITH e AS MATERIALIZED ({_RW_EDGE_SQL}),",
        "nb AS MATERIALIZED (\n"
        "  SELECT a AS node, b AS nbr,\n"
        "         ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) - 1 AS idx,\n"
        "         COUNT(*) OVER (PARTITION BY a) AS deg\n"
        "  FROM e),",
        "w0 AS MATERIALIZED (SELECT DISTINCT a AS walker_id, a AS node FROM e),",
    ]
    for t in range(1, _RW_STEPS + 1):
        mix = (
            f"(((w.walker_id * 1000003 + w.node * 97 + {t} * 31)"
            f" % 2147483647 + 2147483647) % 2147483647)"
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.walker_id, nb.nbr AS node
  FROM w{t - 1} w JOIN nb ON nb.node = w.node
   AND nb.idx = {mix} % nb.deg
),"""
        )
    parts.append("fin AS (SELECT 1)")
    unions = ["SELECT walker_id, CAST(0 AS BIGINT) AS step, node FROM w0"] + [
        f"SELECT walker_id, CAST({t} AS BIGINT) AS step, node FROM w{t}"
        for t in range(1, _RW_STEPS + 1)
    ]
    parts.append("\nUNION ALL\n".join(unions))
    return "\n".join(parts)


@query("graph_random_walk", oracle=_random_walk_oracle(), category="graph")
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus over the bipartite
    order—part graph: one 3-step walk per node, each step a
    deterministic hash-indexed neighbor pick (see api.random_walk) —
    the graph-embedding training-data generator, reproducible
    bit-for-bit because the "randomness" is a pure integer function
    of (walker, position, step), not RNG state.

    PROMOTED r8 from ⊘ to ORACLE-EXACT: the walk was always a pure
    integer function of the edge set, so the fixed 3 steps unroll
    into MATERIALIZED CTEs (each step joins the ascending-neighbor
    index on node AND the mix % degree pick — the same arithmetic,
    including Spark-pmod's explicit double-mod for the negative part
    ids).  tests/test_quality.py still replays the identical walk in
    pure Python and asserts EXACT equality of every (walker, step,
    node) row, plus walk-shape invariants (every walker has steps
    0..3; every consecutive pair is an edge)."""
    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
    )
    out = api.random_walk(edges, "a", "b", steps=_RW_STEPS)
    return out.select(
        "walker_id", F.col("step").cast("long").alias("step"), "node"
    )


_HITS_ITERS = 12


@query("graph_hits", oracle=None, category="graph")
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the demo digraph — the second
    eigenvector-style ranking next to PageRank, and the one that
    distinguishes CURATORS (hubs: pages pointing at good content)
    from CONTENT (authorities): auth = normalized in-flow of hub
    mass, hub = normalized out-flow of authority mass, 12
    synchronous rounds with max-normalization each half-step (the
    Kleinberg formulation; max-norm keeps every value in [0,1]
    without a sqrt).

    Rows-only (⊘): per-round float division is order-sensitive
    across engines; tests/test_quality.py replays the identical
    iteration in NumPy over the collected edge list and asserts
    1e-9 agreement plus determinism across two runs.

    Execution shape per fixpoint round: TWO bounded shuffles (hub
    mass grouped by dst -> auth; auth mass grouped by src -> hub).
    Each half-step's max is observed on the checkpoint of its raw
    scores (``observed_checkpoint``; a max is safe to observe) and
    divides them as a literal.  The edge table is
    a checkpoint built once before the loop; its distinct partitions
    it on (src, dst), so each half-step's join shuffles it on the
    endpoint it joins on or broadcasts the smaller side."""
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    nodes = _nodes(e)
    scores = lifecycle.checkpoint(
        nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    )

    def half(scores: DataFrame, frm: str, to: str, src: str, dst: str) -> DataFrame:
        """One max-normalized half-step: ``dst`` = the ``src`` mass
        flowing over the edges from ``frm`` to ``to``."""
        flow = (
            scores.join(e, scores.node == e[frm])
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(src).alias("raw"))
        )
        x, seen = observed_checkpoint(
            scores.select("node", src)
            .join(flow, "node", "left")
            .withColumn("raw", F.coalesce(F.col("raw"), F.lit(0.0))),
            m=F.max("raw"),
        )
        while last:  # the previous half-step's checkpoint is read by now
            lifecycle.free(last.pop())
        last.append(x)
        m = max(seen["m"] or 0.0, 1e-300)  # None: no node, nothing to scale
        return x.select("node", src, (F.col("raw") / F.lit(m)).alias(dst))

    last: list[DataFrame] = []  # the latest half-step checkpoint

    def step(scores: DataFrame) -> DataFrame:
        auth = half(scores, "src", "dst", "hub", "auth")
        return half(auth, "dst", "src", "auth", "hub")

    # float scores never certify a fixpoint, so every round runs: the
    # change count is the row count, 0 only for an empty graph
    scores, _, _, _ = fixpoint(
        "graph_hits",
        scores,
        step,
        max_rounds=_HITS_ITERS,
        changed=F.count(F.lit(1)),
    )
    for x in [e, *last]:
        lifecycle.free(x)
    return scores.select("node", "hub", "auth")


_KCORE_EXACT_ROUNDS = 10

_KCORE_EDGE_SQL = """
  SELECT DISTINCT l_orderkey AS a, -l_partkey - 1 AS b FROM lineitem
"""


def _k_core_exact_oracle() -> str:
    """Unrolled fixed-round synchronous peel (DuckDB's plain WITH
    RECURSIVE forbids aggregation in the recursive term — the
    graph_pagerank_exact lesson). Survivor sets and induced edge
    tables are AS MATERIALIZED because each is referenced twice in
    the next round."""
    parts = [f"WITH e0 AS MATERIALIZED ({_KCORE_EDGE_SQL}),"]
    for r in range(_KCORE_EXACT_ROUNDS):
        parts.append(
            f"""d{r} AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}
  ) u GROUP BY node
),
s{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
e{r + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r} e
  JOIN s{r} sa ON sa.node = e.a
  JOIN s{r} sb ON sb.node = e.b
),"""
        )
    R = _KCORE_EXACT_ROUNDS
    parts.append(
        f"""dfin AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
    SELECT a AS node FROM e{R} UNION ALL SELECT b FROM e{R}
  ) u GROUP BY node
)
SELECT node, core_degree,
  CAST((SELECT COUNT(*) FROM e{R - 1}) - (SELECT COUNT(*) FROM e{R})
       AS BIGINT) AS n_edges_removed_last_round
FROM dfin WHERE core_degree >= {_KCORE_K}"""
    )
    return "\n".join(parts)


@query("graph_k_core_exact", oracle=_k_core_exact_oracle(), category="graph")
def graph_k_core_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=3) promoted to ORACLE-EXACT — the graph_pagerank_exact
    certification applied to the peeling loop: a FIXED number of
    synchronous peel rounds (10) over the bipartite order—part edge
    set, so both engines walk the identical set-valued lattice and
    the surviving (node, degree) table is bit-comparable with zero
    tolerance (degrees are integers; no convergence heuristic to
    diverge on).  Ten rounds reach the peeling fixpoint on every
    fixture SF (verified: round 10 == round 11 state; synchronous
    peel strictly shrinks the node set, so depth is bounded by the
    peel sequence length, which is scale-stable on this
    constant-mean-degree graph — graph_k_core's docstring argument).
    The ⊘ fixpoint twin graph_k_core (api.k_core, Python-oracle
    equality test) remains the production kernel; this twin
    certifies the round structure against an independent engine.

    Execution shape per round: one degree aggregation (groupBy
    node over the union of both endpoint projections) + two semi
    joins of the edge table against the broadcast-size survivor
    set; the 10 rounds are a fixpoint budget (early exit once no edge
    is peeled). At 100 TB the edge table stays partitioned on `a`
    across rounds; only survivor keys move."""
    li = table(spark, sf_dir, "lineitem")
    e = lifecycle.checkpoint(
        li.select(
            F.col("l_orderkey").alias("a"), (-F.col("l_partkey") - 1).alias("b")
        )
        .distinct()
        .withColumn("alive", F.lit(True))
    )
    peeled = ~F.col("alive")
    e, _, _, n_peeled = fixpoint(
        "graph_k_core_exact",
        e,
        _peel_step(_KCORE_K),
        max_rounds=_KCORE_EXACT_ROUNDS,
        changed=_n_flagged(peeled),
    )
    # convergence certificate: edges peeled in the final round (must
    # be 0 once the peel sequence has fixpointed; graded in-output so
    # an under-peeled run at larger scale is visible, not silent)
    return _with_certificate(
        _degrees(e.where("alive"), "core_degree").where(
            F.col("core_degree") >= _KCORE_K
        ),
        e,
        n_peeled,
        peeled,
        "n_edges_removed_last_round",
    )


_CC_ROUNDS = 8

_CC_EDGE_SQL = """
  SELECT src, dst FROM (
    SELECT l_orderkey % 100 AS src, l_partkey % 100 AS dst FROM lineitem
    UNION
    SELECT l_partkey % 100 AS src, l_orderkey % 100 AS dst FROM lineitem
  ) u WHERE src <> dst
"""


def _connected_components_oracle() -> str:
    """Unrolled fixed-round min-label propagation (see
    _k_core_exact_oracle for the unroll-vs-recursion rationale);
    label tables are AS MATERIALIZED because round r's table is
    read twice (self + neighbor side)."""
    parts = [
        f"WITH e AS MATERIALIZED ({_CC_EDGE_SQL}),",
        "n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),",
        "l0 AS MATERIALIZED (SELECT node, node AS lbl FROM n),",
    ]
    for r in range(_CC_ROUNDS):
        parts.append(
            f"""l{r + 1} AS MATERIALIZED (
  SELECT c.node, LEAST(c.lbl, COALESCE(MIN(nb.lbl), c.lbl)) AS lbl
  FROM l{r} c
  LEFT JOIN e ON e.src = c.node
  LEFT JOIN l{r} nb ON nb.node = e.dst
  GROUP BY c.node, c.lbl
),"""
        )
    R = _CC_ROUNDS
    parts.append(
        f"fin AS (SELECT 1)\n"
        f"SELECT node, lbl AS component,\n"
        f"  CAST((SELECT COUNT(*) FROM l{R} a JOIN l{R - 1} b"
        f" ON b.node = a.node WHERE a.lbl <> b.lbl) AS BIGINT)"
        f" AS n_changed_last_round\n"
        f"FROM l{R}"
    )
    return "\n".join(parts)


@query(
    "graph_connected_components",
    oracle=_connected_components_oracle(),
    category="graph",
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation, ORACLE-EXACT:
    labels start as node ids and every round each node takes the
    minimum of its own and its neighbors' labels — a pure integer
    lattice with a FIXED round budget (8), so both engines compute
    the identical (node, component) table (the certification trick
    of graph_pagerank_exact / graph_k_core_exact applied to the
    min-label step that api.connected_components runs in
    production).  Min-label needs diameter-many rounds; the
    symmetrized 100-node demo digraph has diameter <= 3 at every
    fixture SF (fixpoint exits early once no label moves).

    Execution shape per round: one join of the labels flagged
    ``__delta`` in the round before (the semi-naive frontier of
    api_graph._min_label_step) against the static symmetrized edge
    table + one min aggregate.  The edge table is a checkpoint built
    once before the loop; its distinct partitions it on (src, dst),
    not src, so each round's join shuffles it on src or broadcasts
    the smaller side.
    The edge table comes from one lineitem scan emitting both
    directions of every pair."""
    li = table(spark, sf_dir, "lineitem")
    o, p = F.col("l_orderkey") % 100, F.col("l_partkey") % 100
    e = lifecycle.checkpoint(
        li.select(
            F.inline(
                F.array(
                    F.struct(o.alias("src"), p.alias("dst")),
                    F.struct(p.alias("src"), o.alias("dst")),
                )
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    lbl = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label"), F.lit(True).alias("__delta")
    )
    delta = F.col("__delta")
    lbl, _, _, n_moved = fixpoint(
        "graph_connected_components",
        lbl,
        _min_label_step(e, "node"),
        max_rounds=_CC_ROUNDS,
        changed=_n_flagged(delta),
    )
    # convergence certificate: labels that still moved in the final
    # round (0 once the budget covers the diameter; graded, so a lapse
    # at scale is VISIBLE instead of silently under-propagating)
    return _with_certificate(lbl, lbl, n_moved, delta, "n_changed_last_round").select(
        "node", F.col("label").alias("component"), "n_changed_last_round"
    )


_HITS_EXACT_ROUNDS = 10
_HITS_SCALE = 10**6


def _hits_exact_oracle() -> str:
    """Unrolled fixed-round integer HITS (see _k_core_exact_oracle
    for the unroll rationale). Score tables are AS MATERIALIZED —
    each is read by both the next half-step and its own max."""
    S = _HITS_SCALE
    parts = [
        f"WITH e AS MATERIALIZED ({_PR_EDGE_SQL}),",
        "n AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        f"h0 AS MATERIALIZED (SELECT node, CAST({S} AS BIGINT) AS h FROM n),",
    ]
    for r in range(_HITS_EXACT_ROUNDS):
        parts.append(
            f"""ar{r} AS (
  SELECT n.node, CAST(COALESCE(SUM(h.h), 0) AS BIGINT) AS ar
  FROM n LEFT JOIN e ON e.dst = n.node LEFT JOIN h{r} h ON h.node = e.src
  GROUP BY n.node
),
a{r} AS MATERIALIZED (
  SELECT node, CAST(ar * {S} // (SELECT MAX(ar) FROM ar{r}) AS BIGINT) AS a
  FROM ar{r}
),
hr{r} AS (
  SELECT n.node, CAST(COALESCE(SUM(a.a), 0) AS BIGINT) AS hr
  FROM n LEFT JOIN e ON e.src = n.node LEFT JOIN a{r} a ON a.node = e.dst
  GROUP BY n.node
),
h{r + 1} AS MATERIALIZED (
  SELECT node, CAST(hr * {S} // (SELECT MAX(hr) FROM hr{r}) AS BIGINT) AS h
  FROM hr{r}
),"""
        )
    R = _HITS_EXACT_ROUNDS
    parts.append(
        f"fin AS (SELECT 1)\n"
        f"SELECT h.node, h.h AS hub_scaled, a.a AS auth_scaled,\n"
        f"  CAST((SELECT MAX(ABS(x.h - y.h)) FROM h{R} x"
        f" JOIN h{R - 1} y ON y.node = x.node) AS BIGINT)"
        f" AS hub_residual_scaled\n"
        f"FROM h{R} h JOIN a{R - 1} a ON a.node = h.node"
    )
    return "\n".join(parts)


@query("graph_hits_exact", oracle=_hits_exact_oracle(), category="graph")
def graph_hits_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS promoted to ORACLE-EXACT — the fixed-point-integer
    certification (graph_pagerank_exact's trick) applied to the
    hubs/authorities iteration: scores are int64 scaled by 1e6,
    every half-step max-normalization is a truncating integer
    division (Spark DIV and DuckDB // both truncate toward zero —
    verified on negative operands too, though scores here are
    non-negative), and the round count is FIXED at 10, so both
    engines walk the identical integer lattice and the final
    (node, hub, auth) table is bit-comparable.  Kleinberg's
    max-normalization (which the float ⊘ twin graph_hits also uses)
    is what makes the integer form possible at all — no sqrt ever
    appears.  The float twin remains the reference kernel
    (NumPy-agreement tested); this twin certifies the two-half-step
    round STRUCTURE against an independent engine.

    Execution shape per round: two bounded shuffles (hub mass by
    dst, authority mass by src), each max observed on the checkpoint
    of the half-step's raw sums and divided in as a literal.  The
    second half-step groups over the round's hub table, so the hubs it
    started from ride along as ``prev``.  The 10 rounds are a fixpoint
    budget (early exit once no hub score moves).  The edge table is a
    checkpoint built before the loop."""
    S = _HITS_SCALE
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    nodes = lifecycle.checkpoint(_nodes(e))

    def half(base: DataFrame, scores: DataFrame, to: str, frm: str) -> DataFrame:
        """One max-normalized half-step: every node of ``base`` sums
        ``scores`` over its in-edges (to="dst") or out-edges
        (to="src"), and keeps the other columns of ``base``."""
        raw, seen = observed_checkpoint(
            base.join(e, F.col("node") == F.col(to), "left")
            .join(scores.toDF("sn", "sv"), F.col(frm) == F.col("sn"), "left")
            .groupBy(*base.columns)
            .agg(F.coalesce(F.sum("sv"), F.lit(0)).cast("long").alias("raw")),
            m=F.max("raw"),
        )
        while last:  # the previous half-step's checkpoint is read by now
            lifecycle.free(last.pop())
        last.append(raw)
        # m is None only when there is no node: a null literal, not SQL text
        return raw.withColumn("m", F.lit(seen["m"]).cast("long")).select(
            *base.columns, F.expr(f"CAST(raw * {S} DIV m AS BIGINT)").alias("score")
        )

    last: list[DataFrame] = []  # the latest half-step checkpoint

    def step(h: DataFrame) -> DataFrame:
        h = h.select("node", "score")
        a = half(nodes, h, "dst", "src")
        # the hubs' table drives the second half, so it carries ``prev``
        return half(h.withColumnRenamed("score", "prev"), a, "src", "dst")

    h = nodes.select("node", F.lit(S).cast("long").alias("score"))
    h, h_prev, _, _ = fixpoint(
        "graph_hits_exact",
        h,
        step,
        max_rounds=_HITS_EXACT_ROUNDS,
        changed=_n_flagged(F.col("score") != F.col("prev")),
    )
    # the final round's authorities were computed from the hubs one
    # round before the final ones
    a = half(nodes, h_prev.select("node", "score"), "dst", "src").toDF("node", "a")
    # convergence certificate: the max hub-score movement in the final
    # round on the 1e6 lattice (0 = the iteration has fixpointed; a
    # nonzero value at larger scale is graded, not silently stale)
    cert = h.agg(
        F.max(F.abs(F.col("score") - F.col("prev")))
        .cast("long")
        .alias("hub_residual_scaled")
    )
    return (
        h.join(a, "node")
        .crossJoin(F.broadcast(cert))
        .select(
            "node",
            F.col("score").alias("hub_scaled"),
            F.col("a").alias("auth_scaled"),
            "hub_residual_scaled",
        )
    )


@query(
    "graph_clustering_coefficient",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
n AS (
  SELECT a AS node, b AS nbr FROM u
  UNION ALL
  SELECT b AS node, a AS nbr FROM u
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM n GROUP BY node),
tri AS (
  SELECT n1.node, CAST(COUNT(*) AS BIGINT) AS t
  FROM n n1
  JOIN n n2 ON n2.node = n1.node AND n1.nbr < n2.nbr
  JOIN u ON u.a = n1.nbr AND u.b = n2.nbr
  GROUP BY n1.node
)
SELECT deg.node, deg.d AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d < 2 THEN 0.0
            ELSE 2.0 * CAST(COALESCE(tri.t, 0) AS DOUBLE)
                 / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0))
       END AS local_clustering
FROM deg LEFT JOIN tri ON tri.node = deg.node
""",
    category="graph",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the undirected demo
    graph — how interconnected each node's neighborhood is (the
    community-density primitive under triangle-heavy analyses):
    per-node triangle counts come from the canonical wedge join
    (neighbor pairs x < y checked against the a < b edge table, the
    graph_triangle_count shape), degrees from the bounded degree
    table, and lcc = 2T/(d(d-1)) is ONE double expression per node
    row (degree < 2 pins to 0.0).  Scale: the wedge join is the
    standard hub-skew risk — production caps hub degrees exactly
    like graph_common_neighbors documents; the demo graph is 100
    nodes."""
    e = _edges(spark, sf_dir)
    u = lifecycle.checkpoint(  # read by wedges AND the closing join
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    n = u.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        u.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = n.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n1 = n.select(F.col("node").alias("v"), F.col("nbr").alias("x"))
    n2 = n.select(F.col("node").alias("v2"), F.col("nbr").alias("y"))
    tri = (
        n1.join(n2, (F.col("v2") == F.col("v")) & (F.col("x") < F.col("y")))
        .join(u, (u["a"] == F.col("x")) & (u["b"] == F.col("y")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    j = deg.join(tri.withColumnRenamed("v", "node"), "node", "left")
    t = F.coalesce(F.col("t"), F.lit(0))
    dd = F.col("d").cast("double")
    return j.select(
        "node",
        F.col("d").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(F.col("d") < 2, F.lit(0.0))
        .otherwise(2.0 * t.cast("double") / (dd * (dd - 1.0)))
        .alias("local_clustering"),
    )


@query(
    "graph_degree_assortativity",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
n AS (
  SELECT a AS node, b AS nbr FROM u
  UNION ALL
  SELECT b AS node, a AS nbr FROM u
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM n GROUP BY node),
ed AS (
  SELECT da.d AS dx, db.d AS dy
  FROM u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
),
m AS (
  SELECT CAST(2 * COUNT(*) AS BIGINT) AS mm,
         CAST(SUM(dx + dy) AS BIGINT) AS sx,
         CAST(SUM(2 * dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx + dy * dy) AS BIGINT) AS sxx
  FROM ed
)
SELECT CAST(mm / 2 AS BIGINT) AS n_edges, mm, sx, sxy, sxx,
       CASE WHEN mm * sxx = sx * sx THEN 0.0
            ELSE (CAST(mm AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END
         AS assortativity
FROM m
""",
    category="graph",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected demo graph — do
    high-degree nodes attach to other high-degree nodes (positive,
    social-network-like) or to low-degree ones (negative, hub-and-
    spoke)?  Newman's r is the Pearson correlation of endpoint
    degrees over the symmetrized edge ends: every moment (sum of
    degrees, cross products, squares over edges, each edge
    contributing both orientations) is an exact int64, and r reduces
    to ONE double expression — the symmetric form makes the two
    sqrt factors equal, so r = (M*Sxy - Sx^2)/(M*Sxx - Sx^2) with no
    sqrt at all; a REGULAR graph (every degree equal — the near-
    complete demo graph at sf >= 0.01) has zero degree variance,
    where r is undefined and pinned to 0.0 by integer-equality guard
    in both engines.  Scale: two broadcast-size degree joins against
    the edge list; one-row output."""
    e = _edges(spark, sf_dir)
    u = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    n = u.select(F.col("a").alias("node")).unionAll(
        u.select(F.col("b").alias("node"))
    )
    deg = n.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ed = (
        u.join(
            F.broadcast(deg.select(F.col("node").alias("na"), F.col("d").alias("dx"))),
            F.col("na") == u["a"],
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("nb"), F.col("d").alias("dy"))),
            F.col("nb") == u["b"],
        )
        .select("dx", "dy")
    )
    m = ed.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("mm"),
        F.sum(F.col("dx") + F.col("dy")).cast("long").alias("sx"),
        F.sum(2 * F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
        .cast("long")
        .alias("sxx"),
    )
    dmm = F.col("mm").cast("double")
    dsx = F.col("sx").cast("double")
    return m.select(
        F.expr("CAST(mm / 2 AS BIGINT)").alias("n_edges"),
        "mm",
        "sx",
        "sxy",
        "sxx",
        F.when(
            F.col("mm") * F.col("sxx") == F.col("sx") * F.col("sx"), F.lit(0.0)
        )
        .otherwise(
            (dmm * F.col("sxy").cast("double") - dsx * dsx)
            / (dmm * F.col("sxx").cast("double") - dsx * dsx)
        )
        .alias("assortativity"),
    )


@query(
    "graph_reciprocity",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN EXISTS (
           SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal
  FROM e
)
SELECT n_edges, n_reciprocal,
       CAST(n_reciprocal / 2 AS BIGINT) AS n_mutual_pairs,
       CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE) AS reciprocity
FROM m
""",
    category="graph",
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed demo graph — what share of
    directed edges are returned (the mutual-follow rate in social
    graphs, the two-way-trade rate in flow graphs): a left-semi
    self-join of the edge list against its own reversal counts the
    reciprocated edges exactly; reciprocity is ONE double division
    and the mutual-pair count is the integer half.  Scale: one
    self-equi-join on the (dst, src) key — co-partitioned with the
    edge list's own (src, dst) shuffle."""
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    m = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        F.broadcast(
            recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
        )
    )
    return m.select(
        "n_edges",
        "n_reciprocal",
        F.expr("CAST(n_reciprocal / 2 AS BIGINT)").alias("n_mutual_pairs"),
        (
            F.col("n_reciprocal").cast("double") / F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


@query(
    "graph_degree_histogram",
    oracle="""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
n AS (
  SELECT a AS node FROM u UNION ALL SELECT b FROM u
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM n GROUP BY node)
SELECT d AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(COUNT(*)) OVER (ORDER BY d DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_nodes_at_least
FROM deg GROUP BY d
""",
    category="graph",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the undirected demo graph with the
    complementary cumulative count (nodes of degree >= d — the curve
    whose log-log slope is the power-law diagnostic; emitted as exact
    integers, the slope fit stays with the reader since log is libm):
    one degree aggregation, one bounded histogram groupBy, one
    ordered window for the CCDF counts.  Scale: the histogram is
    degree-domain-bounded — at 100 TB the heavy tail is exactly what
    the skew/salting machinery keys off, and this is its census."""
    e = _edges(spark, sf_dir)
    u = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    n = u.select(F.col("a").alias("node")).unionAll(
        u.select(F.col("b").alias("node"))
    )
    deg = n.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    w = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        F.col("d").alias("degree"),
        "n_nodes",
        F.sum("n_nodes").over(w).cast("long").alias("n_nodes_at_least"),
    )


_CLOSENESS_HOPS = 6  # >= fixture diameter (cc docstring: verified <= 3)


@query(
    "graph_closeness",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
n AS (SELECT DISTINCT src AS node FROM e),
bfs(root, node, dist) AS (
  SELECT node, node, 0 FROM n
  UNION
  SELECT bfs.root, e.dst, bfs.dist + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < {_CLOSENESS_HOPS}
),
d AS (
  SELECT root, node, CAST(MIN(dist) AS BIGINT) AS dist
  FROM bfs GROUP BY root, node
)
SELECT root AS src,
       CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(SUM(CASE WHEN dist > 0 THEN 60 // dist ELSE 0 END) AS BIGINT)
         AS harmonic60,
       CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS DOUBLE)
         / SUM(dist) AS closeness
FROM d GROUP BY root
""",
    category="graph",
)
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness and harmonic centrality of EVERY node at once —
    multi-source BFS (_bfs): 100 BFS trees advance together in the
    same shuffle, the Pregel trick that makes centrality tractable on
    a cluster. Harmonic centrality sum(1/d) ships EXACT as
    sum(60 DIV d) — every hop count 1..6 divides 60, so the reciprocal
    sum is an integer at scale 60 (no float accumulation); classic
    closeness reached/sum(dist) is the one double division. Hop cap
    6 >= the fixture diameter (the connected-components docstring
    verifies <= 3), matching the oracle's recursion bound. Scale:
    visited is O(V * V_reachable) pairs — all-pairs centrality is
    inherently quadratic in reachable mass; the kernel keeps every
    step key-partitioned (no broadcast of anything
    data-proportional)."""
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    nodes = e.select(F.col("src").alias("node")).distinct()
    visited = _bfs("graph_closeness", e, nodes, _CLOSENESS_HOPS)
    lifecycle.free(e)
    reached = F.count(F.when(F.col("dist") > 0, 1))
    return visited.groupBy(F.col("root").alias("src")).agg(
        reached.cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("sum_dist"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr("60 DIV dist")).otherwise(0)
        )
        .cast("long")
        .alias("harmonic60"),
        (reached.cast("double") / F.sum("dist")).alias("closeness"),
    )


_CP_ROUNDS = 6  # relaxation rounds; grades longest paths of <= 6 edges

_CP_EDGE_SQL = """
  SELECT src, dst, 1 + (src + dst) % 5 AS w FROM (
    SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
    FROM lineitem WHERE l_orderkey % 100 < l_partkey % 100
  ) e
"""


def _critical_path_oracle() -> str:
    """Unrolled fixed-round longest-path relaxation over the a<b DAG
    (the _k_core_exact_oracle unroll pattern: per-round VALUE tables,
    never path enumeration — path counts explode, value tables are
    always |V| rows)."""
    parts = [
        f"WITH e AS MATERIALIZED ({_CP_EDGE_SQL}),",
        "n AS MATERIALIZED (SELECT DISTINCT node FROM ("
        "SELECT src AS node FROM e UNION SELECT dst FROM e) u),",
        "l0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM n)",
    ]
    for r in range(1, _CP_ROUNDS + 1):
        parts.append(
            f""",
l{r} AS MATERIALIZED (
  SELECT n.node,
         GREATEST(
           (SELECT dist FROM l{r - 1} WHERE l{r - 1}.node = n.node),
           COALESCE((SELECT MAX(p.dist + e.w)
                     FROM e JOIN l{r - 1} p ON p.node = e.src
                     WHERE e.dst = n.node), 0)
         ) AS dist
  FROM n
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(dist AS BIGINT) AS longest_dist,
       CAST({_CP_ROUNDS} AS BIGINT) AS rounds
FROM l{_CP_ROUNDS}"""
    )
    return "".join(parts)


@query("graph_critical_path", oracle=_critical_path_oracle(), category="graph")
def graph_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path (longest weighted path) relaxation over the a<b
    DAG derived from the demo graph (edges only from smaller to
    larger node id — acyclic BY CONSTRUCTION — with deterministic
    integer weights 1 + (u+v) % 5): the PERT/scheduling primitive and
    the DAG-analytics sibling of graph_bfs_distance. Six relaxation
    rounds of L(v) <- max(L(v), max over in-edges of L(u) + w) run as
    per-round joins (value tables, never path enumeration — path
    counts explode exponentially, value tables stay |V| rows), so the
    grade certifies longest paths of <= 6 edges; the oracle unrolls
    the same six rounds as materialized CTEs (the graph_k_core_exact
    pattern). All integer arithmetic. Scale: per round ONE edge join
    shuffling |V| rows + a max rollup; the six rounds are a fixpoint
    budget (early exit once no distance rises), reported as
    ``rounds``.  Semi-naive: a round relaxes only the out-edges of
    the nodes whose distance rose in the round before (``__delta``),
    which yields the same table as relaxing every edge."""
    li = table(spark, sf_dir, "lineitem")
    e = lifecycle.checkpoint(
        li.select(
            (F.col("l_orderkey") % 100).alias("src"),
            (F.col("l_partkey") % 100).alias("dst"),
        )
        .where(F.col("src") < F.col("dst"))
        .distinct()
        .select("src", "dst", (1 + (F.col("src") + F.col("dst")) % 5).alias("w"))
    )
    n = _nodes(e)
    l = lifecycle.checkpoint(
        n.select(
            "node", F.lit(0).cast("long").alias("dist"), F.lit(True).alias("__delta")
        )
    )

    def step(l: DataFrame) -> DataFrame:
        front = l.where("__delta")
        relaxed = (
            front.join(e, front["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("node")
            .agg(F.max("cand").alias("cand"))
        )
        return l.join(relaxed, "node", "left").select(
            "node",
            F.greatest(F.col("dist"), F.coalesce(F.col("cand"), F.lit(0)))
            .cast("long")
            .alias("dist"),
            F.coalesce(F.col("cand") > F.col("dist"), F.lit(False)).alias("__delta"),
        )

    l, _, _, _ = fixpoint(
        "graph_critical_path",
        l,
        step,
        max_rounds=_CP_ROUNDS,
        changed=_n_flagged(F.col("__delta")),
    )
    lifecycle.free(e)
    return l.select(
        "node",
        F.col("dist").alias("longest_dist"),
        F.lit(_CP_ROUNDS).cast("long").alias("rounds"),
    )


# ------------------------------------------------------------------ #
# r10 wave 3: link prediction + bipartite projection
# ------------------------------------------------------------------ #

_RA_SCALE = 10**12


@query(
    "graph_resource_allocation",
    oracle=f"""
WITH e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
n AS (
  SELECT a AS node, b AS nbr FROM u
  UNION ALL
  SELECT b AS node, a AS nbr FROM u
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM n GROUP BY node),
pairs AS (
  SELECT n1.node AS node_a, n2.node AS node_b, n1.nbr AS z
  FROM n n1 JOIN n n2 ON n1.nbr = n2.nbr AND n1.node < n2.node
),
scored AS (
  SELECT p.node_a, p.node_b,
         CAST(COUNT(*) AS BIGINT) AS common_cnt,
         CAST(SUM({_RA_SCALE} // dz.d) AS BIGINT) AS ra_scaled
  FROM pairs p JOIN deg dz ON dz.node = p.z
  GROUP BY p.node_a, p.node_b
)
SELECT s.node_a, s.node_b, s.common_cnt, s.ra_scaled,
       CAST(CASE WHEN u.a IS NULL THEN 0 ELSE 1 END AS INT) AS is_edge
FROM scored s
LEFT JOIN u ON u.a = s.node_a AND u.b = s.node_b
""",
    category="graph",
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou, Lü & Zhang 2009) —
    the degree-penalized upgrade of common-neighbor counting: score
    (a, b) = sum over common neighbors z of 1/deg(z), so a hub
    shared by everyone contributes almost nothing while a rare
    mutual contact dominates.  The reciprocal ships EXACT as the
    1e12-scaled floor division both engines share (Spark DIV ==
    DuckDB // on non-negative operands) — no float accumulation;
    is_edge tags pairs already linked (the candidate filter a link
    recommender applies).  RA beats Adamic-Adar's 1/ln(deg) on most
    benchmarks AND is the member of the family with an exact integer
    form — AA's log would force a libm crossing per neighbor.

    Shape: the common-neighbor pair generation is one equi-join on
    the shared neighbor (never all-pairs), a broadcast-joined degree
    lookup, one hash-agg.  Per-z fanout is deg(z)^2 — at 100 TB the
    standard hub cap (drop z with deg above a percentile) bounds the
    quadratic mass exactly like the dedup df-cap discipline."""
    e = _edges(spark, sf_dir)
    # u and n feed three plan branches each (n1, n2, deg, is_edge) —
    # checkpoint once so Catalyst doesn't re-derive the edge list per
    # branch (the _day_grid rationale; 12 -> ~6 Exchanges measured).
    u = lifecycle.checkpoint(
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    n = lifecycle.checkpoint(
        u.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(u.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    )
    deg = n.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n1 = n.select(F.col("node").alias("node_a"), F.col("nbr").alias("z"))
    n2 = n.select(F.col("node").alias("node_b"), F.col("nbr").alias("z"))
    pairs = n1.join(n2, "z").where(F.col("node_a") < F.col("node_b"))
    scored = (
        pairs.join(
            F.broadcast(deg.select(F.col("node").alias("z"), "d")), "z"
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_cnt"),
            F.sum(F.expr(f"{_RA_SCALE} DIV d")).cast("long").alias(
                "ra_scaled"
            ),
        )
    )
    return (
        scored.join(
            u.withColumn("ie", F.lit(1)),
            (F.col("a") == F.col("node_a")) & (F.col("b") == F.col("node_b")),
            "left",
        )
        .select(
            "node_a",
            "node_b",
            "common_cnt",
            "ra_scaled",
            F.coalesce("ie", F.lit(0)).cast("int").alias("is_edge"),
        )
    )


@query(
    "graph_bipartite_projection",
    oracle="""
WITH bi AS (
  SELECT DISTINCT o.o_custkey % 40 AS cust, l.l_partkey % 60 AS part
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
pdeg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS d FROM bi GROUP BY part),
proj AS (
  SELECT b1.part AS part_a, b2.part AS part_b,
         CAST(COUNT(*) AS BIGINT) AS weight
  FROM bi b1 JOIN bi b2 ON b2.cust = b1.cust AND b1.part < b2.part
  GROUP BY b1.part, b2.part
)
SELECT p.part_a, p.part_b, p.weight,
       da.d AS deg_a, db.d AS deg_b,
       CAST(p.weight AS DOUBLE) / (da.d + db.d - p.weight) AS overlap_jaccard
FROM proj p
JOIN pdeg da ON da.part = p.part_a
JOIN pdeg db ON db.part = p.part_b
""",
    category="graph",
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIPARTITE PROJECTION — the co-purchase graph construction
    (Newman 2001's one-mode projection): the customer–part bipartite
    graph from orders⋈lineitem projects onto parts, linking two
    parts with weight = number of distinct shared customers, plus
    the degree-normalized Jaccard overlap (weight / |N(a) ∪ N(b)|,
    one double division of exact integers).  This is how
    recommendation / substitute-detection graphs are actually built
    from transaction logs.

    Shape: ONE self-equi-join of the deduplicated bipartite edge
    list on the shared customer (the shuffle key), then a hash-agg —
    never an all-pairs product; per-customer fanout is basket^2,
    the same bounded quadratic as pipeline_basket_lift, and the
    hub-cap discipline applies to super-customers at scale.  The
    degree lookup is a broadcast join (bounded by the part domain)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 60).alias("part")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_custkey") % 40).alias("cust")
    )
    # the bipartite edge list feeds both self-join sides plus the
    # degree rollup — materialize once (15 -> ~7 Exchanges measured)
    bi = lifecycle.checkpoint(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("cust", "part")
        .distinct()
    )
    pdeg = bi.groupBy("part").agg(F.count(F.lit(1)).cast("long").alias("d"))
    b1 = bi.select("cust", F.col("part").alias("part_a"))
    b2 = bi.select("cust", F.col("part").alias("part_b"))
    proj = (
        b1.join(b2, "cust")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return (
        proj.join(
            F.broadcast(pdeg.select(F.col("part").alias("part_a"),
                                    F.col("d").alias("deg_a"))),
            "part_a",
        )
        .join(
            F.broadcast(pdeg.select(F.col("part").alias("part_b"),
                                    F.col("d").alias("deg_b"))),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "weight",
            "deg_a",
            "deg_b",
            (
                F.col("weight").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("weight"))
            ).alias("overlap_jaccard"),
        )
    )


@query(
    "graph_eccentricity",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem WHERE l_orderkey % 100 <> l_partkey % 100
),
n AS (SELECT DISTINCT src AS node FROM e),
bfs(root, node, dist) AS (
  SELECT node, node, 0 FROM n
  UNION
  SELECT bfs.root, e.dst, bfs.dist + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < {_CLOSENESS_HOPS}
),
d AS (
  SELECT root, node, CAST(MIN(dist) AS BIGINT) AS dist
  FROM bfs GROUP BY root, node
)
SELECT root AS src,
       CAST(MAX(dist) AS BIGINT) AS eccentricity,
       CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached
FROM d GROUP BY root
""",
    category="graph",
)
def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity of every source node — max hop distance over its
    reachable set (the per-node quantity whose min over nodes is the
    graph RADIUS and max the DIAMETER): the same multi-source BFS
    (_bfs) as graph_closeness, with the terminal rollup flipped from
    sums to MAX.  Hop cap {_CLOSENESS_HOPS} >= the fixture diameter,
    matching the oracle recursion bound.  Same
    quadratic-in-reachable-mass bound as all-pairs centrality;
    key-partitioned throughout."""
    e = lifecycle.checkpoint(_edges(spark, sf_dir))
    nodes = e.select(F.col("src").alias("node")).distinct()
    visited = _bfs("graph_eccentricity", e, nodes, _CLOSENESS_HOPS)
    lifecycle.free(e)
    return visited.groupBy(F.col("root").alias("src")).agg(
        F.max("dist").cast("long").alias("eccentricity"),
        F.count(F.when(F.col("dist") > 0, 1)).cast("long").alias(
            "n_reached"
        ),
    )
