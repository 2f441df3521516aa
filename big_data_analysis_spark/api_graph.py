"""Iterative graph kernels on caller-supplied DataFrames (split from
api.py at the module-size cap — the facade re-imports these by name,
so `api.pagerank` etc. are unchanged): connected components, PageRank,
k-core and label propagation, every round loop run through
``fixpoint``, plus the round steps, change counts and certificates
the registered graph queries share with them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lifecycle
from .fixpoint import counted_checkpoint, fixpoint


def _nodes(e: DataFrame) -> DataFrame:
    """Distinct endpoints of (src, dst) edges, as column ``node``."""
    return e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()


def _n_flagged(flag: Column) -> Column:
    """``fixpoint`` change count: the rows of the next state that
    ``flag`` marks as moved in this round."""
    return F.count(F.when(flag, 1))


def _with_certificate(
    df: DataFrame, state: DataFrame, n_changed: int | None, flag: Column, name: str
) -> DataFrame:
    """``df`` plus the convergence certificate ``name``: the rows of
    ``state`` that ``flag`` marks as moved in the final round.  An
    observed count of 0 is exact and becomes a literal; otherwise (the
    round budget ran out) the count is taken in the plan, because an
    observed nonzero count may include retried tasks."""
    if n_changed == 0:
        return df.withColumn(name, F.lit(0).cast("long"))
    return df.crossJoin(F.broadcast(state.agg(_n_flagged(flag).alias(name))))


def _min_label_step(edges: DataFrame, id_name: str):
    """One semi-naive min-label round over symmetric (src, dst)
    ``edges``: every node of the (id_name, label, __delta) state takes
    the minimum of its own label and the labels of the neighbours
    flagged ``__delta`` in the round before, and ``__delta`` flags the
    labels that dropped.  An unflagged neighbour sent its label the
    round it was set, so with every row flagged at the start the table
    equals full min-label propagation's after every round."""

    def step(labels: DataFrame) -> DataFrame:
        nmin = (
            edges.join(
                labels.where("__delta").select(
                    F.col(id_name).alias("src"), F.col("label").alias("nlabel")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias(id_name))
            .agg(F.min("nlabel").alias("nmin"))
        )
        return labels.join(nmin, id_name, "left").select(
            id_name,
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
            F.coalesce(F.col("nmin") < F.col("label"), F.lit(False)).alias("__delta"),
        )

    return step


def _degrees(e: DataFrame, name: str) -> DataFrame:
    """(node, <name>) degree table of undirected (a, b) edges."""
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias(name))
    )


def _peel_step(k: int):
    """One synchronous k-core peel of (a, b, alive) edges: the edges
    alive before the round stay, and ``alive`` stays set on those whose
    endpoints both still have degree >= k.  Edges peeled in an earlier
    round are dropped, so ``~alive`` flags exactly the edges this
    round peeled."""

    def step(e: DataFrame) -> DataFrame:
        live = e.where("alive")
        low = (
            _degrees(live, "deg")
            .where(F.col("deg") < k)
            .select("node", F.lit(1).alias("low"))
        )
        return (
            live.join(low.toDF("a", "low_a"), "a", "left")
            .join(low.toDF("b", "low_b"), "b", "left")
            .select(
                "a",
                "b",
                (F.col("low_a").isNull() & F.col("low_b").isNull()).alias("alive"),
            )
        )

    return step


def connected_components(pairs: DataFrame, id_name: str) -> DataFrame:
    """Distributed connected components over an undirected pair list
    (two id columns) by min-label propagation; returns (id_name,
    label), label = the minimum id of the component.  The ``fixpoint``
    budget is the node count: min-label converges within
    diameter + 1 <= n rounds, so the loop always reaches the fixpoint."""
    a, b = pairs.columns
    edges = lifecycle.persist(
        pairs.union(pairs.select(F.col(b), F.col(a))).toDF("src", "dst")
    )
    labels, n = counted_checkpoint(
        edges.select(F.col("src").alias(id_name))
        .distinct()
        .select(id_name, F.col(id_name).alias("label"), F.lit(True).alias("__delta"))
    )
    labels, _, _, _ = fixpoint(
        "connected_components",
        labels,
        _min_label_step(edges, id_name),
        max_rounds=n,
        changed=_n_flagged(F.col("__delta")),
    )
    lifecycle.free(edges)
    return labels.select(id_name, "label")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    iters: int = 15,
    damping: float = 0.85,
    tol: float = 1e-12,
) -> DataFrame:
    """Distributed PageRank over an (src, dst) edge DataFrame with
    uniform dangling-mass redistribution; at most ``iters`` rounds,
    stopping once every rank moved by less than ``tol``.  Returns
    (node, rank, converged): ``converged`` is true iff the last round
    moved no rank by ``tol`` or more, false when ``iters`` ran out
    first.  Rounds run through ``fixpoint``; the dangling mass is a
    1-row aggregate folded in as a broadcast crossJoin, never a driver
    collect."""
    e = lifecycle.persist(edges.toDF("src", "dst"))
    nodes = lifecycle.persist(_nodes(e))
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    dang = lifecycle.persist(nodes.join(deg, nodes.node == deg.src, "left_anti"))
    ranks = lifecycle.checkpoint(nodes.withColumn("rank", F.lit(1.0 / n)))

    def step(ranks: DataFrame) -> DataFrame:
        dmass = ranks.join(dang, "node", "left_semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        inflow = (
            ranks.join(F.broadcast(deg), ranks.node == deg.src)
            .select("node", (F.col("rank") / F.col("outdeg")).alias("share"))
            .join(e, F.col("node") == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        return (
            ranks.select("node", F.col("rank").alias("prev"))
            .join(inflow, "node", "left")
            .crossJoin(F.broadcast(dmass))
            .select(
                "node",
                "prev",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("dmass") / n
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    ranks, _, _, n_moved = fixpoint(
        "pagerank",
        ranks,
        step,
        max_rounds=iters,
        changed=_n_flagged(F.abs(F.col("rank") - F.col("prev")) >= tol),
    )
    lifecycle.free(e)
    lifecycle.free(nodes)
    lifecycle.free(dang)
    return ranks.select("node", "rank", F.lit(n_moved == 0).alias("converged"))


def k_core(edges: DataFrame, a_col: str, b_col: str, *, k: int = 3) -> DataFrame:
    """k-core decomposition of an undirected graph by synchronous
    peeling over caller-supplied edges (one row per undirected edge
    (a, b)): repeatedly drop nodes whose current degree is below k
    until fixpoint.  Returns the surviving (node, core_degree) set.
    Per round: one degree aggregation + two left-semi joins, run
    through ``fixpoint``; every round but the last peels an edge, so
    the edge count + 1 bounds the rounds and the fixpoint is always
    reached.  Order-independent, hence deterministic under any
    partitioning."""
    u, n = counted_checkpoint(
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .distinct()
        .withColumn("alive", F.lit(True))
    )
    core, _, _, _ = fixpoint(
        "k_core",
        u,
        _peel_step(k),
        max_rounds=n + 1,
        changed=_n_flagged(~F.col("alive")),
    )
    return _degrees(core.where("alive"), "core_degree")


def label_propagation(
    edges: DataFrame, a_col: str, b_col: str, *, iters: int = 10
) -> DataFrame:
    """Community detection by LABEL PROPAGATION over a BIPARTITE
    graph (edges are (a, b) with disjoint id namespaces; the
    undirected view is built internally).  Deterministic
    semi-synchronous schedule: each round updates the b-side from
    its a-neighbors, then the a-side from the (new) b-side — the
    standard fix for sync-LPA's bipartite oscillation — and each
    node takes its neighbors' MOST FREQUENT label, ties broken by
    MINIMUM label, so the result is a pure function of the edge set
    (no RNG, no visit-order dependence).  Initial label = own id.
    Stops at fixpoint (zero labels changed) or after ``iters``
    rounds.  Returns (node, label, converged): ``converged`` is true
    iff the last round changed no label, false when ``iters`` ran out
    first.

    Shape per half-round: one shuffle joining the label table to the
    adjacency on the neighbor key + one (node, label) count-argmax
    aggregation; rounds run through ``fixpoint``."""
    u = lifecycle.checkpoint(
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).distinct()
    )
    a_nodes = u.select(F.col("a").alias("node")).distinct()
    b_nodes = u.select(F.col("b").alias("node")).distinct()
    labels = lifecycle.checkpoint(
        a_nodes.unionAll(b_nodes).select("node", F.col("node").alias("label"))
    )
    # adjacency oriented "update DST from SRC": b<-a then a<-b
    adj_b = u.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    adj_a = u.select(F.col("a").alias("node"), F.col("b").alias("nbr"))

    def _half(labels_df: DataFrame, adj: DataFrame, side: DataFrame) -> DataFrame:
        nbr_lbl = labels_df.select(
            F.col("node").alias("nbr"), F.col("label").alias("nlbl")
        )
        votes = (
            adj.join(nbr_lbl, "nbr")
            .groupBy("node", "nlbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (count desc, label asc): max of (cnt, -label)
        picked = votes.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("nlbl")).alias("neg"))).alias(
                "m"
            )
        ).select("node", (-F.col("m.neg")).alias("label"))
        other = labels_df.join(side, "node", "left_anti")
        return other.unionAll(picked)

    def step(lbl: DataFrame) -> DataFrame:
        cur = lbl.select("node", "label")
        nxt = _half(_half(cur, adj_b, b_nodes), adj_a, a_nodes)
        return nxt.join(cur.withColumnRenamed("label", "prev"), "node")

    labels, _, _, n_moved = fixpoint(
        "label_propagation",
        labels,
        step,
        max_rounds=iters,
        changed=_n_flagged(~F.col("label").eqNullSafe(F.col("prev"))),
    )
    return labels.select("node", "label", F.lit(n_moved == 0).alias("converged"))
