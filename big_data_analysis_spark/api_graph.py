"""Iterative graph kernels on caller-supplied DataFrames (split from
api.py at the module-size cap — the facade re-imports these by name,
so `api.pagerank` etc. are unchanged): connected components, PageRank,
k-core and label propagation, every round loop run through
``fixpoint``, plus the round steps and change counts the registered
graph queries share with them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixpoint import fixpoint


def _nodes(e: DataFrame) -> DataFrame:
    """Distinct endpoints of (src, dst) edges, as column ``node``."""
    return e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()


def _n_moved(prev: DataFrame, nxt: DataFrame, key: str, col: str) -> DataFrame:
    """``fixpoint`` change count for keyed state: rows of ``nxt`` that
    are new or whose ``col`` differs from ``prev``."""
    old = prev.select(key, F.col(col).alias("__old"))
    return nxt.join(old, key, "left").agg(
        F.count(F.when(~F.col(col).eqNullSafe(F.col("__old")), 1)).alias("n_moved")
    )


def _monotone_delta(prev: DataFrame, nxt: DataFrame, *cols: str) -> DataFrame:
    """``fixpoint`` change count for monotone state, where each round
    only adds rows, only removes rows, or moves every ``col`` in one
    direction: |Δ row count| + Σ |Δ sum(col)|, zero iff nothing
    changed.  One aggregate over the union of both tables, no join;
    the sums are DECIMAL(38,0), so large ids cannot overflow them."""

    def signed(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            F.lit(sign).alias("__n"),
            *[(F.col(c).cast("decimal(38,0)") * sign).alias(c) for c in cols],
        )

    sums = [F.abs(F.coalesce(F.sum(c), F.lit(0))) for c in ("__n", *cols)]
    return signed(prev, -1).unionAll(signed(nxt, 1)).agg(
        sum(sums[1:], sums[0]).alias("n_moved")
    )


def _min_label_step(edges: DataFrame, id_name: str):
    """One min-label round over symmetric (src, dst) ``edges``: every
    node of the (id_name, label) state takes the minimum of its own
    and its neighbours' labels."""

    def step(labels: DataFrame) -> DataFrame:
        nmin = (
            edges.join(
                labels.select(
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
    """One synchronous k-core peel of (a, b) edges: keep the edges
    whose endpoints both have degree >= k."""

    def step(e: DataFrame) -> DataFrame:
        s = _degrees(e, "deg").where(F.col("deg") >= k).select("node")
        return (
            e.join(s.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(s.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )

    return step


def connected_components(pairs: DataFrame, id_name: str) -> DataFrame:
    """Distributed connected components over an undirected pair list
    (two id columns) by min-label propagation; returns (id_name,
    label), label = the minimum id of the component.  The ``fixpoint``
    budget is the node count: min-label converges within
    diameter + 1 <= n rounds, so the loop always reaches the fixpoint."""
    a, b = pairs.columns
    edges = (
        pairs.union(pairs.select(F.col(b), F.col(a))).toDF("src", "dst").persist()
    )
    labels = (
        edges.select(F.col("src").alias(id_name))
        .distinct()
        .withColumn("label", F.col(id_name))
        .localCheckpoint()
    )
    labels, _, _ = fixpoint(
        "connected_components",
        labels,
        _min_label_step(edges, id_name),
        max_rounds=labels.count(),
        changed=lambda prev, nxt: _monotone_delta(prev, nxt, "label"),
    )
    edges.unpersist()
    return labels


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
    stopping once every rank moved by less than ``tol``.  Rounds run
    through ``fixpoint``; the dangling mass is a 1-row aggregate
    folded in as a broadcast crossJoin, never a driver collect."""
    e = edges.toDF("src", "dst").persist()
    nodes = _nodes(e).persist()
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    dang = nodes.join(deg, nodes.node == deg.src, "left_anti").persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()

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

    ranks, _, _ = fixpoint(
        "pagerank",
        ranks,
        step,
        max_rounds=iters,
        changed=lambda _, nxt: nxt.agg(
            F.count(F.when(F.abs(F.col("rank") - F.col("prev")) >= tol, 1))
        ),
    )
    e.unpersist()
    nodes.unpersist()
    dang.unpersist()
    return ranks.select("node", "rank")


def k_core(edges: DataFrame, a_col: str, b_col: str, *, k: int = 3) -> DataFrame:
    """k-core decomposition of an undirected graph by synchronous
    peeling over caller-supplied edges (one row per undirected edge
    (a, b)): repeatedly drop nodes whose current degree is below k
    until fixpoint.  Returns the surviving (node, core_degree) set.
    Per round: one degree aggregation + two left-semi joins, run
    through ``fixpoint``; every round but the last drops an edge, so
    the edge count + 1 bounds the rounds and the fixpoint is always
    reached.  Order-independent, hence deterministic under any
    partitioning."""
    u = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct().localCheckpoint()
    core, _, _ = fixpoint(
        "k_core", u, _peel_step(k), max_rounds=u.count() + 1, changed=_monotone_delta
    )
    return _degrees(core, "core_degree")


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
    rounds.  Returns (node, label).

    Shape per half-round: one shuffle joining the label table to the
    adjacency on the neighbor key + one (node, label) count-argmax
    aggregation; rounds run through ``fixpoint``."""
    u = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct().localCheckpoint(eager=True)
    a_nodes = u.select(F.col("a").alias("node")).distinct()
    b_nodes = u.select(F.col("b").alias("node")).distinct()
    labels = (
        a_nodes.unionAll(b_nodes)
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
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

    labels, _, _ = fixpoint(
        "label_propagation",
        labels,
        lambda lbl: _half(_half(lbl, adj_b, b_nodes), adj_a, a_nodes),
        max_rounds=iters,
        changed=lambda prev, nxt: _n_moved(prev, nxt, "node", "label"),
    )
    return labels
