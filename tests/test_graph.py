"""Semantic tests for the iterative graph kernels (operators/graph.py
and the fixpoint loop they share): pure-Python / NumPy replays of
HITS iterations, k-core peeling, min-label propagation, BFS and
longest-path relaxation over the same edge lists, plus the
convergence certificates and the per-round job descriptions."""

from collections import Counter

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st

from big_data_analysis_spark import api
from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def test_hits_matches_numpy_iteration(spark, sf_dir):
    """graph_hits must agree with an independent NumPy replay of the
    same max-normalized Kleinberg iteration to 1e-9 and be
    deterministic across runs to the same tolerance."""
    import numpy as np

    from big_data_analysis_spark.operators.graph import _edges, graph_hits

    edges = _edges(spark, sf_dir).collect()
    nodes = sorted({r["src"] for r in edges} | {r["dst"] for r in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(12):
        a_raw = np.zeros(n)
        for r in edges:
            a_raw[idx[r["dst"]]] += hub[idx[r["src"]]]
        auth = a_raw / max(a_raw.max(), 1e-300)
        h_raw = np.zeros(n)
        for r in edges:
            h_raw[idx[r["src"]]] += auth[idx[r["dst"]]]
        hub = h_raw / max(h_raw.max(), 1e-300)
    got = {r["node"]: (r["hub"], r["auth"]) for r in run("graph_hits", spark, sf_dir).collect()}
    assert len(got) == n
    for v in nodes:
        assert abs(got[v][0] - hub[idx[v]]) < 1e-9, v
        assert abs(got[v][1] - auth[idx[v]]) < 1e-9, v
    again = {r["node"]: (r["hub"], r["auth"]) for r in run("graph_hits", spark, sf_dir).collect()}
    for v in nodes:
        assert abs(got[v][0] - again[v][0]) < 1e-9
        assert abs(got[v][1] - again[v][1]) < 1e-9


def test_k_core_exact_matches_fixpoint_peel(spark, sf_dir):
    """10 fixed rounds must land on the true k-core fixpoint for the
    fixture (peeling converges by round ~2 here — the docstring's
    convergence claim)."""
    edges = set(
        duckdb.sql(
            f"""SELECT DISTINCT l_orderkey, -l_partkey - 1
                FROM read_parquet('{sf_dir}/lineitem.parquet')"""
        ).fetchall()
    )
    from collections import Counter

    while True:
        deg = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, d in deg.items() if d >= 3}
        ne = {(a, b) for a, b in edges if a in keep and b in keep}
        if ne == edges:
            break
        edges = ne
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    want = {n: d for n, d in deg.items() if d >= 3}
    got = {r.node: r.core_degree for r in run("graph_k_core_exact", spark, sf_dir).collect()}
    assert got == want


def test_connected_components_true_partition(spark, sf_dir):
    """The fixed-round min-label output must equal real connected
    components (union-find ground truth), with each component
    labeled by its minimum node id."""
    und = duckdb.sql(
        f"""
        SELECT DISTINCT src, dst FROM (
          SELECT l_orderkey % 100 src, l_partkey % 100 dst
          FROM read_parquet('{sf_dir}/lineitem.parquet')
          UNION
          SELECT l_partkey % 100, l_orderkey % 100
          FROM read_parquet('{sf_dir}/lineitem.parquet')
        ) WHERE src <> dst
        """
    ).fetchall()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in und:
        parent[find(s)] = find(d)
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        lbl = min(members)
        for m in members:
            want[m] = lbl
    got = {
        r.node: r.component
        for r in run("graph_connected_components", spark, sf_dir).collect()
    }
    assert got == want


def test_hits_exact_python_replay(spark, sf_dir):
    """Fixed-round integer HITS replayed with unbounded Python ints
    over the same edge list — exact equality per node."""
    edges = duckdb.sql(
        f"""SELECT DISTINCT l_orderkey % 100, l_partkey % 100
            FROM read_parquet('{sf_dir}/lineitem.parquet')
            WHERE l_orderkey % 100 <> l_partkey % 100"""
    ).fetchall()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    S = 10**6
    h = {n: S for n in nodes}
    a = None
    for _ in range(10):
        ar = {n: 0 for n in nodes}
        for s, d in edges:
            ar[d] += h[s]
        am = max(ar.values())
        a = {n: ar[n] * S // am for n in nodes}
        hr = {n: 0 for n in nodes}
        for s, d in edges:
            hr[s] += a[d]
        hm = max(hr.values())
        h = {n: hr[n] * S // hm for n in nodes}
    got = {
        r.node: (r.hub_scaled, r.auth_scaled)
        for r in run("graph_hits_exact", spark, sf_dir).collect()
    }
    assert got == {n: (h[n], a[n]) for n in nodes}


def test_convergence_certificates_fixpointed(spark, sf_dir):
    """The three kernels whose fixed round count covers the fixture's
    diameter/peel depth must now SAY so in-output: the certificate
    column is 0 on every row (and would be graded nonzero — visibly —
    if a larger graph ever out-ran the round budget)."""
    cc = run("graph_connected_components", spark, sf_dir).collect()
    assert cc and all(r.n_changed_last_round == 0 for r in cc)
    kc = run("graph_k_core_exact", spark, sf_dir).collect()
    assert kc and all(r.n_edges_removed_last_round == 0 for r in kc)
    hits = run("graph_hits_exact", spark, sf_dir).collect()
    assert hits and all(r.hub_residual_scaled == 0 for r in hits)


def test_closeness_matches_python_bfs(spark, sf_dir):
    """All-pairs hop distances replayed with a per-source Python BFS;
    closeness and exact harmonic60 recomputed."""
    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT l_orderkey % 100 AS s, l_partkey % 100 AS d
            FROM '{sf_dir}/lineitem.parquet'
            WHERE l_orderkey % 100 <> l_partkey % 100"""
    ).fetchall()
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        adj[s].append(d)
        nodes.add(s)
    rows = {r.src: r for r in run("graph_closeness", spark, sf_dir).collect()}
    assert set(rows) == nodes
    for src in nodes:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            v = dq.popleft()
            for w in adj.get(v, []):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
        reach = {v: d for v, d in dist.items() if d > 0}
        r = rows[src]
        assert r.n_reached == len(reach)
        assert r.sum_dist == sum(reach.values())
        assert r.harmonic60 == sum(60 // d for d in reach.values())
        assert r.closeness == pytest.approx(
            len(reach) / sum(reach.values()), rel=1e-12
        )


def test_eccentricity_matches_bfs(spark, sf_dir):
    adj = {}
    for a, b in duckdb.sql(
        f"""
        SELECT DISTINCT l_orderkey % 100 src, l_partkey % 100 dst
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        WHERE l_orderkey % 100 <> l_partkey % 100
        """
    ).fetchall():
        adj.setdefault(int(a), set()).add(int(b))
    rows = {
        r.src: r for r in run("graph_eccentricity", spark, sf_dir).collect()
    }
    from collections import deque

    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= 6:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        r = rows[src]
        assert r.eccentricity == max(dist.values())
        assert r.n_reached == len(dist) - 1


def test_critical_path_matches_dag_dp(spark, sf_dir):
    """Longest <=6-edge path replayed with a bounded DP over the a<b
    DAG; the full DP (unbounded) upper-bounds the 6-round value."""
    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT l_orderkey % 100 AS s, l_partkey % 100 AS d
            FROM '{sf_dir}/lineitem.parquet'
            WHERE l_orderkey % 100 < l_partkey % 100"""
    ).fetchall()
    w = {(s, d): 1 + (s + d) % 5 for s, d in edges}
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    dist = {v: 0 for v in nodes}
    for _ in range(6):
        nxt = dict(dist)
        for (s, d), wt in w.items():
            nxt[d] = max(nxt[d], dist[s] + wt)
        dist = nxt
    rows = {r.node: r for r in run("graph_critical_path", spark, sf_dir).collect()}
    assert set(rows) == set(nodes)
    for v in nodes:
        assert rows[v].longest_dist == dist[v]
        assert rows[v].rounds == 6
    # sanity: some node accumulated a genuinely multi-hop path
    assert max(dist.values()) > max(w.values())


def _jobs(spark):
    """Every job the status store holds, by job id."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    js = sc._jsc.sc().statusStore().jobsList(None)
    return {js.apply(i).jobId(): js.apply(i) for i in range(js.size())}


def _executions(spark):
    """SQL executions by id: one per action, whatever number of jobs
    AQE splits it into."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}


def test_fixpoint_rounds_run_under_job_descriptions(spark):
    """Every fixpoint round runs its jobs under "<name> round <k>", and
    the caller's own job description is back in place afterwards.
    The only action api.k_core runs is an eager localCheckpoint: once
    for its seed, whose checkpoint also observes the round budget,
    and once per round."""
    import re

    sc = spark.sparkContext

    def jobs():
        return {j: job.description() for j, job in _jobs(spark).items()}

    seen_jobs, seen_executions = set(jobs()), set(_executions(spark))
    # triangle 1-2-3 plus a pendant node 4: round 1 peels node 4,
    # round 2 peels nothing
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long")
    sc.setJobDescription("caller")
    try:
        core = api.k_core(edges, "a", "b", k=2)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        sc.setJobDescription("collect")
        rows = core.collect()
    finally:
        sc.setJobDescription(None)
    assert {r.node for r in rows} == {1, 2, 3}
    new_jobs = {d.get() for j, d in jobs().items() if j not in seen_jobs and d.isDefined()}
    assert new_jobs == {"caller", "k_core round 1", "k_core round 2", "collect"}
    # each round's change count rides on the jobs that fill its
    # checkpoint (no round runs a separate collect), and the seed's
    # row count on the seed checkpoint (no separate count)
    new_actions = [
        (e.description(), re.search(r"Dataset\.(\w+)\(", e.details()).group(1))
        for i, e in sorted(_executions(spark).items())
        if i not in seen_executions
    ]
    assert new_actions == [
        ("caller", "localCheckpoint"),
        ("k_core round 1", "localCheckpoint"),
        ("k_core round 2", "localCheckpoint"),
        ("collect", "collectToPython"),
    ], new_actions


# each query whose fixpoint joins a loop-invariant edge table, and the
# name its rounds run under
_EDGE_LOOPS = {
    "graph_sssp_weighted": "graph_sssp_weighted",
    "graph_bfs_distance": "graph_bfs_distance",
    "graph_hits": "graph_hits",
    "graph_closeness": "graph_closeness",
    "graph_critical_path": "graph_critical_path",
    "graph_eccentricity": "graph_eccentricity",
    "graph_connected_components": "graph_connected_components",
    "dedup_cluster_cc": "connected_components",
}


@pytest.mark.parametrize("name", sorted(_EDGE_LOOPS))
def test_fixpoint_rounds_read_no_cached_plan(spark, sf_dir, name):
    """The edge table a fixpoint round joins is a checkpoint built
    before the loop, never a persisted frame: AQE does not coalesce a
    cached plan, so a round that scans one runs a task for each of
    its spark.sql.shuffle.partitions partitions, however small the
    graph.  The query runs once to warm the parquet schema memo, then
    once counted; graph_connected_components' min-label round is one
    union and one group-by, which keeps its build plus collect at 13
    jobs (18 with an aggregate and a left join per round)."""
    import re

    run(name, spark, sf_dir).collect()
    seen_jobs, seen_executions = set(_jobs(spark)), set(_executions(spark))
    run(name, spark, sf_dir).collect()
    rounds = [
        e
        for i, e in _executions(spark).items()
        if i not in seen_executions
        and re.fullmatch(rf"{_EDGE_LOOPS[name]} round \d+", e.description() or "")
    ]
    assert rounds
    cached = [
        e.description()
        for e in rounds
        if "InMemoryTableScan" in e.physicalPlanDescription()
    ]
    assert not cached, cached
    if name == "graph_connected_components":
        n_jobs = len(set(_jobs(spark)) - seen_jobs)
        assert n_jobs <= 13, n_jobs


# the most jobs one round of each kernel may run at sf0.001, and the
# name its rounds run under.  HITS reads each half-step's max, and
# exact PageRank its node count, as a literal; label propagation and
# exact HITS carry each round's previous state as ``prev``.  Where each
# round crossJoined a 1-row aggregate or re-joined its own state, the
# busiest rounds ran 15, 14, 16 and 16 jobs.  Exact HITS runs 12 or 13
# from run to run (AQE's stage timing), so its budget has one to spare.
_ROUND_JOB_BUDGET = {
    "graph_hits": ("graph_hits", 11),
    "graph_hits_exact": ("graph_hits_exact", 14),
    "graph_pagerank_exact": ("graph_pagerank_exact", 11),
    "graph_label_propagation": ("label_propagation", 11),
}


@pytest.mark.parametrize("name", sorted(_ROUND_JOB_BUDGET))
def test_fixpoint_round_job_budget(spark, sf_dir, name):
    """No round of a query's fixpoint runs more jobs than its budget."""
    import re

    loop, budget = _ROUND_JOB_BUDGET[name]
    seen = set(_jobs(spark))
    run(name, spark, sf_dir).collect()
    per_round = Counter(
        job.description().get()
        for j, job in _jobs(spark).items()
        if j not in seen
        and job.description().isDefined()
        and re.fullmatch(rf"{loop} round \d+", job.description().get())
    )
    assert per_round
    assert max(per_round.values()) <= budget, per_round


def test_observed_checkpoint_on_an_empty_frame(spark):
    """Over no rows a max observes None and a count 0, and both come
    back from the one SQL execution that fills the checkpoint."""
    from pyspark.sql import functions as F

    from big_data_analysis_spark.fixpoint import observed_checkpoint

    seen = set(_executions(spark))
    cp, values = observed_checkpoint(
        spark.range(0), m=F.max("id"), n=F.count(F.lit(1))
    )
    assert values == {"m": None, "n": 0}
    assert len(set(_executions(spark)) - seen) == 1
    assert cp.count() == 0


def test_normalized_graph_kernels_on_an_empty_graph(spark, sf_dir, monkeypatch):
    """An empty edge table gives no rows: the observed HITS max is
    None there, which becomes a null literal rather than SQL text, and
    exact PageRank's node count is 0."""
    import big_data_analysis_spark.operators.graph as g

    monkeypatch.setattr(
        g, "_edges", lambda spark, sf_dir: spark.createDataFrame([], "src long, dst long")
    )
    for fn in (g.graph_hits, g.graph_hits_exact, g.graph_pagerank_exact):
        assert fn(spark, sf_dir).collect() == [], fn.__name__


def test_fixpoint_on_empty_state_runs_one_round(spark):
    """An empty state counts 0 changed rows: one round, then stop."""
    from pyspark.sql import functions as F

    from big_data_analysis_spark.fixpoint import fixpoint

    calls = []

    def step(state):
        calls.append(1)
        return state

    empty = spark.range(0).withColumn("__delta", F.lit(True))
    state, prev, rounds, n = fixpoint(
        "empty", empty, step, max_rounds=5, changed=F.count(F.when(F.col("__delta"), 1))
    )
    assert (rounds, n, len(calls), state.count(), prev.count()) == (1, 0, 1, 0, 0)


def _python_min_label_round(edges):
    """One min-label round over undirected ``edges`` from the node
    ids: the labels and how many of them moved."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {v: min(v, *adj[v]) for v in adj}
    return lbl, sum(lbl[v] != v for v in adj)


def _python_peel(edges, k, rounds=None):
    """Synchronous k-core peel of the distinct (a, b) rows, ``rounds``
    rounds (None: to the fixpoint); returns the surviving edges and
    how many the last round run peeled."""
    edges, peeled, r = set(edges), 0, 0
    while rounds is None or r < rounds:
        deg = Counter(v for e in edges for v in e)
        keep = {(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k}
        peeled, r, edges = len(edges) - len(keep), r + 1, keep
        if not peeled:
            break
    return edges, peeled


def _lineitem_edges(sf_dir, sql):
    return duckdb.sql(
        sql.replace("lineitem", f"read_parquet('{sf_dir}/lineitem.parquet')")
    ).fetchall()


def test_certificates_count_the_flag_when_the_budget_runs_out(
    spark, sf_dir, monkeypatch
):
    """With a one-round budget the loops stop before the fixpoint, so
    the certificates come from the in-plan count of the round's flag:
    labels that moved in round 1, edges peeled in round 1."""
    import big_data_analysis_spark.operators.graph as g

    monkeypatch.setattr(g, "_CC_ROUNDS", 1)
    monkeypatch.setattr(g, "_KCORE_EXACT_ROUNDS", 1)
    und = _lineitem_edges(sf_dir, g._CC_EDGE_SQL)
    want_lbl, want_moved = _python_min_label_round(und)
    assert want_moved > 0
    cc = g.graph_connected_components(spark, sf_dir).collect()
    assert {r.node: r.component for r in cc} == want_lbl
    assert {r.n_changed_last_round for r in cc} == {want_moved}

    kept, want_peeled = _python_peel(
        _lineitem_edges(sf_dir, g._KCORE_EDGE_SQL), g._KCORE_K, rounds=1
    )
    assert want_peeled > 0
    deg = Counter(v for e in kept for v in e)
    kc = g.graph_k_core_exact(spark, sf_dir).collect()
    assert {r.node: r.core_degree for r in kc} == {
        v: d for v, d in deg.items() if d >= g._KCORE_K
    }
    assert {r.n_edges_removed_last_round for r in kc} == {want_peeled}


def test_pagerank_and_label_propagation_mark_convergence(spark):
    """``converged`` is true iff the last round moved nothing: a
    budget that runs out first marks the output instead of hiding it."""
    skewed = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    cycle = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    short = api.pagerank(spark, skewed, iters=2).collect()
    # uniform ranks are the cycle's fixpoint: round 1 moves nothing
    full = api.pagerank(spark, cycle, iters=5).collect()
    assert {r.converged for r in short} == {False}
    assert {r.converged for r in full} == {True}

    bip = spark.createDataFrame(
        [(1, -1), (1, -2), (2, -2), (2, -3), (3, -3), (3, -4)], "a long, b long"
    )
    short = api.label_propagation(bip, "a", "b", iters=1).collect()
    full = api.label_propagation(bip, "a", "b", iters=50).collect()
    assert {r.converged for r in short} == {False}
    assert {r.converged for r in full} == {True}


_node = st.integers(min_value=0, max_value=7)
_pairs = st.one_of(
    st.lists(st.tuples(_node, _node), max_size=14),
    # one hot node: every pair touches node 0
    st.lists(_node, max_size=14).map(lambda vs: [(0, v) for v in vs]),
)


@given(pairs=_pairs, k=st.integers(min_value=1, max_value=3))
@example(pairs=[], k=2)
@example(pairs=[(3, 3)], k=1)
@example(pairs=[(1, 2), (1, 2), (2, 1), (2, 3), (2, 3)], k=2)
@example(pairs=[(0, v) for v in range(1, 8)] + [(1, 2)], k=2)
@settings(max_examples=10, deadline=None)
def test_api_cc_and_k_core_match_python_models(spark, pairs, k):
    """api.connected_components against union-find and api.k_core
    against a pure-Python peel of the distinct (a, b) rows, on
    generated pair lists that include empty, self-loop,
    duplicate-pair and one-hot-node inputs."""
    df = spark.createDataFrame(pairs, "x long, y long")
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp_min = {}
    for v in list(parent):
        comp_min[find(v)] = min(comp_min.get(find(v), v), v)
    got = {r.nid: r.label for r in api.connected_components(df, "nid").collect()}
    assert got == {v: comp_min[find(v)] for v in parent}

    kept, _ = _python_peel(pairs, k)
    deg = Counter(v for e in kept for v in e)
    got = {(r.node, r.core_degree) for r in api.k_core(df, "x", "y", k=k).collect()}
    assert got == set(deg.items())


def test_api_cc_null_id_keeps_a_null_label(spark):
    """A null id in the pair list is a node of its own: it matches no
    join key, so it sends and takes no label and keeps label null,
    while the ids around it still join their components."""
    df = spark.createDataFrame([(1, 2), (2, None), (None, 3), (3, 4)], "x long, y long")
    got = {r.nid: r.label for r in api.connected_components(df, "nid").collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, None: None}
