"""Semantic tests for the iterative graph kernels (operators/graph.py
and the fixpoint loop they share): pure-Python / NumPy replays of
HITS iterations, k-core peeling, min-label propagation, BFS and
longest-path relaxation over the same edge lists, plus the
convergence certificates and the per-round job descriptions."""

import duckdb
import pytest

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


def test_fixpoint_rounds_run_under_job_descriptions(spark):
    """Every fixpoint round runs its jobs under "<name> round <k>", and
    the caller's own job description is back in place afterwards."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def descriptions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {
            jobs.apply(i).jobId(): jobs.apply(i).description()
            for i in range(jobs.size())
        }

    seen = set(descriptions())
    # triangle 1-2-3 plus a pendant node 4: round 1 peels node 4,
    # round 2 peels nothing
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long")
    sc.setJobDescription("caller")
    try:
        core = api.k_core(edges, "a", "b", k=2).collect()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert {r.node for r in core} == {1, 2, 3}
    new = {
        d.get() for job, d in descriptions().items() if job not in seen and d.isDefined()
    }
    assert new == {"caller", "k_core round 1", "k_core round 2"}
