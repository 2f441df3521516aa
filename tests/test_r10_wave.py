"""Semantic tests for the r10 wave: compressed-index reads, the
Bloom prefilter, graph link scores, rank tests, check digits and the
rest of the wave.  Each test recomputes its metric INDEPENDENTLY
(pure Python over DuckDB-extracted raw data) rather than re-running
the Spark expression — the oracle-parity harness already proves
Spark==DuckDB; these prove both match the DEFINITION.  The
generation-eval metric tests live in test_eval.py."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _docs(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    return {int(i): (t.split(" "), int(n)) for i, t, n in rows}


# ---------------------------------------------------------------- #
# r10 wave 2: compressed-index reads + Bloom prefilter
# ---------------------------------------------------------------- #


def _qvecs(sf_dir):
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    return {
        int(v): [round(float(x) * 1_000_000) for x in emb]
        for v, emb in rows
    }


def test_bq_hamming_matches_popcount(spark, sf_dir):
    vecs = _qvecs(sf_dir)
    packed = {}
    for v, qv in vecs.items():
        w0 = sum(1 << (i - 1) for i in range(1, 33) if qv[i - 1] > 0)
        w1 = sum(1 << (i - 33) for i in range(33, 65) if qv[i - 1] > 0)
        packed[v] = (w0, w1)
    got = {}
    for r in run("vec_bq_hamming", spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.rnk, r.neighbor_id, r.hamming)
        )
    for q in range(8):
        qw = packed[q]
        dists = sorted(
            (
                bin(qw[0] ^ w0).count("1") + bin(qw[1] ^ w1).count("1"),
                v,
            )
            for v, (w0, w1) in packed.items()
            if v != q
        )
        want = [(i + 1, v, d) for i, (d, v) in enumerate(dists[:3])]
        assert sorted(got[q]) == want


def test_rq_encode_two_level_argmin(spark, sf_dir):
    vecs = _qvecs(sf_dir)
    c1 = {c: vecs[c] for c in range(4)}
    c2 = {c - 4: [x // 4 for x in vecs[c]] for c in range(4, 8)}
    rows = {r.vec_id: r for r in run("vec_rq_encode", spark, sf_dir).collect()}
    assert set(rows) == set(vecs)
    for v, qv in vecs.items():
        d1 = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, cv)), c)
            for c, cv in c1.items()
        )
        err1, code1 = d1[0]
        resid = [a - b for a, b in zip(qv, c1[code1])]
        d2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(resid, cv)), c)
            for c, cv in c2.items()
        )
        err2, code2 = d2[0]
        r = rows[v]
        assert (r.code1, r.err1, r.code2, r.err2) == (
            code1,
            err1,
            code2,
            err2,
        )
        assert r.err0 == sum(x * x for x in qv)


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    import hashlib

    rows = run("dedup_bloom_prefilter", spark, sf_dir).collect()
    assert rows, "probe side empty"
    for r in rows:
        # the Bloom guarantee: a true member is NEVER rejected
        if r.is_member == 1:
            assert r.maybe_member == 1, r.doc_id
        assert 0 <= r.n_hits <= 4
        assert r.maybe_member == (1 if r.n_hits == 4 else 0)
    # replay the hash positions for a sample of probe docs
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    bits = set()
    texts_a = set()
    probe = {}
    for doc_id, text in docs:
        h = hashlib.md5(text.encode()).hexdigest()
        pos = [int(h[4 * k : 4 * k + 4], 16) for k in range(4)]
        if doc_id % 2 == 0:
            bits.update(pos)
            texts_a.add(text)
        else:
            probe[int(doc_id)] = (pos, text)
    by_id = {r.doc_id: r for r in rows}
    for doc_id, (pos, text) in probe.items():
        r = by_id[doc_id]
        assert r.n_hits == sum(p in bits for p in pos)
        assert r.is_member == (1 if text in texts_a else 0)


# ---------------------------------------------------------------- #
# r10 wave 3: link prediction + bipartite projection
# ---------------------------------------------------------------- #


def _undirected_adj(sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT DISTINCT least(l_orderkey % 100, l_partkey % 100) a,
                        greatest(l_orderkey % 100, l_partkey % 100) b
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        WHERE l_orderkey % 100 <> l_partkey % 100
        """
    ).fetchall()
    adj = {}
    edges = set()
    for a, b in rows:
        a, b = int(a), int(b)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        edges.add((a, b))
    return adj, edges


def test_resource_allocation_matches_definition(spark, sf_dir):
    adj, edges = _undirected_adj(sf_dir)
    rows = {
        (r.node_a, r.node_b): r
        for r in run("graph_resource_allocation", spark, sf_dir).collect()
    }
    nodes = sorted(adj)
    n_checked = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            common = adj[a] & adj[b]
            if not common:
                assert (a, b) not in rows
                continue
            r = rows[(a, b)]
            assert r.common_cnt == len(common)
            assert r.ra_scaled == sum(10**12 // len(adj[z]) for z in common)
            assert r.is_edge == (1 if (a, b) in edges else 0)
            n_checked += 1
    assert n_checked == len(rows)
    # a rare mutual contact must outscore the same COUNT via hubs:
    # ra is degree-sensitive while common_cnt is not
    by_cnt = {}
    for r in rows.values():
        by_cnt.setdefault(r.common_cnt, set()).add(r.ra_scaled)
    assert any(len(v) > 1 for v in by_cnt.values())


def test_bipartite_projection_matches_definition(spark, sf_dir):
    pairs = duckdb.sql(
        f"""
        SELECT DISTINCT o.o_custkey % 40 AS cust, l.l_partkey % 60 AS part
        FROM read_parquet('{sf_dir}/lineitem.parquet') l
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    custs_of = {}
    for cust, part in pairs:
        custs_of.setdefault(int(part), set()).add(int(cust))
    rows = {
        (r.part_a, r.part_b): r
        for r in run("graph_bipartite_projection", spark, sf_dir).collect()
    }
    parts = sorted(custs_of)
    n_checked = 0
    for i, a in enumerate(parts):
        for b in parts[i + 1 :]:
            shared = custs_of[a] & custs_of[b]
            if not shared:
                assert (a, b) not in rows
                continue
            r = rows[(a, b)]
            assert r.weight == len(shared)
            assert r.deg_a == len(custs_of[a])
            assert r.deg_b == len(custs_of[b])
            assert r.overlap_jaccard == len(shared) / len(
                custs_of[a] | custs_of[b]
            )
            n_checked += 1
    assert n_checked == len(rows)


# ---------------------------------------------------------------- #
# r10 wave 4: ordered-alternative trend tests, Levene (mean),
# pairwise-distance dispersion
# ---------------------------------------------------------------- #


def _grid_series(sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) x
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    out = {}
    for et, d, x in rows:
        out.setdefault(et, {})[d] = int(x)
    return out


def test_jonckheere_matches_definition(spark, sf_dir):
    series = _grid_series(sf_dir)
    types = sorted(series)
    j2 = 0
    for i, t1 in enumerate(types):
        for t2 in types[i + 1 :]:
            for x1 in series[t1].values():
                for x2 in series[t2].values():
                    j2 += 2 if x1 < x2 else (1 if x1 == x2 else 0)
    ns = [len(series[t]) for t in types]
    N = sum(ns)
    e_j2 = (N * N - sum(n * n for n in ns)) // 2
    var72 = N * N * (2 * N + 3) - sum(n * n * (2 * n + 3) for n in ns)
    r = run("agg_jonckheere", spark, sf_dir).collect()[0]
    assert (r.n, r.j2, r.e_j2, r.var72) == (N, j2, e_j2, var72)
    assert r.z == ((j2 - e_j2) / 2.0) / math.sqrt(var72 / 72.0)


def test_page_l_matches_definition(spark, sf_dir):
    series = _grid_series(sf_dir)
    types = sorted(series)
    k = len(types)
    days = set.intersection(*(set(series[t]) for t in types))
    r2 = {t: 0 for t in types}
    for d in days:
        vals = [(series[t][d], t) for t in types]
        for v, t in vals:
            lt = sum(1 for w, _ in vals if w < v)
            eq = sum(1 for w, _ in vals if w == v)
            r2[t] += 2 * lt + eq + 1
    l2 = sum((i + 1) * r2[t] for i, t in enumerate(types))
    b = len(days)
    e_l2 = b * k * (k + 1) ** 2 // 2
    var144 = b * k**2 * (k - 1) * (k + 1) ** 2
    r = run("agg_page_l", spark, sf_dir).collect()[0]
    assert (r.blocks, r.l2, r.e_l2, r.var144) == (b, l2, e_l2, var144)
    assert r.z == ((l2 - e_l2) / 2.0) / math.sqrt(var144 / 144.0)


def test_levene_mean_matches_definition(spark, sf_dir):
    series = _grid_series(sf_dir)
    types = sorted(series)
    k = len(types)
    days = sorted(set.intersection(*(set(series[t]) for t in types)))
    n = len(days)
    T, den = {}, 0
    zq = {}
    for t in types:
        s = sum(series[t][d] for d in days)
        zq[t] = [abs(n * series[t][d] - s) for d in days]
        T[t] = sum(zq[t])
    G = sum(T.values())
    num = sum((k * T[t] - G) ** 2 for t in types)
    den = sum(
        (n * z - T[t]) ** 2 for t in types for z in zq[t]
    )
    r = run("agg_levene_mean", spark, sf_dir).collect()[0]
    assert (r.n_days, r.n_total) == (n, k * n)
    assert r.num_d == float(num) and r.den_d == float(den)
    want_w = (
        float(k * n - k) * float(n) * float(num)
    ) / (float((k - 1) * k**2) * float(den))
    assert r.w == want_w
    # sanity vs the statistic's definition computed in floats
    means = {t: sum(series[t][d] for d in days) / n for t in types}
    Z = {t: [abs(series[t][d] - means[t]) for d in days] for t in types}
    zbar_i = {t: sum(Z[t]) / n for t in types}
    zbar = sum(sum(Z[t]) for t in types) / (k * n)
    w_def = (
        (k * n - k)
        / (k - 1)
        * sum(n * (zbar_i[t] - zbar) ** 2 for t in types)
        / sum((v - zbar_i[t]) ** 2 for t in types for v in Z[t])
    )
    assert r.w == pytest.approx(w_def, rel=1e-9)


def _cents(sf_dir, et):
    return [
        int(v)
        for (v,) in duckdb.sql(
            f"""
            SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE event_type = '{et}'
            """
        ).fetchall()
    ]


def _pair_abs_sum(xs, ys):
    """O(n log n) replay of the ordered-pair |x-y| sum."""
    ys_sorted = sorted(ys)
    import bisect

    pre = [0]
    for y in ys_sorted:
        pre.append(pre[-1] + y)
    tot_n, tot_s = len(ys_sorted), pre[-1]
    out = 0
    for x in xs:
        le = bisect.bisect_right(ys_sorted, x)
        out += x * le - pre[le] + (tot_s - pre[le]) - x * (tot_n - le)
    return out


def test_energy_distance_matches_definition(spark, sf_dir):
    a, b = _cents(sf_dir, "click"), _cents(sf_dir, "purchase")
    s_ab = _pair_abs_sum(b, a)  # B rows against A prefix, as the query
    s_aa = _pair_abs_sum(a, a)
    s_bb = _pair_abs_sum(b, b)
    n, m = len(a), len(b)
    r = run("agg_energy_distance", spark, sf_dir).collect()[0]
    assert (r.n, r.m, r.s_ab, r.s_aa, r.s_bb) == (n, m, s_ab, s_aa, s_bb)
    want = 2.0 * s_ab / (n * m) - s_aa / (n * n) - s_bb / (m * m)
    assert r.energy_dist2 == want
    assert r.energy_dist2 >= 0.0  # energy distance is a metric


def test_gini_mean_diff_matches_definition(spark, sf_dir):
    rows = {
        r.event_type: r
        for r in run("agg_gini_mean_diff", spark, sf_dir).collect()
    }
    for et in ("click", "purchase", "view", "signup", "error"):
        xs = _cents(sf_dir, et)
        s = _pair_abs_sum(xs, xs)
        r = rows[et]
        assert (r.n, r.s_abs) == (len(xs), s)
        assert r.gmd_cents == s / (len(xs) * (len(xs) - 1.0))


# ---------------------------------------------------------------- #
# r10 wave 5: table-driven check digits + Hilbert curve
# ---------------------------------------------------------------- #

_VF_D = [
    [0,1,2,3,4,5,6,7,8,9],[1,2,3,4,0,6,7,8,9,5],[2,3,4,0,1,7,8,9,5,6],
    [3,4,0,1,2,8,9,5,6,7],[4,0,1,2,3,9,5,6,7,8],[5,9,8,7,6,0,4,3,2,1],
    [6,5,9,8,7,1,0,4,3,2],[7,6,5,9,8,2,1,0,4,3],[8,7,6,5,9,3,2,1,0,4],
    [9,8,7,6,5,4,3,2,1,0],
]
_VF_P = [
    [0,1,2,3,4,5,6,7,8,9],[1,5,7,6,2,8,3,0,9,4],[5,8,0,3,7,9,6,1,4,2],
    [8,9,1,6,0,4,3,5,2,7],[9,4,5,3,1,2,6,8,7,0],[4,2,8,6,5,7,3,9,0,1],
    [2,7,9,3,8,0,6,4,1,5],[7,0,4,6,9,1,3,2,5,8],
]
_VF_INV = [0,4,3,2,1,5,6,7,8,9]
_DAMM = [
    [0,3,1,7,5,9,8,6,4,2],[7,0,9,2,1,5,4,8,6,3],[4,2,0,6,8,7,1,3,5,9],
    [1,7,5,0,9,8,3,4,2,6],[6,1,2,3,0,4,5,9,7,8],[3,6,7,4,2,0,9,5,8,1],
    [5,8,6,9,7,2,0,1,3,4],[8,9,4,5,3,6,2,0,1,7],[9,4,3,8,6,1,7,2,0,5],
    [2,5,8,1,4,3,6,7,9,0],
]


def _verhoeff_check(payload: str) -> int:
    c = 0
    for i, ch in enumerate(reversed(payload), 1):
        c = _VF_D[c][_VF_P[i % 8][int(ch)]]
    return _VF_INV[c]


def _verhoeff_valid(num: str) -> bool:
    c = 0
    for i, ch in enumerate(reversed(num)):
        c = _VF_D[c][_VF_P[i % 8][int(ch)]]
    return c == 0


def _damm_check(payload: str) -> int:
    c = 0
    for ch in payload:
        c = _DAMM[c][int(ch)]
    return c


def _custs(sf_dir):
    return duckdb.sql(
        f"SELECT c_custkey, c_mktsegment FROM "
        f"read_parquet('{sf_dir}/customer.parquet')"
    ).fetchall()


def test_verhoeff_matches_reference(spark, sf_dir):
    rows = {
        r.c_mktsegment: r for r in run("fn_verhoeff", spark, sf_dir).collect()
    }
    agg = {}
    for ck, seg in _custs(sf_dir):
        pay = str(((int(ck) & 2147483647) * 2654435761) % 10**10).zfill(10)
        chk = _verhoeff_check(pay)
        assert _verhoeff_valid(pay + str(chk))
        a = agg.setdefault(seg, [0, 0, set()])
        a[0] += 1
        a[1] += chk
        a[2].add(chk)
    for seg, (n, s, dist) in agg.items():
        r = rows[seg]
        assert r.n_accounts == n and r.n_valid == n
        assert r.sum_check_digits == s
        assert r.n_distinct_checks == len(dist)


def test_damm_matches_reference_and_catches_errors(spark, sf_dir):
    rows = {
        r.c_mktsegment: r for r in run("fn_damm", spark, sf_dir).collect()
    }
    agg = {}
    for ck, seg in _custs(sf_dir):
        pay = str(((int(ck) & 2147483647) * 2654435761) % 10**10).zfill(10)
        chk = _damm_check(pay)
        assert _damm_check(pay + str(chk)) == 0
        # Damm catches every single-digit substitution
        mutated = pay[:4] + str((int(pay[4]) + 1) % 10) + pay[5:]
        assert _damm_check(mutated + str(chk)) != 0
        a = agg.setdefault(seg, [0, 0])
        a[0] += 1
        a[1] += chk
    for seg, (n, s) in agg.items():
        assert rows[seg].n_accounts == n and rows[seg].n_valid == n
        assert rows[seg].sum_check_digits == s


def test_ean13_mutation_always_caught(spark, sf_dir):
    for r in run("fn_ean13", spark, sf_dir).collect():
        assert r.n_valid == r.n_codes  # round trip
        assert r.n_valid_mutated == 0  # single-digit error detection


def _hilbert_xy2d(order: int, x: int, y: int) -> int:
    """The standard xy2d: the rotation reflects by the FULL grid
    (order-1), while the d2xy inverse reflects by the level's s."""
    d, s = 0, order // 2
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = order - 1 - x, order - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_curve_matches_reference(spark, sf_dir):
    rows = run("fn_hilbert_curve", spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.ok_roundtrip == 1
        assert r.hilbert_d == _hilbert_xy2d(256, r.x, r.y)
        seen.add((r.x, r.y, r.hilbert_d))
    # Hilbert is a bijection on the grid: distinct cells map to
    # distinct indices
    assert len({c[:2] for c in seen}) == len({c[2] for c in seen})
    # locality spot-check on the fixture where consecutive indices
    # happen to occur (sparse at small SF), plus the full property on
    # the reference walk over a complete 16x16 grid
    by_d = {c[2]: c[:2] for c in seen}
    for d_, (x, y) in by_d.items():
        if d_ + 1 in by_d:
            x2, y2 = by_d[d_ + 1]
            assert abs(x - x2) + abs(y - y2) == 1
    grid = {
        _hilbert_xy2d(16, x, y): (x, y)
        for x in range(16)
        for y in range(16)
    }
    assert sorted(grid) == list(range(256))  # bijection
    for d_ in range(255):  # every curve step is one grid step
        (x, y), (x2, y2) = grid[d_], grid[d_ + 1]
        assert abs(x - x2) + abs(y - y2) == 1


# ---------------------------------------------------------------- #
# r10 wave 6: SPC rules, DEMA/TEMA, Chaikin oscillator, ZigZag
# ---------------------------------------------------------------- #


def test_spc_rules_match_definition(spark, sf_dir):
    series = _grid_series(sf_dir)
    rows = {}
    for r in run("win_spc_rules", spark, sf_dir).collect():
        rows[(r.event_type, r.day)] = r
    for et, sd in series.items():
        days = sorted(sd)
        xs = [sd[d] for d in days]
        n, S = len(xs), sum(xs)
        Sx2 = sum(x * x for x in xs)
        flags = []
        for i, (d, x) in enumerate(zip(days, xs)):
            side = 1 if n * x - S > 0 else (-1 if n * x - S < 0 else 0)
            bey = [
                1 if (n * x - S) ** 2 > k * k * (n * Sx2 - S * S) else 0
                for k in (1, 2, 3)
            ]
            flags.append((side, *bey))
            r = rows[(et, d.isoformat())]
            assert (r.side, r.beyond1, r.beyond2, r.beyond3) == flags[-1]
            assert r.rule1 == bey[2]
            w3 = flags[max(0, i - 2) : i + 1]
            r2 = int(
                len(w3) == 3
                and (
                    sum(1 for s_, _, b2, _ in w3 if b2 and s_ == 1) >= 2
                    or sum(1 for s_, _, b2, _ in w3 if b2 and s_ == -1) >= 2
                )
            )
            w5 = flags[max(0, i - 4) : i + 1]
            r3 = int(
                len(w5) == 5
                and (
                    sum(1 for s_, b1, _, _ in w5 if b1 and s_ == 1) >= 4
                    or sum(1 for s_, b1, _, _ in w5 if b1 and s_ == -1) >= 4
                )
            )
            w8 = flags[max(0, i - 7) : i + 1]
            sides = {s_ for s_, *_ in w8}
            r4 = int(len(w8) == 8 and len(sides) == 1 and 0 not in sides)
            assert (r.rule2, r.rule3, r.rule4) == (r2, r3, r4), (et, d)


def _ema_step(prev, x_s, n):
    return (2 * x_s + (n - 1) * prev) // (n + 1)


def _tdiv(a, b):
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_dema_tema_matches_recurrence(spark, sf_dir):
    series = _grid_series(sf_dir)
    rows = {}
    for r in run("win_dema_tema", spark, sf_dir).collect():
        rows[(r.event_type, r.day)] = r
    for et, sd in series.items():
        days = sorted(sd)
        e1 = e2 = e3 = sd[days[0]] * 1000
        for i, d in enumerate(days):
            if i:
                x_s = sd[d] * 1000
                e1 = _tdiv(2 * x_s + 9 * e1, 11)
                e2 = _tdiv(2 * e1 + 9 * e2, 11)
                e3 = _tdiv(2 * e2 + 9 * e3, 11)
            r = rows[(et, d.isoformat())]
            assert r.ema_s == e1
            assert r.dema_s == 2 * e1 - e2
            assert r.tema_s == 3 * e1 - 3 * e2 + e3


def _ohlcv(sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) d,
               MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) h,
               MIN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) l,
               arg_max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
                       ts) c,
               COUNT(*) vol
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    out = {}
    for et, d, h, l, c, vol in rows:
        out.setdefault(et, []).append((d, int(h), int(l), int(c), int(vol)))
    return out


def test_chaikin_osc_matches_recurrence(spark, sf_dir):
    bars = _ohlcv(sf_dir)
    rows = {}
    for r in run("win_chaikin_osc", spark, sf_dir).collect():
        rows[(r.event_type, r.day)] = r
    for et, bs in bars.items():
        ad = 0
        e3 = e10 = None
        for d, h, l, c, vol in bs:
            mfv = 0 if h == l else _tdiv(vol * ((2 * c - h - l) * 1000), h - l)
            ad += mfv
            if e3 is None:
                e3, e10 = ad, ad
            else:
                e3 = _tdiv(2 * ad + 2 * e3, 4)
                e10 = _tdiv(2 * ad + 9 * e10, 11)
            r = rows[(et, d.isoformat())]
            assert r.ad_line_s == ad
            assert (r.ema3_s, r.ema10_s) == (e3, e10)
            assert r.chaikin_s == e3 - e10


def test_zigzag_pivots_match_state_machine(spark, sf_dir):
    bars = _ohlcv(sf_dir)
    got = {}
    for r in run("win_zigzag", spark, sf_dir).collect():
        got.setdefault(r.event_type, []).append(
            (r.confirm_day, r.pivot_idx, r.pivot_cents, r.pivot_kind)
        )
    total = 0
    for et, bs in bars.items():
        closes = [(d, c) for d, _, _, c, _ in bs]
        want = []
        dirn, ext, extidx = 1, closes[0][1], 1
        for idx in range(2, len(closes) + 1):
            d, c = closes[idx - 1]
            if dirn == 1 and 100 * c <= 95 * ext:
                want.append((d.isoformat(), extidx, ext, "high"))
                dirn, ext, extidx = -1, c, idx
            elif dirn == -1 and 100 * c >= 105 * ext:
                want.append((d.isoformat(), extidx, ext, "low"))
                dirn, ext, extidx = 1, c, idx
            elif dirn == 1 and c > ext:
                ext, extidx = c, idx
            elif dirn == -1 and c < ext:
                ext, extidx = c, idx
        assert sorted(got.get(et, [])) == sorted(
            (d, i, v, k) for d, i, v, k in want
        ), et
        total += len(want)
    assert total > 0  # the fixture must exercise flips


# ---------------------------------------------------------------- #
# r10 wave 7: corpus-linguistics text tier
# ---------------------------------------------------------------- #


def test_heaps_law_matches_definition(spark, sf_dir):
    docs = _docs(sf_dir)
    n_docs = max(docs) + 1
    rows = {r.decile: r for r in run("text_heaps_law", spark, sf_dir).collect()}
    assert sorted(rows) == list(range(1, 11))
    for dec in range(1, 11):
        cut = dec * n_docs // 10 - 1
        toks_cum = sum(
            len(t) for i, (t, _) in docs.items() if i <= cut
        )
        vocab = set()
        for i in sorted(docs):
            if i <= cut:
                vocab.update(docs[i][0])
        r = rows[dec]
        assert r.cut_doc == cut
        assert r.n_tokens_cum == toks_cum
        assert r.vocab_cum == len(vocab)
    # monotone growth, the Heaps property
    vs = [rows[d].vocab_cum for d in range(1, 11)]
    assert vs == sorted(vs)


def test_zipf_rank_matches_definition(spark, sf_dir):
    docs = _docs(sf_dir)
    tf = Counter(t for toks, _ in docs.values() for t in toks)
    ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = sorted(
        run("text_zipf_rank", spark, sf_dir).collect(), key=lambda r: r.rnk
    )
    f1 = ranked[0][1]
    for i, ((tk, freq), r) in enumerate(zip(ranked, rows), 1):
        assert (r.rnk, r.tk, r.freq) == (i, tk, freq)
        assert r.rank_freq_product == i * freq
        assert r.freq_ratio == freq / f1


def test_kwic_matches_definition(spark, sf_dir):
    docs = _docs(sf_dir)
    want = set()
    for doc_id, (toks, _) in docs.items():
        for p, t in enumerate(toks, 1):
            if t == "spark":
                left = " ".join(toks[max(p - 4, 0) : p - 1])
                right = " ".join(toks[p : p + 3])
                want.add((doc_id, p, left, right))
    got = {
        (r.doc_id, r.pos, r.left_ctx, r.right_ctx)
        for r in run("text_kwic", spark, sf_dir).collect()
    }
    assert got == want
    assert want  # keyword must occur in the fixture


# ---------------------------------------------------------------- #
# r10 wave 8: JPEG + TIFF wire-format parsers
# ---------------------------------------------------------------- #


def _jpeg_bytes(doc_id: int) -> bytes:
    cl = 10 + doc_id % 20
    h, w = 100 + doc_id % 400, 200 + doc_id % 300
    en = 30 + doc_id % 40
    out = b"\xff\xd8"
    out += b"\xff\xe0" + (16).to_bytes(2, "big")
    out += b"JFIF\x00" + bytes([1, 2, 0]) + (72).to_bytes(2, "big")
    out += (72).to_bytes(2, "big") + b"\x00\x00"
    out += b"\xff\xfe" + (cl + 2).to_bytes(2, "big")
    out += bytes((doc_id + j) % 255 for j in range(cl))
    out += b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
    out += h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
    out += bytes.fromhex("011100021101031101")
    out += b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03"
    out += bytes.fromhex("010002110311003f00")
    out += bytes((doc_id * 3 + j) % 255 for j in range(en))
    out += b"\xff\xd9"
    return out


def _parse_jpeg(b: bytes):
    """Independent marker walk over real bytes."""
    import struct

    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    off, segs = 2, {}
    while b[off : off + 2] != b"\xff\xda":
        marker = b[off + 1]
        (ln,) = struct.unpack(">H", b[off + 2 : off + 4])
        segs[marker] = (off, ln, b[off + 4 : off + 2 + ln])
        off += 2 + ln
    (ln,) = struct.unpack(">H", b[off + 2 : off + 4])
    ent = b[off + 2 + ln : -2]
    sof = segs[0xC0][2]
    return {
        "precision": sof[0],
        "height": struct.unpack(">H", sof[1:3])[0],
        "width": struct.unpack(">H", sof[3:5])[0],
        "ncomp": sof[5],
        "comment_len": segs[0xFE][1] - 2,
        "entropy": ent,
    }


def test_jpeg_parse_matches_struct_reader(spark, sf_dir):
    rows = {
        r.doc_id: r
        for r in run("multimodal_jpeg_parse", spark, sf_dir).collect()
    }
    assert len(rows) == 30
    for doc_id in range(30):
        b = _jpeg_bytes(doc_id)
        got = _parse_jpeg(b)
        r = rows[doc_id]
        assert r.markers_ok
        assert r.height == got["height"] and r.width == got["width"]
        assert r.precision_bits == got["precision"]
        assert r.n_components == got["ncomp"]
        assert r.comment_len == got["comment_len"]
        assert r.entropy_bytes == len(got["entropy"])
        assert r.entropy_sum == sum(got["entropy"])
        assert r.file_bytes == len(b)


def _tiff_bytes(doc_id: int) -> bytes:
    import struct

    le = doc_id % 2 == 0
    e = "<" if le else ">"
    w, h = 64 + doc_id % 100, 32 + doc_id % 50
    sb = 50 + doc_id % 60
    so = 8 + 2 + 4 * 12 + 4
    out = (b"II" if le else b"MM") + struct.pack(e + "H", 42)
    out += struct.pack(e + "I", 8)
    out += struct.pack(e + "H", 4)
    for tag, val in ((256, w), (257, h), (273, so), (279, sb)):
        out += struct.pack(e + "HHII", tag, 4, 1, val)
    out += struct.pack(e + "I", 0)
    out += bytes((doc_id * 7 + j) % 256 for j in range(sb))
    return out


def _parse_tiff(b: bytes):
    import struct

    e = "<" if b[:2] == b"II" else ">"
    (magic,) = struct.unpack(e + "H", b[2:4])
    (ifd,) = struct.unpack(e + "I", b[4:8])
    (n,) = struct.unpack(e + "H", b[ifd : ifd + 2])
    tags = {}
    for m in range(n):
        base = ifd + 2 + 12 * m
        tag, typ, cnt, val = struct.unpack(e + "HHII", b[base : base + 12])
        tags[tag] = val
    (nxt,) = struct.unpack(e + "I", b[ifd + 2 + 12 * n : ifd + 6 + 12 * n])
    return magic, n, tags, nxt


def test_tiff_parse_handles_both_endiannesses(spark, sf_dir):
    rows = {
        r.doc_id: r
        for r in run("multimodal_tiff_parse", spark, sf_dir).collect()
    }
    assert len(rows) == 40
    orders = set()
    for doc_id in range(40):
        b = _tiff_bytes(doc_id)
        magic, n, tags, nxt = _parse_tiff(b)
        r = rows[doc_id]
        orders.add(r.byte_order)
        assert r.byte_order == ("II" if doc_id % 2 == 0 else "MM")
        assert r.header_ok
        assert (r.magic, r.ifd_entries, r.next_ifd) == (magic, n, nxt)
        assert r.width == tags[256] and r.height == tags[257]
        assert r.strip_offset == tags[273]
        assert r.strip_bytes == tags[279]
        strip = b[tags[273] : tags[273] + tags[279]]
        assert r.strip_sum == sum(strip)
    assert orders == {"II", "MM"}  # both endiannesses exercised


# ---------------------------------------------------------------- #
# r10 wave 9: Holt-Winters, chrF, eccentricity, layout report, base58
# ---------------------------------------------------------------- #


def test_holt_winters_matches_recurrence(spark, sf_dir):
    series = _grid_series(sf_dir)
    rows = {}
    for r in run("win_holt_winters", spark, sf_dir).collect():
        rows[(r.event_type, r.day)] = r
    for et, sd in series.items():
        days = sorted(sd)
        l, b = sd[days[0]] * 1000, 0
        s = [0] * 7
        for idx in range(2, len(days) + 1):
            d = days[idx - 1]
            x = sd[d] * 1000
            slot = (idx - 1) % 7
            sp = s[slot]
            fc = l + b + sp
            l_new = _tdiv(x - sp + l + b, 2)
            b = _tdiv(l_new - l + b, 2)
            s[slot] = _tdiv(x - l_new + sp, 2)
            l = l_new
            r = rows[(et, d.isoformat())]
            assert (r.level_s, r.trend_s, r.forecast_s) == (l, b, fc)
            assert r.resid_s == x - fc


def test_layout_cluster_hilbert_beats_rowmajor(spark, sf_dir):
    rows = run("pipeline_layout_cluster", spark, sf_dir).collect()
    custs = [ck for ck, _ in _custs(sf_dir)]
    pts = [(ck % 256, (ck * 7) % 256) for ck in custs]
    per_file = 65536 // 16
    want = {}
    for (x, y), ck in zip(pts, custs):
        hf = _hilbert_xy2d(256, x, y) // per_file
        rf = (x * 256 + y) // per_file
        for layout, fid in (("hilbert", hf), ("rowmajor", rf)):
            box = want.setdefault((layout, fid), [0, 256, -1, 256, -1])
            box[0] += 1
            box[1], box[2] = min(box[1], x), max(box[2], x)
            box[3], box[4] = min(box[3], y), max(box[4], y)
    assert len(rows) == len(want)
    totals = {"hilbert": 0, "rowmajor": 0}
    for r in rows:
        n, mnx, mxx, mny, mxy = want[(r.layout, r.file_id)]
        assert (r.n_points, r.min_x, r.max_x, r.min_y, r.max_y) == (
            n, mnx, mxx, mny, mxy,
        )
        assert r.bbox_area == (mxx - mnx + 1) * (mxy - mny + 1)
        totals[r.layout] += r.bbox_area
    # the report's whole point: the curve layout prunes better
    assert totals["hilbert"] < totals["rowmajor"]


def test_base58_roundtrip_and_reference(spark, sf_dir):
    alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    rows = {
        r.c_mktsegment: r for r in run("fn_base58", spark, sf_dir).collect()
    }
    agg = {}
    for ck, seg in _custs(sf_dir):
        v = ((int(ck) & 2147483647) * 2654435761) % 10**10
        code = "".join(
            alpha[(v // 58**k) % 58] for k in range(5, -1, -1)
        )
        back = sum(
            alpha.index(c) * 58 ** (5 - i) for i, c in enumerate(code)
        )
        assert back == v
        a = agg.setdefault(seg, [0, set()])
        a[0] += 1
        a[1].add(code)
    for seg, (n, codes) in agg.items():
        r = rows[seg]
        assert r.n_codes == n and r.n_roundtrip == n
        assert r.n_distinct_codes == len(codes)
        assert r.min_code == min(codes) and r.max_code == max(codes)


# ---------------------------------------------------------------- #
# r10 wave 10: Brunner-Munzel, sampling census, importance weights
# ---------------------------------------------------------------- #


def test_brunner_munzel_matches_rank_reference(spark, sf_dir):
    series = _grid_series(sf_dir)
    a = sorted(series["click"].values())
    b = sorted(series["purchase"].values())
    n, m = len(a), len(b)
    comb = sorted(a + b)

    def midrank2(xs, v):
        lt = sum(1 for x in xs if x < v)
        eq = sum(1 for x in xs if x == v)
        return 2 * lt + eq + 1

    r2c_a = [midrank2(comb, v) for v in a]
    r2c_b = [midrank2(comb, v) for v in b]
    r2a = [midrank2(a, v) for v in a]
    r2b = [midrank2(b, v) for v in b]
    t2_a, t2_b = sum(r2c_a), sum(r2c_b)
    e_a = sum(
        (n * (rc - ri) - t2_a + n * (n + 1)) ** 2
        for rc, ri in zip(r2c_a, r2a)
    )
    e_b = sum(
        (m * (rc - ri) - t2_b + m * (m + 1)) ** 2
        for rc, ri in zip(r2c_b, r2b)
    )
    r = run("agg_brunner_munzel", spark, sf_dir).collect()[0]
    assert (r.n, r.m, r.t2_a, r.t2_b, r.e_a, r.e_b) == (
        n, m, t2_a, t2_b, e_a, e_b,
    )
    # the collapsed T equals the canonical brunner.munzel.test form
    mean1, mean2 = t2_a / (2 * n), t2_b / (2 * m)
    v1 = (e_a / (4 * n * n)) / (n - 1)
    v2 = (e_b / (4 * m * m)) / (m - 1)
    t_canon = (
        n * m * (mean2 - mean1) / (n + m) / math.sqrt(n * v1 + m * v2)
    )
    assert r.t_stat == pytest.approx(t_canon, rel=1e-12)
    assert r.p_hat == (t2_b - m * (m + 1)) / (2.0 * n * m)
    assert 0.0 <= r.p_hat <= 1.0


def test_sampling_census_matches_definition(spark, sf_dir):
    rows = {
        r.ctx_id: r
        for r in run("pipeline_sampling_census", spark, sf_dir).collect()
    }
    for ctx in range(20):
        ws = sorted(
            (
                (1 + ((ctx * 13 + tok * 7) % 97) ** 2, tok)
                for tok in range(1, 51)
            ),
            key=lambda p: (-p[0], p[1]),
        )
        total = sum(w for w, _ in ws)
        cum = 0
        cums = []
        for w, _ in ws:
            cum += w
            cums.append(cum)
        nucleus = next(
            i + 1 for i, c in enumerate(cums) if 100 * c >= 90 * total
        )
        r = rows[ctx]
        assert r.total_w == total
        assert r.topk_mass == cums[9]
        assert r.topk_share == cums[9] / total
        assert r.nucleus_size == nucleus
        assert r.top1_share == ws[0][0] / total
        assert 1 <= r.nucleus_size <= 50


def test_importance_weights_recover_target_mix(spark, sf_dir):
    docs = _docs(sf_dir)
    langs = duckdb.sql(
        f"SELECT lang, count(*) FROM "
        f"read_parquet('{sf_dir}/documents.parquet') GROUP BY 1"
    ).fetchall()
    counts = {l: int(c) for l, c in langs}
    total = sum(counts.values())
    target = {"de": 150, "en": 400, "es": 150, "fr": 100, "zh": 200}
    rows = {
        r.lang: r
        for r in run("pipeline_importance_weights", spark, sf_dir).collect()
    }
    assert set(rows) == set(counts)
    for lang, n in counts.items():
        r = rows[lang]
        w = target[lang] * total * 1000 // (1000 * n)
        assert r.n_docs == n
        assert r.target_permille == target[lang]
        assert r.source_permille == n * 1000 // total
        assert r.weight_ppk == w
        assert r.expected_docs == w * n // 1000
        # the reweighted share approaches the target (floor slack)
        assert abs(r.expected_docs * 1000 - target[lang] * total) <= 1000 * (
            n // 1000 + 2
        )
