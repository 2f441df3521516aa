"""Definition-replay tests for the r11 wave 1 — the DP geometric
histogram, CUPED, Mantel-Haenszel, tabular CUSUM and PMI
collocations.  Each test recomputes the operator INDEPENDENTLY in
pure Python (hashlib/fractions over DuckDB-extracted raw tables)
rather than re-running the Spark expressions — oracle parity already
proves Spark==DuckDB; these prove both match the DEFINITION."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from fractions import Fraction

import duckdb

from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _docs(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE text IS NOT NULL"
    ).fetchall()
    return {int(i): t.split(" ") for i, t in rows}


def test_dp_histogram_noise_is_inverse_cdf_geometric(spark, sf_dir):
    from big_data_analysis_spark.plans.experiment import (
        _dp_thresholds,
    )

    th = _dp_thresholds()
    # thresholds are a strictly increasing exact partition of 2^40
    assert th[-1][1] == 1 << 40
    assert all(th[i][1] < th[i + 1][1] for i in range(len(th) - 1))
    truth = dict(
        duckdb.sql(
            f"SELECT event_type || '|' || CAST(dayofweek(ts) + 1 AS VARCHAR),"
            f" CAST(COUNT(*) AS BIGINT)"
            f" FROM read_parquet('{sf_dir}/events.parquet')"
            f" GROUP BY 1"
        ).fetchall()
    )
    rows = run("pipeline_dp_histogram", spark, sf_dir).collect()
    assert len(rows) == len(truth)
    for r in rows:
        key = f"{r.event_type}|{r.dow}"
        assert r.true_cnt == truth[key]
        u = int(hashlib.md5(f"dp|{key}".encode()).hexdigest()[:10], 16)
        noise = next(k for k, t in th if u < t)
        assert r.noise == noise
        assert r.released_cnt == max(0, r.true_cnt + noise)
        assert r.abs_err == abs(noise)


def test_cuped_matches_python_exact_moments(spark, sf_dir):
    rows = duckdb.sql(
        f"SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),"
        f" ts < TIMESTAMP '2024-01-16 00:00:00'"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    acc = defaultdict(lambda: [0, 0, 0, 0])  # x, y, n_pre, n_post
    for uid, cents, pre in rows:
        a = acc[uid]
        if pre:
            a[0] += cents
            a[2] += 1
        else:
            a[1] += cents
            a[3] += 1
    xs = [(a[0], a[1]) for a in acc.values() if a[2] > 0 and a[3] > 0]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    r = run("agg_cuped", spark, sf_dir).collect()[0]
    assert r.n_users == n
    assert r.theta == float(str(cov)) / float(str(vx))
    assert r.rho2 == (float(str(cov)) / float(str(vx))) * (
        float(str(cov)) / float(str(vy))
    )


def test_mantel_haenszel_matches_python_fractions(spark, sf_dir):
    rows = duckdb.sql(
        f"SELECT dayofweek(ts) + 1, event_type = 'purchase',"
        f" CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) >= 5000"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    # build 2x2 per stratum
    strata = defaultdict(lambda: {"a": 0, "b": 0, "c": 0, "d": 0, "n": 0})
    for dow, exposed, outcome in rows:
        s = strata[int(dow)]
        key = (
            "a" if exposed and outcome
            else "b" if exposed
            else "c" if outcome
            else "d"
        )
        s[key] += 1
        s["n"] += 1
    num = sum(
        Fraction(s["a"] * s["d"], s["n"]) for s in strata.values()
    )
    den = sum(
        Fraction(s["b"] * s["c"], s["n"]) for s in strata.values()
    )
    r = run("agg_mantel_haenszel", spark, sf_dir).collect()[0]
    # the query clears denominators by prod(n_j): same rational value
    prod_n = math.prod(s["n"] for s in strata.values())
    assert r.mh_odds_ratio == float(str(int(num * prod_n))) / float(
        str(int(den * prod_n))
    )
    a = sum(s["a"] for s in strata.values())
    b = sum(s["b"] for s in strata.values())
    c = sum(s["c"] for s in strata.values())
    d = sum(s["d"] for s in strata.values())
    assert (r.n_a, r.n_b, r.n_c, r.n_d) == (a, b, c, d)
    assert r.crude_odds_ratio == float(str(a * d)) / float(str(b * c))



def test_cusum_matches_python_recursion(spark, sf_dir):
    grid = duckdb.sql(
        f"SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,"
        f" CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))"
        f" AS BIGINT) AS x"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
        f" GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series = defaultdict(list)
    for et, d, x in grid:
        series[et].append((str(d), x))
    expect = {}
    for et, days in series.items():
        n = len(days)
        sx = sum(x for _, x in days)
        sp = sm = 0
        for day, x in days:
            xc = x * n - sx
            sp = max(0, sp + xc - 250 * n)
            sm = max(0, sm - xc - 250 * n)
            expect[(et, day)] = (
                x, n, sp, sm, int(sp > 1250 * n), int(sm > 1250 * n),
            )
    got = {
        (r.event_type, r.day): (
            r.x, r.n_days, r.s_plus_scaled, r.s_minus_scaled,
            r.shift_up, r.shift_down,
        )
        for r in run("win_cusum", spark, sf_dir).collect()
    }
    assert got == expect
    # the chart must fire somewhere on the fixture (non-degenerate)
    assert any(v[4] or v[5] for v in expect.values())


def test_pmi_collocations_match_python_counter(spark, sf_dir):
    docs = _docs(sf_dir)
    uni = Counter()
    bi = Counter()
    n_tok = n_bi = 0
    for toks in docs.values():
        uni.update(toks)
        n_tok += len(toks)
        for i in range(len(toks) - 1):
            bi[(toks[i], toks[i + 1])] += 1
            n_bi += 1
    scored = []
    for (w1, w2), cxy in bi.items():
        if cxy < 5:
            continue
        ratio = float(cxy * n_tok * n_tok) / (n_bi * uni[w1] * uni[w2])
        scored.append((-ratio, w1, w2, cxy, uni[w1], uni[w2]))
    scored.sort()
    expect = [
        (w1, w2, cxy, cx, cy, -neg)
        for neg, w1, w2, cxy, cx, cy in scored[:30]
    ]
    got = [
        (r.w1, r.w2, r.c_xy, r.c_x, r.c_y, r.pmi_ratio)
        for r in run("pipeline_pmi_collocations", spark, sf_dir).collect()
    ]
    assert got == expect


# ------------------------- wave 2: WebP, base32, TOST -------------------


def test_webp_parse_matches_python_byte_builder(spark, sf_dir):
    """Build the same WebP streams byte-for-byte in Python, parse
    them with struct/int.from_bytes, compare every output column."""
    rows = {
        r.doc_id: r
        for r in run("multimodal_webp_parse", spark, sf_dir).collect()
    }
    assert len(rows) == 40
    for doc_id in range(40):
        w = 16 * (1 + doc_id % 8)
        h = 16 * (1 + doc_id % 5)
        ver = doc_id % 4
        part = 50 + doc_id % 100
        pad = 20 + 2 * ((doc_id * 7) % 25)
        tag = (0) | (ver << 1) | (1 << 4) | (part << 5)
        payload = (
            tag.to_bytes(3, "little")
            + bytes([0x9D, 0x01, 0x2A])
            + w.to_bytes(2, "little")
            + h.to_bytes(2, "little")
            + bytes((doc_id + j) % 256 for j in range(pad))
        )
        chunk = b"VP8 " + len(payload).to_bytes(4, "little") + payload
        blob = b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk
        # independent parse of the independently built bytes
        assert blob[:4] == b"RIFF" and blob[8:12] == b"WEBP"
        riff_size = int.from_bytes(blob[4:8], "little")
        chunk_size = int.from_bytes(blob[16:20], "little")
        t = int.from_bytes(blob[20:23], "little")
        r = rows[doc_id]
        assert r.riff_size == riff_size
        assert r.chunk_size == chunk_size
        assert r.is_keyframe == (1 - (t & 1))
        assert r.version == (t >> 1) & 7
        assert r.show_frame == (t >> 4) & 1
        assert r.part_size == t >> 5 == part
        assert blob[23:26] == bytes([0x9D, 0x01, 0x2A]) and r.startcode_ok == 1
        assert r.width == int.from_bytes(blob[26:28], "little") % 16384 == w
        assert r.height == int.from_bytes(blob[28:30], "little") % 16384 == h
        assert r.sizes_ok == 1
        assert r.pad_byte_sum == sum(blob[30 : 20 + chunk_size])
        assert r.file_bytes == len(blob)


def test_base32_matches_python_b32encode(spark, sf_dir):
    """The 8-symbol codes must equal stdlib base64.b32encode of the
    same 5 md5 bytes — RFC 4648, not a lookalike alphabet."""
    import base64

    import duckdb as _d

    rows = _d.sql(
        f"SELECT c_mktsegment, c_name,"
        f" substring(md5(c_name), 1, 10)"
        f" FROM read_parquet('{sf_dir}/customer.parquet')"
    ).fetchall()
    per_seg = defaultdict(set)
    n_seg = Counter()
    roundtrip = Counter()
    codes_all = defaultdict(list)
    for seg, name, hx in rows:
        code = base64.b32encode(bytes.fromhex(hx)).decode()
        assert len(code) == 8 and "=" not in code
        per_seg[seg].add(code)
        n_seg[seg] += 1
        roundtrip[seg] += 1  # b32decode(b32encode(x)) == x by stdlib
        codes_all[seg].append(code)
    got = {r.c_mktsegment: r for r in run("fn_base32", spark, sf_dir).collect()}
    assert set(got) == set(n_seg)
    for seg, r in got.items():
        assert r.n_codes == n_seg[seg]
        assert r.n_roundtrip == n_seg[seg]
        assert r.n_distinct_codes == len(per_seg[seg])
        assert r.min_code == min(codes_all[seg])
        assert r.max_code == max(codes_all[seg])


def test_tost_matches_python_fractions(spark, sf_dir):
    import duckdb as _d

    rows = _d.sql(
        f"SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS"
        f" BIGINT) FROM read_parquet('{sf_dir}/events.parquet')"
        f" WHERE event_type IN ('click', 'view')"
    ).fetchall()
    g1 = [c for t, c in rows if t == "click"]
    g2 = [c for t, c in rows if t == "view"]
    n1, n2 = len(g1), len(g2)
    s1, s2 = sum(g1), sum(g2)
    q1 = sum(c * c for c in g1)
    q2 = sum(c * c for c in g2)
    dnum = n2 * s1 - n1 * s2
    v1, v2 = n1 * q1 - s1 * s1, n2 * q2 - s2 * s2
    se2_c = v1 * n2 * n2 * (n2 - 1) + v2 * n1 * n1 * (n1 - 1)
    lo = dnum + 500 * n1 * n2
    hi = 500 * n1 * n2 - dnum
    equiv = int(
        lo > 0
        and hi > 0
        and 16 * lo * lo * (n1 - 1) * (n2 - 1) > 49 * se2_c
        and 16 * hi * hi * (n1 - 1) * (n2 - 1) > 49 * se2_c
    )
    # sanity vs the definition: same verdict as the float z-test at 1.75
    mdiff = s1 / n1 - s2 / n2
    se = math.sqrt(
        (v1 / (n1 * n1 * (n1 - 1))) + (v2 / (n2 * n2 * (n2 - 1)))
    )
    assert equiv == int(
        (mdiff + 500) / se > 1.75 and (500 - mdiff) / se > 1.75
    )
    r = run("agg_tost_equivalence", spark, sf_dir).collect()[0]
    assert (r.n_click, r.n_view) == (n1, n2)
    assert r.mean_diff_cents == float(str(dnum)) / float(str(n1 * n2))
    assert r.equivalent == equiv
