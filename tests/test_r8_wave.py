"""Semantic tests for the r8 wave — robust statistics (Theil-Sen,
trimmed/winsorized means, weighted median, Cohen's d), exact TA
windows (stochastic oscillator, OBV, Aroon), edit-distance dedup,
and the RL/SFT post-training data ops.  Each test recomputes the statistic
INDEPENDENTLY (pure Python over DuckDB-extracted raw data) rather
than re-running the Spark expression — the oracle-parity harness
already proves Spark==DuckDB; these prove both match the
DEFINITION."""

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _grid(sf_dir):
    """(event_type, day, cents-sum) rows, ordered."""
    return duckdb.sql(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) x
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()


def _series(sf_dir):
    out = {}
    for et, d, x in _grid(sf_dir):
        out.setdefault(et, []).append((d, int(x)))
    return out


def _floor_div(num, den):
    """The query's explicit negative-safe floor division."""
    return num // den  # Python // IS floor division — the reference


def test_theil_sen_is_median_of_floored_slopes(spark, sf_dir):
    rows = {r.event_type: r for r in run("agg_theil_sen", spark, sf_dir).collect()}
    for et, seq in _series(sf_dir).items():
        slopes = []
        for i in range(len(seq)):
            for j in range(i + 1, len(seq)):
                (d1, x1), (d2, x2) = seq[i], seq[j]
                num = (x2 - x1) * 1_000_000
                den = (d2 - d1).days
                slopes.append((_floor_div(num, den), d1, d2))
        slopes.sort()
        n = len(slopes)
        want = slopes[(n + 1) // 2 - 1][0]  # lower median, 1-based rank
        r = rows[et]
        assert r.n_pairs == n
        assert r.median_slope_ppm == want
        assert r.slope_per_day == pytest.approx(want / 1e6 / 100.0, rel=0, abs=0)


def _cents_by_type(sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) c
        FROM read_parquet('{sf_dir}/events.parquet')
        """
    ).fetchall()
    out = {}
    for et, c in rows:
        out.setdefault(et, []).append(int(c))
    return out


def test_trimmed_mean_equals_sorted_slice(spark, sf_dir):
    """The grid/rank-range formulation must equal the naive
    sort-then-slice definition on the raw per-type cents."""
    got = {r.event_type: r for r in run("agg_trimmed_mean", spark, sf_dir).collect()}
    for et, cs in _cents_by_type(sf_dir).items():
        cs = sorted(cs)
        n = len(cs)
        k = n // 10
        kept = cs[k : n - k]
        r = got[et]
        assert (r.n, r.k_trimmed_each_side, r.n_kept) == (n, k, len(kept))
        assert r.kept_sum_cents == sum(kept)
        assert r.trimmed_mean == pytest.approx(sum(kept) / len(kept) / 100.0)


def test_winsorized_mean_equals_clamped_slice(spark, sf_dir):
    got = {
        r.event_type: r for r in run("agg_winsorized_mean", spark, sf_dir).collect()
    }
    for et, cs in _cents_by_type(sf_dir).items():
        cs = sorted(cs)
        n = len(cs)
        k = n // 10
        lo, hi = cs[k], cs[n - k - 1]  # (k+1)-th and (n-k)-th order stats
        wsum = sum(min(max(c, lo), hi) for c in cs)
        r = got[et]
        assert (r.n, r.k_clamped_each_side, r.lo_cents, r.hi_cents) == (
            n, k, lo, hi,
        )
        assert r.winsorized_sum_cents == wsum
        assert r.winsorized_mean == pytest.approx(wsum / n / 100.0)


def test_weighted_median_crossing(spark, sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT l_returnflag,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) dc,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) q
        FROM read_parquet('{sf_dir}/lineitem.parquet')
        """
    ).fetchall()
    acc = {}
    for flag, dc, q in rows:
        acc.setdefault(flag, {}).setdefault(int(dc), 0)
        acc[flag][int(dc)] += int(q)
    got = {r.flag: r for r in run("agg_weighted_median", spark, sf_dir).collect()}
    for flag, wm in acc.items():
        total = sum(wm.values())
        cum = 0
        med = None
        for v in sorted(wm):
            cum += wm[v]
            if 2 * cum >= total:
                med = v
                break
        r = got[flag]
        assert r.total_weight == total
        assert r.n_distinct_values == len(wm)
        assert r.weighted_median_disc_pct_x100 == med


def test_cohens_d_matches_numpy(spark, sf_dir):
    import numpy as np

    rows = duckdb.sql(
        f"""
        SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) c
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE event_type = 'purchase'
        """
    ).fetchall()
    a = np.array(
        [c for u, c in rows if ((u & 2147483647) * 2654435761) % 4294967296 < 2147483648],
        dtype=float,
    )
    b = np.array(
        [c for u, c in rows if ((u & 2147483647) * 2654435761) % 4294967296 >= 2147483648],
        dtype=float,
    )
    r = run("agg_cohens_d", spark, sf_dir).collect()[0]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    pooled = (
        (a.var(ddof=1) * (len(a) - 1) + b.var(ddof=1) * (len(b) - 1))
        / (len(a) + len(b) - 2)
    ) ** 0.5
    want = (a.mean() - b.mean()) / pooled
    assert r.cohens_d == pytest.approx(want, rel=1e-9)
    assert r.pooled_sd == pytest.approx(pooled / 100.0, rel=1e-9)


def test_stochastic_python_replay(spark, sf_dir):
    got = {
        (r.event_type, r.day): r
        for r in run("win_stochastic_osc", spark, sf_dir).collect()
    }
    n_checked = 0
    for et, seq in _series(sf_dir).items():
        ks = {}
        for i in range(13, len(seq)):
            win = [x for _, x in seq[i - 13 : i + 1]]
            lo, hi = min(win), max(win)
            x = seq[i][1]
            ks[i] = (x - lo) * 10000 // (hi - lo) if hi > lo else 5000
            if i - 2 in ks and i - 1 in ks:
                d, _x = seq[i]
                r = got[(et, d.isoformat())]
                assert (r.lo14, r.hi14, r.k_bp) == (lo, hi, ks[i])
                assert r.d_bp == (ks[i] + ks[i - 1] + ks[i - 2]) // 3
                n_checked += 1
    assert n_checked == len(got) and n_checked > 0


def test_obv_python_replay(spark, sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) x,
               CAST(COUNT(*) AS BIGINT) vol
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series = {}
    for et, d, x, vol in rows:
        series.setdefault(et, []).append((d, int(x), int(vol)))
    got = {(r.event_type, r.day): r for r in run("win_obv", spark, sf_dir).collect()}
    n_checked = 0
    for et, seq in series.items():
        obv, prev = 0, None
        for d, x, vol in seq:
            flow = 0 if prev is None else (vol if x > prev else -vol if x < prev else 0)
            obv += flow
            r = got[(et, d.isoformat())]
            assert (r.x, r.vol, r.flow, r.obv) == (x, vol, flow, obv)
            prev = x
            n_checked += 1
    assert n_checked == len(got) and n_checked > 0


def test_aroon_python_replay(spark, sf_dir):
    got = {
        (r.event_type, r.day): r for r in run("win_aroon", spark, sf_dir).collect()
    }
    n_checked = 0
    for et, seq in _series(sf_dir).items():
        for i in range(13, len(seq)):
            win = seq[i - 13 : i + 1]
            # most-recent extreme (ties -> later day), like the encoding
            hi_off = max(range(14), key=lambda j: (win[j][1], j))
            lo_off = max(range(14), key=lambda j: (-win[j][1], j))
            since_hi, since_lo = 13 - hi_off, 13 - lo_off
            d = seq[i][0]
            r = got[(et, d.isoformat())]
            assert (r.days_since_high, r.days_since_low) == (since_hi, since_lo)
            assert r.aroon_up == (14 - since_hi) * 100 // 14
            assert r.aroon_down == (14 - since_lo) * 100 // 14
            n_checked += 1
    assert n_checked == len(got) and n_checked > 0


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_verified(spark, sf_dir):
    """Every emitted pair's distance re-verified with an independent
    DP Levenshtein; candidate volume stays under the block-cap
    quadratic bound (sub-quadratic claim)."""
    texts = dict(
        duckdb.sql(
            f"""SELECT doc_id, lower(substring(text, 1, 24))
                FROM read_parquet('{sf_dir}/documents.parquet')"""
        ).fetchall()
    )
    rows = run("dedup_edit_distance", spark, sf_dir).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.edit_distance <= 6
        assert _lev(texts[r.doc_a], texts[r.doc_b]) == r.edit_distance
    # sub-quadratic guard: accepted pairs can never exceed
    # n_blocks * cap^2 / 2; cheap proxy — far below all-pairs
    n = len(texts)
    assert len(rows) < n * 64 / 2


def test_edit_distance_plan_has_no_cartesian(spark, sf_dir):
    df = run("dedup_edit_distance", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan  # levenshtein is JVM-side


def test_rl_advantage_groups_zero_sum(spark, sf_dir):
    """Per prompt: advantages sum to exactly zero (the group-mean
    baseline's defining property), n >= 4, and adv_num == n*r - s
    for an independently recomputed s."""
    rows = run("pipeline_rl_advantage", spark, sf_dir).collect()
    assert rows
    groups = {}
    for r in rows:
        groups.setdefault(r.prompt_id, []).append(r)
    for pid, rs in groups.items():
        n = rs[0].n
        assert n == len(rs) >= 4
        s = sum(r.reward_c for r in rs)
        assert sum(r.adv_num for r in rs) == 0
        for r in rs:
            assert r.adv_num == n * r.reward_c - s


def test_loss_mask_closed_form_equals_simulation(spark, sf_dir):
    """Brute-force per-token turn assignment == the closed form, for
    every document."""
    rows = run("pipeline_loss_mask", spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r.n_tokens
        train = sum(1 for k in range(n) if (k // 16) % 2 == 1)
        n_turns = (n + 15) // 16
        assert (r.n_turns, r.n_train_tokens) == (n_turns, train)
        assert r.train_ratio == pytest.approx(train / n)


def test_loss_mask_plan_is_pure_map(spark, sf_dir):
    df = run("pipeline_loss_mask", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_power_iteration_exact_aligns_with_numpy(spark, sf_dir):
    """The integer fixed-point iterate must align directionally with
    NumPy's top eigenvector of the quantized Gram matrix (the
    statistic it certifies), and replay exactly in Python ints."""
    import numpy as np

    emb = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    X = np.array([np.round(np.array(e[0], dtype=np.float64) * 1_000_000) for e in emb])
    Xi = X.astype(object).astype(int)  # exact ints
    S = 10**6
    v = [S] * 64

    def tdiv(u, m):  # truncation toward zero, both engines' DIV
        q = abs(u) * S // m
        return -q if u < 0 else q

    for _ in range(10):
        p = [sum(int(Xi[i][j]) * v[j] for j in range(64)) for i in range(len(Xi))]
        u = [sum(int(Xi[i][j]) * p[i] for i in range(len(Xi))) for j in range(64)]
        m = max(abs(x) for x in u)
        v = [tdiv(x, m) for x in u]
    got = {
        r.pos: r.component_scaled
        for r in run("vec_power_iteration_exact", spark, sf_dir).collect()
    }
    assert got == {j + 1: v[j] for j in range(64)}
    # directional agreement with the SAME 10 rounds run in float
    # arithmetic (the fixture's random embeddings give the Gram
    # matrix a near-degenerate top eigengap, so 10 rounds certify
    # the ITERATION, not the limiting eigenvector)
    vf = np.ones(64)
    for _ in range(10):
        pf = X @ vf
        uf = X.T @ pf
        vf = uf / np.abs(uf).max()
    vi = np.array([got[j + 1] for j in range(64)], dtype=float)
    cos = abs(vi @ vf) / (np.linalg.norm(vi) * np.linalg.norm(vf))
    assert cos > 0.999999


def test_best_of_n_argmax_and_margin(spark, sf_dir):
    rewards = {}
    for u, e, c in duckdb.sql(
        f"""SELECT user_id, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE event_type = 'purchase'"""
    ).fetchall():
        rewards.setdefault(u, []).append((int(c), e))
    got = {r.prompt_id: r for r in run("pipeline_best_of_n", spark, sf_dir).collect()}
    n_multi = 0
    for u, rs in rewards.items():
        if len(rs) < 2:
            assert u not in got
            continue
        ordered = sorted(rs, key=lambda t: (-t[0], t[1]))
        r = got[u]
        assert (r.n, r.best_id, r.best_reward_c) == (
            len(rs), ordered[0][1], ordered[0][0],
        )
        assert r.margin_c == ordered[0][0] - ordered[1][0]
        n_multi += 1
    assert n_multi == len(got) > 0


def test_best_of_n_plan_single_exchange(spark, sf_dir):
    """The rank window, the count window and the final rollup must
    all share ONE prompt_id shuffle (a second events scan or a
    second Exchange would double the data-proportional cost; group
    sizes are bounded by the sampling design, so no WindowGroupLimit
    is needed — see the query docstring)."""
    df = run("pipeline_best_of_n", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # 1 shuffle (+AQE read marker)
    assert plan.count("Scan parquet") == 1


def test_grubbs_python_replay(spark, sf_dir):
    got = {r.event_type: r for r in run("agg_grubbs", spark, sf_dir).collect()}
    for et, seq in _series(sf_dir).items():
        xs = [x for _, x in seq]
        n, s = len(xs), sum(xs)
        devs = [abs(n * x - s) for x in xs]
        md = max(devs)
        day = min(d for (d, x) in seq if abs(n * x - s) == md)
        r = got[et]
        assert (r.n, r.max_dev_scaled, r.outlier_day) == (n, md, day.isoformat())
        mu = s / n
        sd = (sum((x - mu) ** 2 for x in xs) / (n - 1)) ** 0.5
        assert r.grubbs_g == pytest.approx(max(abs(x - mu) for x in xs) / sd, rel=1e-9)


def test_ulcer_python_replay(spark, sf_dir):
    got = {
        (r.event_type, r.day): r for r in run("win_ulcer_index", spark, sf_dir).collect()
    }
    n_checked = 0
    for et, seq in _series(sf_dir).items():
        run_max, dds = 0, []
        for i, (d, x) in enumerate(seq):
            run_max = max(run_max, x)
            dd = (run_max - x) * 10000 // run_max if run_max > 0 else 0
            dds.append(dd)
            if i >= 13:
                s2 = sum(v * v for v in dds[i - 13 : i + 1])
                r = got[(et, d.isoformat())]
                assert (r.dd_bp, r.sum_dd2) == (dd, s2)
                assert r.ulcer_bp == pytest.approx((s2 / 14.0) ** 0.5, rel=1e-12)
                n_checked += 1
    assert n_checked == len(got) > 0


def test_hard_negatives_exclude_positives_and_rank(spark, sf_dir):
    """No same-label neighbor may appear; ranks are the true top-3
    other-label items by the quantized dot (NumPy replay with the
    same tie-break)."""
    import numpy as np

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    labels = {r[0]: r[1] for r in rows}
    Q = {r[0]: np.round(np.array(r[2], dtype=np.float64) * 1e6).astype(np.int64) for r in rows}
    got = {}
    for r in run("sim_hard_negatives", spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(r)
    assert set(got) == {i for i in ids if i < 8}
    for qid, rs in got.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        for r in rs:
            assert r.neighbor_label != labels[qid]
            assert labels[r.neighbor_id] == r.neighbor_label
        scored = sorted(
            (
                (-int(Q[qid] @ Q[nid]), nid)
                for nid in ids
                if nid != qid and labels[nid] != labels[qid]
            ),
        )[:3]
        assert [r.neighbor_id for r in rs] == [nid for _, nid in scored]
        for r, (negdot, _) in zip(rs, scored):
            assert r.cosine == pytest.approx(-negdot / 1e12, rel=0, abs=0)


def test_hard_negatives_corpus_not_shuffled(spark, sf_dir):
    """The corpus side must reach the scorer without an Exchange —
    only the per-query rank window may shuffle (on query_id)."""
    df = run("sim_hard_negatives", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BroadcastExchange" in plan  # the 8-query side


def test_gini_impurity_python_replay(spark, sf_dir):
    rows = duckdb.sql(
        f"SELECT source, lang, COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY 1, 2"
    ).fetchall()
    acc = {}
    for src, lang, c in rows:
        acc.setdefault(src, {})[lang] = int(c)
    got = {r.source: r for r in run("agg_gini_impurity", spark, sf_dir).collect()}
    for src, langs in acc.items():
        n = sum(langs.values())
        ssq = sum(c * c for c in langs.values())
        r = got[src]
        assert (r.n, r.n_labels) == (n, len(langs))
        assert r.impurity_ppm == (n * n - ssq) * 1_000_000 // (n * n)
        assert r.impurity == pytest.approx(1.0 - ssq / (n * n))


def test_keltner_python_replay(spark, sf_dir):
    rows = duckdb.sql(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) d,
               arg_min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), ts) o,
               MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) h,
               MIN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) l,
               arg_max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), ts) c
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series = {}
    for et, d, o, h, l, c in rows:
        series.setdefault(et, []).append((d, int(h), int(l), int(c)))
    got = {
        (r.event_type, r.day): r for r in run("win_keltner", spark, sf_dir).collect()
    }
    n_checked = 0
    for et, seq in series.items():
        trs, prev_c = [], None
        for i, (d, h, l, c) in enumerate(seq):
            tr = (
                h - l
                if prev_c is None
                else max(h - l, abs(h - prev_c), abs(l - prev_c))
            )
            trs.append(tr)
            prev_c = c
            if i >= 13:
                atr = sum(trs[i - 13 : i + 1]) // 14
                mid = sum(x[3] for x in seq[i - 13 : i + 1]) // 14
                r = got[(et, d.isoformat())]
                assert (r.close_c, r.tr_c, r.atr_c, r.mid_c) == (c, tr, atr, mid)
                assert (r.upper_c, r.lower_c) == (mid + 2 * atr, mid - 2 * atr)
                n_checked += 1
    assert n_checked == len(got) > 0


def test_tukey_fences_python_replay(spark, sf_dir):
    got = {r.event_type: r for r in run("agg_tukey_outliers", spark, sf_dir).collect()}
    for et, cs in _cents_by_type(sf_dir).items():
        cs_sorted = sorted(cs)
        n = len(cs_sorted)
        q1 = cs_sorted[(n + 3) // 4 - 1]
        q3 = cs_sorted[(3 * n + 3) // 4 - 1]
        iqr = q3 - q1
        lo = sum(1 for v in cs if 2 * v < 2 * q1 - 3 * iqr)
        hi = sum(1 for v in cs if 2 * v > 2 * q3 + 3 * iqr)
        r = got[et]
        assert (r.n, r.q1_cents, r.q3_cents, r.iqr_cents) == (n, q1, q3, iqr)
        assert (r.n_low_outliers, r.n_high_outliers) == (lo, hi)


def test_freshness_staleness_consistent(spark, sf_dir):
    rows = run("pipeline_freshness_report", spark, sf_dir).collect()
    assert rows
    import datetime

    gmax = max(datetime.date.fromisoformat(r.last_day) for r in rows)
    for r in rows:
        first = datetime.date.fromisoformat(r.first_day)
        last = datetime.date.fromisoformat(r.last_day)
        assert r.span_days == (last - first).days >= 0
        assert r.days_stale == (gmax - last).days >= 0
        assert r.n_events > 0
    assert min(r.days_stale for r in rows) == 0  # someone is current


def test_content_manifest_python_replay(spark, sf_dir):
    import hashlib

    rows = duckdb.sql(
        f"SELECT source, text, n_chars FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    acc = {}
    for src, text, n_chars in rows:
        h = hashlib.md5(text.encode("utf-8")).hexdigest()
        a = acc.setdefault(src, {"n": 0, "chars": 0, "hs": [], "xor": 0})
        a["n"] += 1
        a["chars"] += int(n_chars)
        a["hs"].append(h)
        a["xor"] ^= int(h[:15], 16)
    got = {r.source: r for r in run("pipeline_content_manifest", spark, sf_dir).collect()}
    for src, a in acc.items():
        r = got[src]
        assert (r.n_docs, r.total_chars) == (a["n"], a["chars"])
        assert (r.min_md5, r.max_md5) == (min(a["hs"]), max(a["hs"]))
        assert r.xor_digest == a["xor"]
    # digest actually detects single-doc mutation
    any_src = rows[0][0]
    h0 = hashlib.md5(rows[0][1].encode()).hexdigest()
    mutated = acc[any_src]["xor"] ^ int(h0[:15], 16) ^ int(
        hashlib.md5((rows[0][1] + "x").encode()).hexdigest()[:15], 16
    )
    assert mutated != acc[any_src]["xor"]
