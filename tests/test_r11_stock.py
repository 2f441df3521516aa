"""Semantic tests for the r9-built r11-window stock — market-basket
association rules, DPO preference pairs, the epoch-seeded dataloader
shuffle, geohash/Adler-32 scalar surfaces, the Ljung-Box portmanteau
test and common-neighbor link prediction: pure-Python definition
replays and invariants beyond what oracle parity shows."""

import zlib

import duckdb
import pytest

from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


@pytest.fixture(scope="module")
def day_grid(sf_dir):
    con = duckdb.connect()
    return con.execute(
        f"""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS x
        FROM '{sf_dir}/events.parquet'
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).df()


# --- pipeline_basket_lift -------------------------------------------------


def test_basket_lift_matches_pandas(spark, sf_dir):
    """Replay support/confidence/lift from the raw basket sets in
    pure Python and check the identity lift = conf / P(b)."""
    con = duckdb.connect()
    items = con.execute(
        f"""SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
            FROM '{sf_dir}/lineitem.parquet' l
            JOIN '{sf_dir}/part.parquet' p ON l.l_partkey = p.p_partkey"""
    ).df()
    baskets = items.groupby("ok")["brand"].apply(frozenset)
    n_orders = len(baskets)
    brand_n = items.groupby("brand")["ok"].nunique()
    rows = run("pipeline_basket_lift", spark, sf_dir).collect()
    assert rows, "brand-pair census must be non-empty"
    by_pair = {(r.brand_a, r.brand_b): r for r in rows}
    # exhaustive: every emitted pair recounted from the raw baskets
    for (a, b), r in by_pair.items():
        n_ab = sum(1 for s in baskets if a in s and b in s)
        assert r.n_ab == n_ab
        assert r.n_a == brand_n[a] and r.n_b == brand_n[b]
        assert r.n_orders == n_orders
        assert r.support == pytest.approx(n_ab / n_orders)
        assert r.confidence == pytest.approx(n_ab / brand_n[a])
        assert r.lift == pytest.approx(
            (n_ab / n_orders) / ((brand_n[a] / n_orders) * (brand_n[b] / n_orders)),
            rel=1e-12,
        )
        assert a < b  # canonical pair orientation


# --- pipeline_dpo_pairs ---------------------------------------------------


def test_dpo_pairs_extremes_and_margin(spark, sf_dir):
    """Chosen/rejected are the true per-prompt reward extremes with
    deterministic id tie-breaks, margin > 0, and no prompt whose
    extremes tie leaks through."""
    con = duckdb.connect()
    r = con.execute(
        f"""SELECT user_id AS p, event_id AS rid,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM '{sf_dir}/events.parquet' WHERE event_type = 'purchase'"""
    ).df()
    rows = run("pipeline_dpo_pairs", spark, sf_dir).collect()
    groups = dict(tuple(r.groupby("p")))
    emitted = {x.prompt_id for x in rows}
    for x in rows:
        g = groups[x.prompt_id]
        best = g.sort_values(["c", "rid"], ascending=[False, True]).iloc[0]
        worst = g.sort_values(["c", "rid"], ascending=[True, True]).iloc[0]
        assert x.chosen_id == best.rid and x.chosen_c == best.c
        assert x.rejected_id == worst.rid and x.rejected_c == worst.c
        assert x.margin_c == x.chosen_c - x.rejected_c > 0
        assert x.n == len(g)
    # completeness: every prompt with n>=2 and a strict margin is present
    for p, g in groups.items():
        if len(g) >= 2 and g.c.max() > g.c.min():
            assert p in emitted


# --- pipeline_epoch_shuffle -----------------------------------------------


def test_epoch_shuffle_partition_and_drift(spark, sf_dir):
    """Each epoch partitions the corpus exactly (counts and doc-id
    checksums sum to the corpus totals), and the two epochs assign
    differently (the whole point of reshuffling)."""
    con = duckdb.connect()
    n_docs, sum_id = con.execute(
        f"SELECT COUNT(*), SUM(doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    rows = run("pipeline_epoch_shuffle", spark, sf_dir).collect()
    for ep in (0, 1):
        sub = [r for r in rows if r.epoch == ep]
        assert sum(r.n_docs for r in sub) == n_docs
        assert sum(r.sum_doc_id for r in sub) == sum_id
        assert all(0 <= r.batch_id < 64 for r in sub)
        assert all(r.min_key >= 0 and r.max_key < 2**31 for r in sub)
    # drift: per-batch doc-id checksums must differ between epochs
    chk = {
        ep: sorted((r.batch_id, r.sum_doc_id) for r in rows if r.epoch == ep)
        for ep in (0, 1)
    }
    assert chk[0] != chk[1]


def test_epoch_shuffle_key_is_pure_function(spark, sf_dir):
    """The shuffle key replays from (doc_id, epoch) alone."""
    rows = run("pipeline_epoch_shuffle", spark, sf_dir).collect()
    con = duckdb.connect()
    ids = [
        x[0]
        for x in con.execute(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    for ep in (0, 1):
        batches = {}
        for i in ids:
            k = ((i & 2147483647) * 2654435761 + (ep + 1) * 40503) % 2**31
            b = k % 64
            batches[b] = batches.get(b, 0) + 1
        got = {r.batch_id: r.n_docs for r in rows if r.epoch == ep}
        assert got == batches


# --- fn_adler32 / fn_geohash ----------------------------------------------


def test_adler32_matches_zlib(spark, sf_dir):
    """The closed-form position-weighted sum IS RFC-1950 Adler-32:
    cross-checked against zlib.adler32 on every name."""
    rows = run("fn_adler32", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.adler32 == zlib.adler32(r.c_name.encode("ascii"))
        assert r.adler32 == r.b * 65536 + r.a


def _geohash_ref(lat_i, lon_i):
    """Reference bit-interleave + base32 spelling (lon bit first)."""
    gh = 0
    for i in range(14, -1, -1):
        gh = (gh << 1) | ((lon_i >> i) & 1)
        gh = (gh << 1) | ((lat_i >> i) & 1)
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    return gh, "".join(alpha[(gh >> (5 * (5 - j))) & 31] for j in range(6))


def test_geohash_matches_reference(spark, sf_dir):
    """The shift-add interleave equals the sequential MSB-first
    reference, and the base32 spelling round-trips to the bits."""
    rows = run("fn_geohash", spark, sf_dir).collect()
    assert rows
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    for r in rows:
        assert 0 <= r.lat_i < 32768 and 0 <= r.lon_i < 32768
        gh, s = _geohash_ref(r.lat_i, r.lon_i)
        assert r.gh30 == gh and r.geohash == s
        # round-trip: decode the 6 chars back to the 30-bit key
        back = 0
        for ch in r.geohash:
            back = (back << 5) | alpha.index(ch)
        assert back == r.gh30


def test_geohash_prefix_locality(spark, sf_dir):
    """Geohash's defining property: equal 30-bit keys <=> equal cells;
    sharing a longer prefix implies the interleaved coordinates agree
    on their leading bits (spot-checked pairwise on a sample)."""
    rows = run("fn_geohash", spark, sf_dir).limit(200).collect()
    for r in rows[:50]:
        for o in rows[:50]:
            if r.geohash[:3] == o.geohash[:3]:
                # first 15 interleaved bits equal -> top ~7 bits of
                # each axis equal
                assert (r.lat_i >> 8) == (o.lat_i >> 8) or (
                    r.gh30 >> 15
                ) == (o.gh30 >> 15)


# --- win_clamped_balance ----------------------------------------------------


def test_clamped_balance_matches_sequential_recurrence(spark, sf_dir):
    """The reflection identity b_t = S_t - min(0, min_k S_k) must
    equal the literal sequential fold b_t = max(0, b_{t-1} + d_t)."""
    con = duckdb.connect()
    df = con.execute(
        f"""SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               END AS d
            FROM '{sf_dir}/events.parquet'
            WHERE event_type IN ('purchase', 'click')
            ORDER BY user_id, ts, event_id"""
    ).df()
    rows = run("win_clamped_balance", spark, sf_dir).collect()
    got = {(r.user_id, r.event_id): r for r in rows}
    assert len(got) == len(df)
    for uid, g in df.groupby("user_id"):
        b = 0
        for _, e in g.iterrows():
            b = max(0, b + int(e.d))
            r = got[(uid, e.event_id)]
            assert r.balance_c == b
            assert r.balance_c >= 0
            assert r.delta_c == int(e.d)


# --- win_hampel -------------------------------------------------------------


def test_hampel_matches_reference_filter(spark, sf_dir, day_grid):
    """Rolling median / MAD / flag recomputed in pure Python over the
    trailing-7 windows of the click series."""
    import statistics

    sub = day_grid[day_grid.event_type == "click"].sort_values("d")
    xs = [int(v) for v in sub.x]
    rows = sorted(run("win_hampel", spark, sf_dir).collect(), key=lambda r: r.d)
    assert len(rows) == max(0, len(xs) - 6)
    for i, r in enumerate(rows):
        win = xs[i : i + 7]
        med = statistics.median(win)
        mad = statistics.median([abs(v - med) for v in win])
        assert r.med2 == 2 * med
        assert r.mad2 == 4 * mad
        assert r.x == xs[i + 6]
        assert r.is_outlier == (abs(r.x - med) > 3 * mad)


# --- agg_bh_fdr -------------------------------------------------------------


def test_bh_fdr_matches_reference_stepup(spark, sf_dir):
    """BH step-up replayed: sort p ascending, cutoff = max k with
    p_k <= 0.05*k/m, flag ranks 1..K — including interior rejections
    re-admitted below the cutoff (the step-UP property)."""
    rows = run("agg_bh_fdr", spark, sf_dir).collect()
    m = rows[0].m
    assert all(r.m == m for r in rows) and m == len(rows)
    srt = sorted(rows, key=lambda r: (r.b_u / r.n_u, r.user_id))
    cutoff = 0
    for k, r in enumerate(srt, start=1):
        assert r.rk == k  # rank matches the exact rational order
        exact_accept = 20 * r.b_u * m <= k * r.n_u
        assert r.accepted == exact_accept
        if exact_accept:
            cutoff = k
    for r in rows:
        assert r.flagged == (r.rk <= cutoff)
    # sanity: p_hat is the advertised rational
    for r in rows:
        assert r.p_hat == pytest.approx(r.b_u / r.n_u, abs=0)


# --- fn_hamming74 -----------------------------------------------------------


def test_hamming74_corrects_every_single_bit_error(spark, sf_dir):
    """The defining ECC property, pinned: for EVERY row the syndrome
    localizes the corrupted position and decoding recovers the
    original nibble; cross-checked against a reference encoder."""
    def encode(n):
        d1, d2, d3, d4 = (n >> 3) & 1, (n >> 2) & 1, (n >> 1) & 1, n & 1
        p1, p2, p3 = (d1 + d2 + d4) % 2, (d1 + d3 + d4) % 2, (d2 + d3 + d4) % 2
        bits = [p1, p2, d1, p3, d2, d3, d4]
        return sum(b << (6 - i) for i, b in enumerate(bits))

    rows = run("fn_hamming74", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.codeword == encode(r.nibble)
        assert r.received == r.codeword ^ (1 << (7 - r.err_pos))
        assert r.syndrome == r.err_pos
        assert r.corrected == r.codeword
        assert r.decoded == r.nibble
        assert r.ok


# --- win_sharpe -------------------------------------------------------------


def test_sharpe_sortino_match_numpy(spark, sf_dir, day_grid):
    import numpy as np

    sub = day_grid[day_grid.event_type == "click"].sort_values("d")
    r = np.diff([int(v) for v in sub.x]).astype(float)
    row = run("win_sharpe", spark, sf_dir).collect()[0]
    assert row.n == len(r)
    assert row.s1 == int(r.sum())
    assert row.mean_r == pytest.approx(r.mean(), rel=1e-12)
    assert row.std_r == pytest.approx(r.std(ddof=1), rel=1e-12)
    assert row.sharpe == pytest.approx(r.mean() / r.std(ddof=1), rel=1e-12)
    dd = np.sqrt((np.minimum(r, 0) ** 2).mean())
    assert row.downside_dev == pytest.approx(dd, rel=1e-12)
    assert row.sortino == pytest.approx(r.mean() / dd, rel=1e-12)
    # Sortino >= Sharpe in absolute value iff downside var <= total var
    assert (abs(row.sortino) >= abs(row.sharpe)) == (dd <= r.std(ddof=1))


# --- text_rake_keywords -----------------------------------------------------


def test_rake_matches_reference(spark, sf_dir):
    """RAKE degree/freq replayed in pure Python: corpus-derived top-2
    delimiters, phrase splits, degree = sum of phrase lengths over a
    word's occurrences."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    cnt = Counter()
    for _, t in docs:
        cnt.update(t.split(" "))
    stops = set(
        tok for tok, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    )
    freq, degree = Counter(), Counter()
    for _, t in docs:
        phrase = []
        for tok in t.split(" ") + [None]:
            if tok is None or tok in stops:
                for w in phrase:
                    freq[w] += 1
                    degree[w] += len(phrase)
                phrase = []
            else:
                phrase.append(tok)
    rows = run("text_rake_keywords", spark, sf_dir).collect()
    got = {r.word: r for r in rows}
    expected = {w for w in freq if freq[w] >= 3}
    assert set(got) == expected
    for w, r in got.items():
        assert r.freq == freq[w]
        assert r.degree == degree[w]
        assert r.rake_ppm == degree[w] * 1000000 // freq[w]
        assert w not in stops


# --- pipeline_speculative_accept ---------------------------------------------


def test_speculative_accept_matches_block_replay(spark, sf_dir):
    """Per-doc chunked-verification replay: accept bits from the hash,
    blocks of 4, accepted prefix per block, tokens/step identity."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, len(string_split(text, ' ')) FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    rows = {r.doc_id: r for r in run("pipeline_speculative_accept", spark, sf_dir).collect()}
    assert len(rows) == len(docs)
    for doc_id, n in docs:
        acc_bits = [
            ((doc_id * 1000003 + p) & 2147483647) * 2654435761 % 2**31 % 4 != 0
            for p in range(1, n + 1)
        ]
        n_steps = (n + 3) // 4
        total_acc = 0
        for b in range(n_steps):
            blk = acc_bits[b * 4 : (b + 1) * 4]
            a = 0
            for bit in blk:
                if not bit:
                    break
                a += 1
            total_acc += a
        r = rows[doc_id]
        assert r.n_tokens == n and r.n_steps == n_steps
        assert r.n_accepted == total_acc
        assert r.tokens_per_step == pytest.approx(
            (total_acc + n_steps) / n_steps, rel=1e-12
        )
        assert 1.0 <= r.tokens_per_step <= 5.0


# --- agg_survival_hazard ------------------------------------------------------


def test_survival_hazard_matches_replay(spark, sf_dir):
    """At-risk counts and hazards replayed from per-user last days;
    telescoping property: at_risk_next = at_risk - churned."""
    con = duckdb.connect()
    last = con.execute(
        f"""SELECT user_id, MAX(CAST(date_trunc('day', ts) AS DATE)) AS d
            FROM '{sf_dir}/events.parquet' GROUP BY user_id"""
    ).df()
    import pandas as pd
    from collections import Counter

    per_day = Counter(pd.to_datetime(last.d).dt.date)
    m = len(last)
    rows = sorted(
        run("agg_survival_hazard", spark, sf_dir).collect(),
        key=lambda r: r.churn_day,
    )
    assert sum(r.n_churned for r in rows) == m
    at_risk = m
    for r in rows:
        assert r.n_churned == per_day[r.churn_day.date()]
        assert r.n_at_risk == at_risk
        assert r.hazard_ppm == r.n_churned * 1000000 // r.n_at_risk
        at_risk -= r.n_churned
    assert at_risk == 0


# --- pipeline_eval_auc --------------------------------------------------------


def test_eval_auc_matches_pairwise_definition(spark, sf_dir):
    """The rank-sum identity equals the O(n^2) probabilistic
    definition P(s_pos > s_neg) + 0.5 P(tie), recomputed directly."""
    import numpy as np

    con = duckdb.connect()
    df = con.execute(
        f"SELECT vec_id, embedding, label FROM '{sf_dir}/embeddings.parquet'"
    ).df()
    w = np.array([1 if j % 2 == 1 else -1 for j in range(1, 65)])
    scores = np.array(
        [
            int(
                sum(
                    int(round(float(v) * 1_000_000)) * int(c)
                    for v, c in zip(emb, w)
                )
            )
            for emb in df.embedding
        ]
    )
    pos = (df.label >= 5).to_numpy()
    sp, sn = scores[pos], scores[~pos]
    gt = sum((p > sn).sum() for p in sp)
    eq = sum((p == sn).sum() for p in sp)
    row = run("pipeline_eval_auc", spark, sf_dir).collect()[0]
    assert row.n == len(df)
    assert row.n_pos == int(pos.sum()) and row.n_neg == int((~pos).sum())
    assert row.auc_num == 2 * gt + eq  # doubled U statistic
    assert row.auc_den == 2 * row.n_pos * row.n_neg
    assert row.auc == pytest.approx(
        (gt + 0.5 * eq) / (row.n_pos * row.n_neg), rel=1e-12
    )


# --- fn_base64 ----------------------------------------------------------------


def test_base64_matches_stdlib(spark, sf_dir):
    import base64 as b64mod

    rows = run("fn_base64", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.b64 == b64mod.b64encode(r.c_name.encode()).decode()
        assert r.roundtrip == r.c_name
        n = len(r.c_name)
        assert r.b64_len == 4 * ((n + 2) // 3)  # RFC 4648 length law
        assert b64mod.b64decode(r.b64_tagged).decode().startswith(r.c_name + "|")


# --- agg_paired_t -------------------------------------------------------------


def test_paired_t_matches_numpy(spark, sf_dir, day_grid):
    import numpy as np

    a = day_grid[day_grid.event_type == "click"].set_index("d").x
    b = day_grid[day_grid.event_type == "purchase"].set_index("d").x
    common = a.index.intersection(b.index)
    d = (a[common] - b[common]).to_numpy(dtype=float)
    row = run("agg_paired_t", spark, sf_dir).collect()[0]
    assert row.n == len(d)
    assert row.s1 == int(d.sum())
    assert row.mean_d == pytest.approx(d.mean(), rel=1e-12)
    assert row.sd_d == pytest.approx(d.std(ddof=1), rel=1e-12)
    assert row.t_stat == pytest.approx(
        d.mean() / (d.std(ddof=1) / np.sqrt(len(d))), rel=1e-12
    )


# --- agg_cramer_von_mises -------------------------------------------------------


def test_cvm_matches_definition(spark, sf_dir, day_grid):
    """Anderson's rank form replayed in pure Python with midranks."""
    a = sorted(int(v) for v in day_grid[day_grid.event_type == "click"].x)
    b = sorted(int(v) for v in day_grid[day_grid.event_type == "purchase"].x)
    n, m = len(a), len(b)
    combined = sorted([(v, 0) for v in a] + [(v, 1) for v in b])
    # midranks over the combined sample
    from collections import defaultdict

    positions = defaultdict(list)
    for idx, (v, _) in enumerate(combined, start=1):
        positions[v].append(idx)
    midrank = {v: sum(p) / len(p) for v, p in positions.items()}
    ra = [midrank[v] for v in a]
    rb = [midrank[v] for v in b]
    u = n * sum((r - i) ** 2 for i, r in enumerate(ra, start=1)) + m * sum(
        (r - j) ** 2 for j, r in enumerate(rb, start=1)
    )
    t_ref = u / (n * m * (n + m)) - (4 * n * m - 1) / (6 * (n + m))
    row = run("agg_cramer_von_mises", spark, sf_dir).collect()[0]
    assert (row.n, row.m) == (n, m)
    assert row.u_stat == pytest.approx(u, rel=1e-12)
    assert row.cvm_t == pytest.approx(t_ref, rel=1e-9)


# --- agg_isotonic -------------------------------------------------------------


def _pava(y):
    """Literal pool-adjacent-violators (equal weights)."""
    blocks = [[v, 1] for v in y]  # [sum, count]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) >= 2 and out[-2][0] * out[-1][1] >= out[-1][0] * out[-2][1]:
            s2, c2 = out.pop()
            out[-1][0] += s2
            out[-1][1] += c2
    fit = []
    for s, c in out:
        fit.extend([s / c] * c)
    return fit


def test_isotonic_matches_pava(spark, sf_dir, day_grid):
    """The minimax characterization equals the sequential PAVA fit,
    and the result is non-decreasing."""
    sub = day_grid[day_grid.event_type == "click"].sort_values("d")
    y = [int(v) for v in sub.x]
    ref = _pava(y)
    rows = sorted(run("agg_isotonic", spark, sf_dir).collect(), key=lambda r: r.d)
    assert len(rows) == len(y)
    for r, expected, raw in zip(rows, ref, y):
        assert r.x == raw
        assert r.iso_fit == pytest.approx(expected, rel=1e-9)
    for a, b in zip(rows, rows[1:]):
        assert a.iso_fit <= b.iso_fit + 1e-9


# --- multimodal_warc_parse ------------------------------------------------------


def _read_warc(buf: str):
    """Independent minimal WARC/1.0 reader: header-driven walk."""
    out, o = [], 0
    while o < len(buf):
        he = buf.index("\r\n\r\n", o)
        header = buf[o:he]
        assert header.startswith("WARC/1.0\r\n")
        fields = dict(
            line.split(": ", 1) for line in header.split("\r\n")[1:]
        )
        cl = int(fields["Content-Length"])
        payload = buf[he + 4 : he + 4 + cl]
        assert len(payload) == cl
        out.append((fields["WARC-Record-ID"], cl, o + 1, payload))
        assert buf[he + 4 + cl : he + 4 + cl + 4] == "\r\n\r\n"
        o = he + 4 + cl + 4
    return out


def test_warc_parse_matches_independent_reader(spark, sf_dir):
    """Rebuild each doc's WARC file from the generative law in pure
    Python, parse it with an independent reader, and compare every
    parsed field with the Spark rows."""
    pattern = "abcdefghijklmnopqrstuvwxyz" * 12
    rows = run("multimodal_warc_parse", spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 40 and all(len(v) == 3 for v in by_doc.values())
    for doc_id, recs in by_doc.items():
        buf = ""
        for r in range(3):
            cl = 50 + (doc_id * 31 + r * 17) % 200
            start = (doc_id + r) % 26
            payload = pattern[start : start + cl]
            buf += (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:uuid:{doc_id}-{r}>\r\n"
                f"Content-Length: {cl}\r\n\r\n{payload}\r\n\r\n"
            )
        parsed = _read_warc(buf)
        assert len(parsed) == 3
        for got, (rid, cl, off, payload) in zip(
            sorted(recs, key=lambda x: x.rec), parsed
        ):
            assert got.rid == rid.removeprefix("<urn:uuid:").removesuffix(">")
            assert got.content_length == cl
            assert got.rec_offset == off
            assert got.head_char == payload[0]
            assert got.tail_char == payload[-1]
            assert got.file_bytes == len(buf)


# --- pipeline_ldiversity --------------------------------------------------------


def test_ldiversity_matches_pandas(spark, sf_dir):
    con = duckdb.connect()
    df = con.execute(
        f"""SELECT c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band,
               c_custkey % 7 AS s
            FROM '{sf_dir}/customer.parquet'"""
    ).df()
    row = run("pipeline_ldiversity", spark, sf_dir).collect()[0]
    g = df.groupby(["c_nationkey", "c_mktsegment", "band"])
    n_classes = len(g)
    l_per = g.s.nunique()
    sizes = g.size()
    modal = g.s.agg(lambda v: v.value_counts().iloc[0])
    assert row.n_classes == n_classes
    assert row.n_classes_below_l == int((l_per < 3).sum())
    assert row.n_rows_at_risk == int(sizes[l_per < 3].sum())
    assert row.min_l == int(l_per.min())
    assert row.n_classes_skewed == int((modal * 3 > sizes).sum())
    assert row.n_rows == len(df)


# --- agg_seasonal_decompose -----------------------------------------------------


def test_seasonal_decompose_matches_reference(spark, sf_dir, day_grid):
    """Centered-MA decomposition replayed in pure Python; the three
    components must re-add to x, and the seasonal component must be
    constant per weekday."""
    sub = day_grid[day_grid.event_type == "click"].sort_values("d")
    xs = [int(v) for v in sub.x]
    days = list(sub.d)
    n = len(xs)
    trend7 = {
        i: sum(xs[i - 3 : i + 4]) for i in range(3, n - 3)
    }  # centered window of 7
    det = {i: 7 * xs[i] - trend7[i] for i in trend7}
    from collections import defaultdict

    bywd = defaultdict(list)
    for i in det:
        bywd[days[i].isoweekday() - 1].append(det[i])
    rows = sorted(
        run("agg_seasonal_decompose", spark, sf_dir).collect(),
        key=lambda r: r.d,
    )
    assert len(rows) == len(det)
    for r, i in zip(rows, sorted(det)):
        assert r.x == xs[i]
        assert r.trend7_sum == trend7[i]
        assert r.det7 == det[i]
        wd = days[i].isoweekday() - 1
        assert r.seas_num == sum(bywd[wd]) and r.seas_den == len(bywd[wd])
        assert r.trend == pytest.approx(trend7[i] / 7, rel=1e-12)
        assert r.seasonal == pytest.approx(
            sum(bywd[wd]) / len(bywd[wd]) / 7, rel=1e-12
        )
        assert r.x - r.trend - r.seasonal == pytest.approx(
            r.residual, rel=1e-9, abs=1e-6
        )


# --- agg_pettitt --------------------------------------------------------------


def test_pettitt_matches_direct_enumeration(spark, sf_dir, day_grid):
    """U_t replayed by the O(n^2) direct double sum; K and the first
    attaining index must match."""
    xs = [
        int(v)
        for v in day_grid[day_grid.event_type == "click"].sort_values("d").x
    ]
    n = len(xs)

    def sgn(a, b):
        return (a > b) - (a < b)

    u_ref = {}
    for t in range(1, n + 1):
        u_ref[t] = sum(
            sgn(xs[i], xs[j]) for i in range(t) for j in range(t, n)
        )
    k_ref = max(abs(u_ref[t]) for t in range(1, n))
    cp = min(t for t in range(1, n) if abs(u_ref[t]) == k_ref)
    rows = sorted(run("agg_pettitt", spark, sf_dir).collect(), key=lambda r: r.t)
    assert len(rows) == n
    for r in rows:
        assert r.u_t == u_ref[r.t]
        assert r.k_stat == k_ref
        assert r.is_changepoint == (r.t == cp)


# --- pipeline_mmr_rerank --------------------------------------------------------


def test_mmr_matches_greedy_reference(spark, sf_dir):
    """Greedy MMR replayed in pure Python over the same integer
    lattice: picks, relevance, max-sims and scores all match; picks
    are distinct and the first pick is the pure-relevance argmax."""
    con = duckdb.connect()
    df = con.execute(
        f"""SELECT vec_id, embedding
            FROM '{sf_dir}/embeddings.parquet' WHERE vec_id < 32"""
    ).fetchall()
    w = [1 if j <= 32 else -1 for j in range(1, 65)]
    xq = {
        vid: [int(round(float(v) * 1_000_000)) for v in emb]
        for vid, emb in df
    }
    rel = {vid: sum(a * b for a, b in zip(x, w)) for vid, x in xq.items()}

    def dot(u, v):
        return sum(a * b for a, b in zip(u, v))

    picked = [min(rel, key=lambda v: (-rel[v], v))]
    expect = {picked[0]: (1, rel[picked[0]], 0, rel[picked[0]])}
    for r in range(2, 5):
        best = None
        for v in xq:
            if v in picked:
                continue
            ms = max(dot(xq[v], xq[p]) for p in picked)
            key = (-(rel[v] - ms), v)
            if best is None or key < best[0]:
                best = (key, v, ms)
        _, v, ms = best
        picked.append(v)
        expect[v] = (r, rel[v], ms, rel[v] - ms)
    rows = run("pipeline_mmr_rerank", spark, sf_dir).collect()
    assert len(rows) == 4 and len({r.vec_id for r in rows}) == 4
    for r in rows:
        rank, relv, ms, mmr2 = expect[r.vec_id]
        assert (r.rank, r.rel, r.max_sim, r.mmr2) == (rank, relv, ms, mmr2)


# --- text_kneser_ney ------------------------------------------------------------


def test_kneser_ney_sums_to_one_exactly(spark, sf_dir):
    """The defining property, in exact Fraction arithmetic: for every
    context v, sum over the FULL vocab of p_KN(w|v) — observed
    bigrams via the emitted num/den, unseen words via the pure
    continuation backoff — equals exactly 1."""
    from fractions import Fraction

    rows = run("text_kneser_ney", spark, sf_dir).collect()
    assert rows
    bt = rows[0].bt
    vocab_back = {}  # w -> n1_back
    by_v = {}
    for r in rows:
        assert r.p4_num == r.bt * (4 * r.c_vw - 3) + 3 * r.n1_fwd * r.n1_back
        assert r.d4_den == 4 * r.c_v * r.bt
        assert r.p_kn == pytest.approx(r.p4_num / r.d4_den, abs=0)
        vocab_back[r.w] = r.n1_back
        by_v.setdefault(r.v, []).append(r)
    assert sum(vocab_back.values()) == bt  # N1+(.w) partitions bigram types
    for v, obs in by_v.items():
        c_v, n1_fwd = obs[0].c_v, obs[0].n1_fwd
        assert len(obs) == n1_fwd
        seen_w = {r.w for r in obs}
        total = sum(Fraction(r.p4_num, r.d4_den) for r in obs)
        lam = Fraction(3 * n1_fwd, 4 * c_v)
        for w, nb in vocab_back.items():
            if w not in seen_w:
                total += lam * Fraction(nb, bt)
        assert total == 1


# --- win_variance_ratio ---------------------------------------------------------


def test_variance_ratio_matches_numpy(spark, sf_dir, day_grid):
    import numpy as np

    xs = np.array(
        [int(v) for v in day_grid[day_grid.event_type == "click"].sort_values("d").x],
        dtype=float,
    )
    r1 = np.diff(xs)
    rk = xs[4:] - xs[:-4]
    row = run("win_variance_ratio", spark, sf_dir).collect()[0]
    assert row.n1 == len(r1) and row.nk == len(rk)
    assert row.var1 == pytest.approx(r1.var(ddof=1), rel=1e-12)
    assert row.vark == pytest.approx(rk.var(ddof=1), rel=1e-12)
    assert row.vr == pytest.approx(rk.var(ddof=1) / (4 * r1.var(ddof=1)), rel=1e-12)


# --- pipeline_quantile_normalize ------------------------------------------------


def test_quantile_normalize_properties(spark, sf_dir, day_grid):
    """After quantile normalization the two series have IDENTICAL
    multisets of normalized values, and within each series the
    transform is monotone in the raw values."""
    rows = run("pipeline_quantile_normalize", spark, sf_dir).collect()
    by_series = {}
    for r in rows:
        by_series.setdefault(r.event_type, []).append(r)
    assert set(by_series) == {"click", "purchase"}
    vals = {
        k: sorted(round(r.x_qnorm, 9) for r in v) for k, v in by_series.items()
    }
    assert vals["click"] == vals["purchase"]  # the defining property
    for k, v in by_series.items():
        srt = sorted(v, key=lambda r: r.rnk)
        for p, q in zip(srt, srt[1:]):
            assert p.x <= q.x and p.x_qnorm <= q.x_qnorm
        # the reference at each rank is the cross-series mean of the
        # order statistics
        xs = {k2: sorted(r.x for r in v2) for k2, v2 in by_series.items()}
        for r in srt:
            expect = (xs["click"][r.rnk - 1] + xs["purchase"][r.rnk - 1]) / 2
            assert r.x_qnorm == pytest.approx(expect, rel=1e-12)
            assert r.ref2_num == xs["click"][r.rnk - 1] + xs["purchase"][r.rnk - 1]


# --- pipeline_did ---------------------------------------------------------------


def test_did_matches_pandas(spark, sf_dir):
    con = duckdb.connect()
    df = con.execute(
        f"""SELECT ((user_id & 2147483647) * 2654435761) % 2 AS treated,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
            FROM '{sf_dir}/events.parquet' WHERE event_type = 'purchase'"""
    ).df()
    row = run("pipeline_did", spark, sf_dir).collect()[0]
    g = df.groupby(["treated", "post"]).y
    means = {}
    for (t, p), grp in g:
        assert getattr(row, f"n{t}{p}") == len(grp)
        assert getattr(row, f"s{t}{p}") == int(grp.sum())
        means[(t, p)] = grp.sum() / len(grp)
        assert getattr(row, f"m{t}{p}") == pytest.approx(means[(t, p)], rel=1e-12)
    assert row.did == pytest.approx(
        (means[(1, 1)] - means[(1, 0)]) - (means[(0, 1)] - means[(0, 0)]),
        rel=1e-9,
    )


# --- text_burstiness ------------------------------------------------------------


def test_burstiness_matches_population_vmr(spark, sf_dir):
    """VMR recomputed including the zero-count docs explicitly."""
    import numpy as np

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for did, txt in docs:
        for tok in txt.split(" "):
            per[tok][did] += 1
    nd = len(docs)
    rows = run("text_burstiness", spark, sf_dir).collect()
    assert {r.token for r in rows} == set(per)
    for r in rows:
        ks = np.zeros(nd)
        for j, (_, k) in enumerate(per[r.token].items()):
            ks[j] = k  # remaining entries stay zero
        assert r.tot == int(ks.sum())
        assert r.sumsq == int((ks**2).sum())
        assert r.df == len(per[r.token])
        assert r.n_docs == nd
        assert r.vmr == pytest.approx(
            ks.var(ddof=1) / ks.mean(), rel=1e-9
        )


# --- agg_leverage ---------------------------------------------------------------


def test_leverage_matches_hat_matrix(spark, sf_dir, day_grid):
    """h_t replayed from the hat-matrix definition; leverages sum to
    p = 2 exactly (in Fractions), and the fitted line matches
    numpy's least squares."""
    import numpy as np
    from fractions import Fraction

    ys = [int(v) for v in day_grid[day_grid.event_type == "click"].sort_values("d").x]
    n = len(ys)
    ts = np.arange(1, n + 1, dtype=float)
    rows = sorted(run("agg_leverage", spark, sf_dir).collect(), key=lambda r: r.t)
    assert len(rows) == n
    sxx = (ts - ts.mean()) @ (ts - ts.mean())
    b, a = np.polyfit(ts, np.array(ys, dtype=float), 1)
    total_h = Fraction(0)
    for r in rows:
        h_ref = 1 / n + (r.t - ts.mean()) ** 2 / sxx
        assert r.leverage == pytest.approx(h_ref, rel=1e-12)
        assert r.h_num / r.h_den == pytest.approx(h_ref, rel=1e-12)
        total_h += Fraction(r.h_num, r.h_den)
        assert r.high_leverage == (r.h_num > 4 * (n * n - 1))
        assert r.slope == pytest.approx(b, rel=1e-9)
        assert r.fitted == pytest.approx(a + b * r.t, rel=1e-9)
    assert total_h == 2  # trace of the hat matrix == #parameters


# --- agg_c_index ----------------------------------------------------------------


def test_c_index_matches_pairwise(spark, sf_dir):
    con = duckdb.connect()
    users = con.execute(
        f"""SELECT user_id, MAX(CAST(date_trunc('day', ts) AS DATE)) AS cd,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sp
            FROM '{sf_dir}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    n_comp = conc2 = 0
    for _, da, sa in users:
        for _, db, sb in users:
            if da < db:
                n_comp += 1
                conc2 += 2 if sa > sb else (1 if sa == sb else 0)
    row = run("agg_c_index", spark, sf_dir).collect()[0]
    assert row.n_comparable == n_comp
    assert row.conc2_sum == conc2
    assert row.c_index == pytest.approx(conc2 / (2 * n_comp), abs=0)
    assert 0.0 <= row.c_index <= 1.0


# --- agg_newey_west -------------------------------------------------------------


def test_newey_west_matches_numpy(spark, sf_dir, day_grid):
    import numpy as np

    xs = np.array(
        [int(v) for v in day_grid[day_grid.event_type == "click"].sort_values("d").x],
        dtype=float,
    )
    n = len(xs)
    e = xs - xs.mean()
    gam = lambda k: (e[:-k] * e[k:]).sum() / n if k else (e * e).sum() / n
    nw = gam(0) + 2 * sum((1 - k / 4) * gam(k) for k in range(1, 4))
    row = run("agg_newey_west", spark, sf_dir).collect()[0]
    assert row.n == n
    assert row.gamma0 == pytest.approx(gam(0), rel=1e-9)
    assert row.nw_variance == pytest.approx(nw, rel=1e-9)
    # HAC >= 0 by Bartlett psd-ness
    assert row.nw_variance >= 0


# --- pipeline_group_kfold -------------------------------------------------------


def test_group_kfold_no_leakage_and_partition(spark, sf_dir):
    """Folds partition the corpus; no source spans two folds; the fold
    replays from the source's min doc id."""
    con = duckdb.connect()
    src = con.execute(
        f"""SELECT source, MIN(doc_id) AS anchor, COUNT(*) AS n,
               SUM(n_chars) AS sc
            FROM '{sf_dir}/documents.parquet' GROUP BY source"""
    ).fetchall()
    rows = run("pipeline_group_kfold", spark, sf_dir).collect()
    assert all(r.n_leaky_sources == 0 for r in rows)
    from collections import defaultdict

    expect = defaultdict(lambda: [0, 0, 0])
    for source, anchor, n, sc in src:
        fold = ((anchor & 2147483647) * 2654435761) % 5
        expect[fold][0] += n
        expect[fold][1] += sc
        expect[fold][2] += 1
    got = {r.fold: (r.n_docs, r.sum_chars, r.n_sources) for r in rows}
    assert got == {f: tuple(v) for f, v in expect.items()}
    n_total = sum(n for _, _, n, _ in src)
    assert sum(r.n_docs for r in rows) == n_total


# --- pipeline_eval_threshold ----------------------------------------------------


def test_eval_threshold_matches_sklearnless_roc(spark, sf_dir):
    """TP/FP at every threshold replayed directly; the optimal row
    maximizes J with exact-integer comparison and the smallest-thr
    tie-break."""
    con = duckdb.connect()
    df = con.execute(
        f"SELECT embedding, label FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    w = [1 if j % 2 == 1 else -1 for j in range(1, 65)]
    data = [
        (
            sum(int(round(float(v) * 1_000_000)) * c for v, c in zip(emb, w)),
            lab >= 5,
        )
        for emb, lab in df
    ]
    np_ = sum(1 for _, p in data if p)
    nn_ = len(data) - np_
    rows = run("pipeline_eval_threshold", spark, sf_dir).collect()
    assert len(rows) == len({s for s, _ in data})
    best = None
    for r in rows:
        tp = sum(1 for s, p in data if p and s >= r.thr)
        fp = sum(1 for s, p in data if not p and s >= r.thr)
        assert (r.tp, r.fp, r.np, r.nn) == (tp, fp, np_, nn_)
        assert r.j_num == tp * nn_ - fp * np_
        assert r.youden_j == pytest.approx(tp / np_ - fp / nn_, rel=1e-12)
        if best is None or (r.j_num, -r.thr) > (best.j_num, -best.thr):
            best = r
    for r in rows:
        assert r.is_optimal == (r.thr == best.thr)


# --- text_yule_k ----------------------------------------------------------------


def test_yule_k_matches_reference(spark, sf_dir):
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter, defaultdict

    freq = defaultdict(Counter)
    for lang, t in docs:
        freq[lang].update(t.split(" "))
    rows = {r.lang: r for r in run("text_yule_k", spark, sf_dir).collect()}
    assert set(rows) == set(freq)
    for lang, cnt in freq.items():
        n = sum(cnt.values())
        s2 = sum(m * m for m in cnt.values())
        r = rows[lang]
        assert r.n_tokens == n and r.n_types == len(cnt)
        assert r.k_num == 10000 * (s2 - n) and r.k_den == n * n
        assert r.yule_k == pytest.approx(10000 * (s2 - n) / n**2, rel=1e-12)


# --- pipeline_eval_pr -----------------------------------------------------------


def test_eval_pr_ap_in_fractions(spark, sf_dir):
    """The exact AP folded from the emitted rational summands equals
    the direct step-wise AP computed from scratch; precision/recall
    per row are exact ratios."""
    from fractions import Fraction

    con = duckdb.connect()
    df = con.execute(
        f"SELECT embedding, label FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    w = [1 if j % 2 == 1 else -1 for j in range(1, 65)]
    data = sorted(
        (
            sum(int(round(float(v) * 1_000_000)) * c for v, c in zip(emb, w)),
            lab >= 5,
        )
        for emb, lab in df
    )
    rows = run("pipeline_eval_pr", spark, sf_dir).collect()
    np_ = rows[0].np
    # reference AP: iterate thresholds descending
    from collections import Counter

    by_score = {}
    for s, p in data:
        tp, n = by_score.get(s, (0, 0))
        by_score[s] = (tp + (1 if p else 0), n + 1)
    ap_ref = Fraction(0)
    tp = pp = 0
    for s in sorted(by_score, reverse=True):
        tpa, na = by_score[s]
        tp += tpa
        pp += na
        ap_ref += Fraction(tpa, np_) * Fraction(tp, pp)
    ap_got = sum(Fraction(r.ap_term_num, r.ap_term_den) for r in rows)
    assert ap_got == ap_ref
    for r in rows:
        assert r.precision == pytest.approx(r.tp / r.pred_pos, abs=0)
        assert r.recall == pytest.approx(r.tp / r.np, abs=0)
    assert 0 < float(ap_got) <= 1


# --- fn_mod97 -------------------------------------------------------------------


def test_mod97_check_digits_are_valid_ibans(spark, sf_dir):
    """Every generated IBAN validates by the textbook big-integer
    mod-97 rule (rearrange, letters->numbers, mod 97 == 1)."""
    rows = run("fn_mod97", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert len(r.bban) == 18 and len(r.check_digits) == 2
        # textbook validation with Python big ints: move country+check
        # to the end, map Z->35
        rearranged = r.bban + "3535" + r.check_digits
        assert int(rearranged) % 97 == 1
        assert r.mod97_verify == 1 and r.is_valid
        assert r.iban == "ZZ" + r.check_digits + r.bban


# --- win_matrix_profile ---------------------------------------------------------


def test_matrix_profile_matches_brute_force(spark, sf_dir, day_grid):
    xs = [
        int(v)
        for v in day_grid[day_grid.event_type == "click"].sort_values("d").x
    ]
    n = len(xs)
    wins = {i + 1: xs[i : i + 8] for i in range(n - 7)}
    rows = {r.wstart: r for r in run("win_matrix_profile", spark, sf_dir).collect()}
    assert set(rows) == set(wins)
    profile = {}
    for i, wa in wins.items():
        best = None
        for j, wb in wins.items():
            if abs(i - j) > 4:
                d = sum((a - b) ** 2 for a, b in zip(wa, wb))
                best = d if best is None or d < best else best
        profile[i] = best
    motif = min(profile.values())
    for i, r in rows.items():
        assert r.profile_sed == float(profile[i])
        assert r.is_motif == (profile[i] == motif)


# --- win_sax --------------------------------------------------------------------


def test_sax_matches_reference(spark, sf_dir, day_grid):
    import numpy as np

    xs = np.array(
        [int(v) for v in day_grid[day_grid.event_type == "click"].sort_values("d").x],
        dtype=float,
    )
    mean, sd = xs.mean(), xs.std(ddof=1)
    rows = sorted(run("win_sax", spark, sf_dir).collect(), key=lambda r: r.seg_id)
    assert len(rows) == len(xs) // 6
    for r in rows:
        seg = xs[r.seg_id * 6 : r.seg_id * 6 + 6]
        assert r.seg_sum == int(seg.sum()) and r.seg_n == 6
        z = (seg.mean() - mean) / sd
        assert r.zpaa == pytest.approx(z, rel=1e-12)
        expect = "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
        assert r.symbol == expect


# --- win_haar_dwt ---------------------------------------------------------------


def test_haar_dwt_invertible_and_parseval(spark, sf_dir, day_grid):
    """Exact reconstruction from the 16 coefficients and the
    unnormalized-Haar Parseval identity (integers only)."""
    xs = [
        int(v)
        for v in day_grid[day_grid.event_type == "click"].sort_values("d").x
    ][:16]
    row = run("win_haar_dwt", spark, sf_dir).collect()[0]
    # rebuild the basis and verify each coefficient
    coefs = {}
    for lvl in range(1, 5):
        blk = 1 << lvl
        for i in range(16 // blk):
            first = sum(xs[i * blk : i * blk + blk // 2])
            second = sum(xs[i * blk + blk // 2 : (i + 1) * blk])
            coefs[f"d{lvl}_{i}"] = first - second
    coefs["a4_0"] = sum(xs)
    for name, v in coefs.items():
        assert getattr(row, name) == v
    # exact inverse: x_t = a/16 + sum_l d_{l,block(t)} * sign / 2^l
    for t in range(16):
        acc = coefs["a4_0"] * 1  # work at scale 16: x_t*16
        val16 = coefs["a4_0"]
        for lvl in range(1, 5):
            blk = 1 << lvl
            i = t // blk
            sign = 1 if (t % blk) < blk // 2 else -1
            val16 += sign * coefs[f"d{lvl}_{i}"] * (16 // blk)
        assert val16 == 16 * xs[t]
    # Parseval (unnormalized): 16*sum x^2 == sum_l (16/2^l)*d_l^2 + a^2
    lhs = 16 * sum(v * v for v in xs)
    rhs = coefs["a4_0"] ** 2 + sum(
        (16 >> lvl) * coefs[f"d{lvl}_{i}"] ** 2
        for lvl in range(1, 5)
        for i in range(16 >> lvl)
    )
    assert lhs == rhs


# --- vec_hadamard_transform -----------------------------------------------------


def test_hadamard_parseval_and_involution(spark, sf_dir):
    con = duckdb.connect()
    df = con.execute(
        f"""SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'
            WHERE vec_id < 64"""
    ).fetchall()
    xqs = {
        vid: [int(round(float(v) * 1_000_000)) for v in emb[:16]]
        for vid, emb in df
    }
    rows = run("vec_hadamard_transform", spark, sf_dir).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, {})[r.component] = r.coef
    assert set(by_vec) == set(xqs)
    sign = lambda i, j: (-1) ** bin(i & j).count("1")
    for vid, x in xqs.items():
        y = by_vec[vid]
        assert len(y) == 16
        for j in range(16):
            assert y[j] == sum(sign(i, j) * x[i] for i in range(16))
        # Parseval: sum y^2 = 16 * sum x^2 (exact integers)
        assert sum(v * v for v in y.values()) == 16 * sum(v * v for v in x)
        # involution: H(Hx) = 16x
        for i in range(16):
            assert sum(sign(i, j) * y[j] for j in range(16)) == 16 * x[i]


# --- vec_dbscan_core / vec_silhouette --------------------------------------------


def _lattice(sf_dir, cap):
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT vec_id, label, embedding
            FROM '{sf_dir}/embeddings.parquet' WHERE vec_id < {cap}"""
    ).fetchall()
    return {
        vid: (lab, [int(round(float(v) * 1_000_000)) for v in emb])
        for vid, lab, emb in rows
    }


def test_dbscan_roles_match_reference(spark, sf_dir):
    data = _lattice(sf_dir, 96)
    d2 = lambda u, v: sum((a - b) ** 2 for a, b in zip(u, v))
    eps2, minpts = 1_600_000_000_000, 6
    nbrs = {
        i: 1
        + sum(
            1
            for j, (_, xj) in data.items()
            if j != i and d2(xi, xj) <= eps2
        )
        for i, (_, xi) in data.items()
    }
    core = {i for i, n in nbrs.items() if n >= minpts}
    rows = {r.vec_id: r for r in run("vec_dbscan_core", spark, sf_dir).collect()}
    assert set(rows) == set(data)
    for i, r in rows.items():
        assert r.n_nbrs == nbrs[i]
        assert r.is_core == (i in core)
        if i in core:
            assert r.role == "core"
        else:
            near_core = any(
                j in core and j != i and d2(data[i][1], data[j][1]) <= eps2
                for j in data
            )
            assert r.role == ("border" if near_core else "noise")
    roles = {r.role for r in rows.values()}
    assert "core" in roles and "noise" in roles  # non-degenerate mix


def test_silhouette_matches_reference(spark, sf_dir):
    data = _lattice(sf_dir, 128)
    d2 = lambda u, v: sum((a - b) ** 2 for a, b in zip(u, v))
    rows = {r.vec_id: r for r in run("vec_silhouette", spark, sf_dir).collect()}
    assert set(rows) == set(data)
    for i, (li, xi) in data.items():
        by_label = {}
        for j, (lj, xj) in data.items():
            if j != i:
                s, c = by_label.get(lj, (0, 0))
                by_label[lj] = (s + d2(xi, xj), c + 1)
        a = by_label[li][0] / by_label[li][1]
        b = min(s / c for l, (s, c) in by_label.items() if l != li)
        r = rows[i]
        assert r.a_mean == pytest.approx(a, rel=1e-12)
        assert r.b_mean == pytest.approx(b, rel=1e-12)
        assert r.silhouette == pytest.approx((b - a) / max(a, b), rel=1e-12)
        assert -1.0 <= r.silhouette <= 1.0


# --- agg_kneedle ----------------------------------------------------------------


def test_kneedle_matches_reference(spark, sf_dir, day_grid):
    """The knee maximizes chord distance; replayed with exact integer
    cross products and first-index tie-break."""
    xs = [
        int(v)
        for v in day_grid[day_grid.event_type == "click"].sort_values("d").x
    ]
    cum = []
    s = 0
    for v in xs:
        s += v
        cum.append(s)
    n = len(cum)
    t1, t2, y1, y2 = 1, n, cum[0], cum[-1]
    crosses = {
        t: (t2 - t1) * (cum[t - 1] - y1) - (y2 - y1) * (t - t1)
        for t in range(1, n + 1)
    }
    k = max(abs(c) for t, c in crosses.items() if t not in (t1, t2))
    knee = min(t for t, c in crosses.items() if abs(c) == k and t not in (t1, t2))
    rows = sorted(run("agg_kneedle", spark, sf_dir).collect(), key=lambda r: r.t)
    assert len(rows) == n
    for r in rows:
        assert r.cum == cum[r.t - 1]
        assert r.cross_num == crosses[r.t]
        assert r.is_knee == (r.t == knee)


# --- multimodal_ico_parse -------------------------------------------------------


def test_ico_parse_matches_independent_reader(spark, sf_dir):
    """Rebuild each doc's ICO from the generative law in pure Python
    bytes, parse it with an independent struct-based reader, and
    compare every field with the Spark rows."""
    import struct

    rows = run("multimodal_ico_parse", spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 40 and all(len(v) == 3 for v in by_doc.values())
    for doc_id, recs in by_doc.items():
        sizes = [40 + (doc_id * 19 + m * 23) % 100 for m in range(3)]
        blobs = [
            bytes((doc_id + m + j) % 256 for j in range(sizes[m]))
            for m in range(3)
        ]
        buf = struct.pack("<HHH", 0, 1, 3)
        off = 6 + 16 * 3
        offsets = []
        for m in range(3):
            dim = 16 << m
            offsets.append(off)
            buf += struct.pack(
                "<BBBBHHII", dim, dim, 0, 0, 1, 32, sizes[m], off
            )
            off += sizes[m]
        for b in blobs:
            buf += b
        # independent reader
        reserved, typ, count = struct.unpack_from("<HHH", buf, 0)
        assert (reserved, typ, count) == (0, 1, 3)
        for m, r in enumerate(sorted(recs, key=lambda x: x.entry)):
            w, h, _, _, planes, bpp, sz, o = struct.unpack_from(
                "<BBBBHHII", buf, 6 + 16 * m
            )
            assert (r.width, r.height, r.planes, r.bpp) == (w, h, planes, bpp)
            assert (r.bytes_in_res, r.img_offset) == (sz, o)
            assert r.img_byte_sum == sum(buf[o : o + sz])
            assert r.file_bytes == len(buf)
            assert r.chain_ok
