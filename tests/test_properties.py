"""Property-based invariants (SURVEY.md §5.3, hypothesis): algebraic
laws that must hold for ANY data, checked over generated inputs and
over fixture-derived frames."""

import math

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analysis_spark.registry import load_all

REG = load_all()

_SETTINGS = dict(max_examples=8, deadline=None)  # each example spins Spark jobs

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy, rows2=rows_strategy)
@settings(**_SETTINGS)
def test_union_all_counts_add(spark, rows, rows2):
    a = spark.createDataFrame(rows, "k int, v int")
    b = spark.createDataFrame(rows2, "k int, v int")
    assert a.unionByName(b).count() == len(rows) + len(rows2)


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_running_sum_final_equals_group_sum(spark, rows):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k int, v int, rid int"
    )
    w = (
        Window.partitionBy("k")
        .orderBy("rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = df.withColumn("rs", F.sum("v").over(w))
    last_per_key = {
        r.k: r.rs
        for r in running.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy(F.desc("rid"))),
        )
        .where(F.col("rn") == 1)
        .collect()
    }
    totals = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert last_per_key == totals


@given(rows=rows_strategy, rows2=rows_strategy)
@settings(**_SETTINGS)
def test_semi_join_is_filtered_left(spark, rows, rows2):
    a = spark.createDataFrame(rows, "k int, v int")
    b = spark.createDataFrame(rows2, "k int, v int")
    semi = set(
        (r.k, r.v) for r in a.join(b, "k", "left_semi").collect()
    )
    b_keys = {k for k, _ in rows2}
    expected = {(k, v) for k, v in rows if k in b_keys}
    assert semi == expected


@given(rows=rows_strategy, rows2=rows_strategy)
@settings(**_SETTINGS)
def test_semi_plus_anti_partition_left(spark, rows, rows2):
    a = spark.createDataFrame(rows, "k int, v int")
    b = spark.createDataFrame(rows2, "k int, v int")
    n_semi = a.join(b, "k", "left_semi").count()
    n_anti = a.join(b, "k", "left_anti").count()
    assert n_semi + n_anti == len(rows)


def test_dedup_tokenset_idempotent(spark, sf_dir):
    """Applying the canonical token-set key to already-canonical
    strings is a fixpoint."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    once = d.select(key.alias("text"))
    twice = once.select(key.alias("text"))
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_cosine_self_is_one(spark, sf_dir):
    """cos(v, v) == 1 within quantization error for unit vectors."""
    rows = REG["vec_norm_check"].fn(spark, sf_dir).collect()
    for r in rows:
        assert abs(r.l2_norm_sq - 1.0) < 1e-5, r


def test_fingerprint_invariant_under_shuffle(spark, sf_dir):
    """tokenset_fingerprint is identical for token-order shuffles —
    exactly the fixture near-dup clusters."""
    fp = {r.doc_id: r.tokenset_fingerprint
          for r in REG["text_fingerprint"].fn(spark, sf_dir).collect()}
    clusters = REG["dedup_tokenset"].fn(spark, sf_dir).collect()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    by_key = {}
    for r in d.select("doc_id", key.alias("k")).collect():
        by_key.setdefault(r.k, set()).add(fp[r.doc_id])
    assert len(clusters) > 0
    for k, fps in by_key.items():
        assert len(fps) == 1


def test_chunking_conserves_tokens(spark, sf_dir):
    """text_chunk invariants on the real corpus: per-doc chunk token
    sums equal the doc's token count; every chunk is 32 tokens except
    possibly each doc's last; chunk ids are dense from 0."""
    chunks = REG["text_chunk"].fn(spark, sf_dir)
    docs = (
        REG["text_chunk"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("tok_sum"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("chunk_id").alias("max_id"),
        F.sum(F.when(F.col("n_tokens") != 32, 1).otherwise(0)).alias("n_partial"),
    )
    joined = per_doc.join(docs, "doc_id")
    bad = joined.where(
        (F.col("tok_sum") != F.col("n_toks"))
        | (F.col("max_id") != F.col("n_chunks") - 1)
        | (F.col("n_partial") > 1)
    )
    assert bad.count() == 0


def test_pack_sequences_budget_and_conservation(spark, sf_dir):
    """pipeline_pack_sequences invariants: chunk/token mass is
    conserved shard-by-shard, and no pack exceeds budget + max_chunk
    - 1 tokens (a chunk may straddle one boundary, never two)."""
    packs = REG["pipeline_pack_sequences"].fn(spark, sf_dir)
    overfull = packs.where(F.col("n_tokens") > 64 + 32 - 1)
    assert overfull.count() == 0
    shard = packs.groupBy("lang", "source").agg(
        F.sum("n_tokens").alias("pack_toks")
    )
    chunks = REG["text_chunk"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    truth = (
        chunks.join(docs, "doc_id")
        .groupBy("lang", "source")
        .agg(F.sum("n_tokens").alias("chunk_toks"))
    )
    mism = shard.join(truth, ["lang", "source"]).where(
        F.col("pack_toks") != F.col("chunk_toks")
    )
    assert mism.count() == 0


def test_frame_sample_stride_and_bounds(spark, sf_dir):
    """multimodal_frame_sample: sampled indices follow the stride,
    every frame is full-size, and counts match floor(n/16) math."""
    frames = REG["multimodal_frame_sample"].fn(spark, sf_dir)
    assert frames.where(F.col("frame_idx") % 4 != 0).count() == 0
    assert frames.where(F.col("n_bytes") != 16).count() == 0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.floor((F.col("n_chars") / 16)).alias("n_frames")
    )
    per_doc = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sampled"))
    mism = per_doc.join(docs, "doc_id").where(
        F.col("n_sampled") != F.floor((F.col("n_frames") + 3) / 4)
    )
    assert mism.count() == 0


def test_train_split_partitions_corpus(spark, sf_dir):
    """pipeline_train_split: the three splits are disjoint and
    exhaustive (doc counts sum to the corpus), assignment is stable
    across runs, and every split is non-empty at any fixture sf."""
    split = REG["pipeline_train_split"].fn(spark, sf_dir)
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = split.collect()
    assert sum(r["n_docs"] for r in rows) == total
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    rows2 = REG["pipeline_train_split"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_forward_fill_matches_observed_rows(spark, sf_dir):
    """win_forward_fill: on rows with an observation the fill equals
    the observation; on gap rows it equals the user's most recent
    prior observation (checked via a self-join reconstruction)."""
    ff = REG["win_forward_fill"].fn(spark, sf_dir)
    assert (
        ff.where(
            F.col("observed").isNotNull()
            & (F.col("observed") != F.col("value_ffill"))
        ).count()
        == 0
    )
    # a filled gap row must never precede its user's first observation
    firsts = (
        ff.where(F.col("observed").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_obs_ts"))
    )
    bad = (
        ff.where(F.col("value_ffill").isNotNull())
        .join(firsts, "user_id")
        .where(F.col("ts") < F.col("first_obs_ts"))
    )
    assert bad.count() == 0


def test_index_probe_is_subset_of_bucket_candidates(spark, sf_dir):
    """sim_index_probe: every reported neighbor's bucket is within
    Hamming radius 2 of its query's bucket (the probe never reaches
    outside its candidate set), and per-query output is <= 3 rows."""
    from big_data_analysis_spark.operators.similarity import sem_bucket

    probe = REG["sim_index_probe"].fn(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    buckets = {
        r["vec_id"]: r["b"]
        for r in e.select(
            "vec_id", sem_bucket(F.col("embedding")).alias("b")
        ).collect()
    }
    per_q = {}
    for r in probe:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        ham = bin(buckets[r["query_id"]] ^ buckets[r["neighbor_id"]]).count("1")
        assert ham <= 2, (r["query_id"], r["neighbor_id"], ham)
    assert all(v <= 3 for v in per_q.values())


def test_asof_forward_and_backward_are_consistent(spark, sf_dir):
    """join_asof (backward) and join_asof_forward must agree with
    direct recomputation: the forward match of a click is the
    minimum purchase ts at-or-after it."""
    fwd = REG["join_asof_forward"].fn(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    truth = (
        clicks.join(purch, "user_id")
        .where(F.col("pts") >= F.col("cts"))
        .groupBy("click_id")
        .agg(F.min("pts").alias("want_ts"))
    )
    mism = fwd.join(truth, "click_id", "full").where(
        F.col("purchase_ts").isNull()
        | F.col("want_ts").isNull()
        | (F.col("purchase_ts") != F.col("want_ts"))
    )
    assert mism.count() == 0


def test_interpolate_bounds_and_passthrough(spark, sf_dir):
    """win_interpolate: observed rows pass through unchanged; every
    interpolated value lies within [min(prev, next), max(prev, next)]
    of its user's neighboring observations; holes with a missing side
    stay NULL."""
    out = REG["win_interpolate"].fn(spark, sf_dir).toPandas()
    obs = out[out.observed.notna()]
    assert (obs.observed == obs.value_interp).all()
    filled = out[out.observed.isna() & out.value_interp.notna()]
    assert len(filled) > 0
    for uid, grp in out.groupby("user_id"):
        grp = grp.sort_values("event_id").reset_index(drop=True)
        for i, row in grp.iterrows():
            if not (row.observed != row.observed and row.value_interp == row.value_interp):
                continue  # only check filled holes (observed NaN, interp set)
            prev = grp.observed[:i].dropna()
            nxt = grp.observed[i + 1:].dropna()
            lo = min(prev.iloc[-1], nxt.iloc[0])
            hi = max(prev.iloc[-1], nxt.iloc[0])
            assert lo - 1e-9 <= row.value_interp <= hi + 1e-9


def test_attribution_conserves_purchase_revenue(spark, sf_dir):
    """pipeline_attribution: attributed revenue summed over touch
    types equals total purchase revenue, and purchase counts add up —
    attribution is a partition of conversions, never double-counting."""
    out = REG["pipeline_attribution"].fn(spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purch = ev.where(F.col("event_type") == "purchase")
    want_n = purch.count()
    want_rev = purch.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    ).collect()[0][0]
    assert out.n_purchases.sum() == want_n
    assert abs(out.attributed_revenue.sum() - want_rev) < 1e-6
    assert set(out.touch_type) <= {"click", "view", "direct"}


def test_journey_regex_counts_and_pattern(spark, sf_dir):
    """pipeline_journey_regex: journey lengths sum to the event
    count, and has_funnel agrees with a per-user Python re-check."""
    import re

    out = REG["pipeline_journey_regex"].fn(spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert out.n_events.sum() == ev.count()
    for _, r in out.iterrows():
        assert r.has_funnel == bool(re.search("V.*C.*P", r.journey))


def test_moving_median_matches_pandas(spark, sf_dir):
    """win_moving_median equals pandas' rolling(5, min_periods=1)
    median on cents per user (exact integers, so == is safe)."""
    out = REG["win_moving_median"].fn(spark, sf_dir).toPandas()
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .toPandas()
    )
    ev["cents"] = (ev.value * 100).round().astype("int64")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ev["want"] = (
        ev.groupby("user_id").cents.transform(
            lambda s: s.rolling(5, min_periods=1).median()
        )
        / 100.0
    )
    merged = out.merge(ev[["event_id", "want"]], on="event_id")
    assert (merged.med5 == merged.want).all()


def test_skyline_matches_quadratic_definition(spark, sf_dir):
    """win_skyline's sort-scan must equal the textbook quadratic
    definition: a row is on the frontier iff no other row has
    strictly higher price AND strictly later date."""
    got = {
        r["o_orderkey"]
        for r in REG["win_skyline"].fn(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect()
    )
    want = {
        a["o_orderkey"]
        for a in rows
        if not any(
            b["o_totalprice"] > a["o_totalprice"]
            and b["o_orderdate"] > a["o_orderdate"]
            for b in rows
        )
    }
    assert got == want and len(want) > 0


def test_markov_rows_are_distributions(spark, sf_dir):
    """agg_markov_transitions: per from-state probabilities sum to 1,
    and total transition count equals events minus one per user."""
    out = REG["agg_markov_transitions"].fn(spark, sf_dir).toPandas()
    sums = out.groupby("from_type").p.sum()
    assert ((sums - 1.0).abs() < 1e-12).all()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert out.n.sum() == n_events - n_users


def test_analytics_invariants(spark, sf_dir):
    """Range/partition invariants across the analytics wave: RSI in
    [0,100], Bollinger band ordering, drawdown non-negative, Gini in
    [0,1), Benford shares summing to 1, HHI in [1/5, 1], RFM
    partitioning all customers, cohort offset-0 retention = 1, MAD
    outliers bounded, A/B arms partitioning all users."""
    rsi = REG["win_rsi"].fn(spark, sf_dir).toPandas()
    ok = rsi.rsi.dropna()
    assert ((ok >= 0) & (ok <= 100)).all()

    boll = REG["win_bollinger"].fn(spark, sf_dir).toPandas()
    assert (boll.lower <= boll.mid + 1e-9).all()
    assert (boll.mid <= boll.upper + 1e-9).all()

    dd = REG["win_drawdown"].fn(spark, sf_dir).toPandas()
    assert (dd.drawdown >= 0).all()

    g = REG["agg_gini"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= g["gini"] < 1.0

    ben = REG["agg_benford"].fn(spark, sf_dir).toPandas()
    assert abs(ben.share.sum() - 1.0) < 1e-12
    assert set(ben.digit) <= set(range(1, 10))

    hhi = REG["agg_hhi"].fn(spark, sf_dir).toPandas()
    assert ((hhi.hhi >= 1 / 5 - 1e-12) & (hhi.hhi <= 1.0)).all()

    rfm = REG["pipeline_rfm_segments"].fn(spark, sf_dir).toPandas()
    n_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey").distinct().count()
    )
    assert rfm.n_customers.sum() == n_cust

    ret = REG["pipeline_cohort_retention"].fn(spark, sf_dir).toPandas()
    zero = ret[ret.week_offset == 0]
    assert (zero.retention == 1.0).all()
    assert (ret.n_active <= ret.cohort_size).all()

    mad = REG["agg_mad_outliers"].fn(spark, sf_dir).toPandas()
    assert (mad.n_outliers <= mad.n_events).all()
    assert (mad.mad_value >= 0).all()

    ab = REG["pipeline_ab_test"].fn(spark, sf_dir).collect()[0]
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert ab["n_a"] + ab["n_b"] == n_users


def test_bootstrap_ci_brackets_sample_mean(spark, sf_dir):
    """agg_bootstrap_ci: the CI brackets the sample mean, the bounds
    are ordered, and re-running reproduces the identical interval
    (hash-based resampling has no RNG state)."""
    r1 = REG["agg_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert r1["ci_lo"] < r1["sample_mean"] < r1["ci_hi"]
    r2 = REG["agg_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_bootstrap_draw_counts_multinomial():
    """The bootstrap resampler's per-replicate draw counts must look
    multinomial (count variance ~1 across indices), not the ~0 of an
    arithmetic/Weyl progression — under-dispersed draws void the CI's
    bootstrap coverage. Replicates the engine/oracle mixer exactly in
    pure Python."""
    import numpy as np

    from big_data_analysis_spark.operators.aggregations_stats import (
        _BOOT_B,
        _BOOT_MIX,
        _BOOT_MOD,
    )

    def mix(x):
        h0 = x % _BOOT_MOD
        h1 = (((h0 >> 16) ^ h0) * _BOOT_MIX) % _BOOT_MOD
        h2 = (((h1 >> 16) ^ h1) * _BOOT_MIX) % _BOOT_MOD
        return (h2 >> 16) ^ h2

    n = 1973  # a prime, same order as the sf0.001 purchase count
    variances = []
    for b in range(_BOOT_B):
        j = np.array([mix(b * n + i) % n for i in range(n)])
        counts = np.bincount(j, minlength=n)
        variances.append(counts.var())
    mean_var = float(np.mean(variances))
    # multinomial: Var ~ n * (1/n)(1 - 1/n) ~ 1; Weyl sweep: ~0
    assert 0.85 < mean_var < 1.15, mean_var
    # and each replicate must actually resample WITH replacement:
    # a permutation (the Weyl failure mode) has zero duplicates
    j0 = np.array([mix(0 * n + i) % n for i in range(n)])
    assert len(np.unique(j0)) < n * 0.75


@given(changes=st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),      # key
              st.integers(min_value=0, max_value=86400)), # ts offset s
    min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_scd2_versions_partition_the_timeline(spark, changes):
    """api.scd2 invariants on arbitrary change streams (including
    same-timestamp changes): per key, exactly one current version;
    version intervals chain exactly (row i's effective_to == row
    i+1's effective_from in (ts, tie) order); every interval is
    non-negative."""
    from big_data_analysis_spark import api

    rows = [
        (k, f"2024-01-01 00:00:00", s, i)
        for i, (k, s) in enumerate(changes)
    ]
    df = spark.createDataFrame(
        rows, "k bigint, base string, off bigint, chg_id bigint"
    ).select(
        "k",
        (F.col("base").cast("timestamp") + F.make_dt_interval(secs=F.col("off")))
        .alias("ts"),
        "chg_id",
    )
    out = api.scd2(df, "k", "ts", "chg_id").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: (r.ts, r.chg_id))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].effective_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.effective_to == b.effective_from
            assert a.effective_to >= a.effective_from


_word_strategy = st.text(alphabet="abcd$\\", min_size=1, max_size=8)


@given(
    words=st.lists(_word_strategy, min_size=1, max_size=6),
    rule_idx=st.lists(
        st.tuples(st.sampled_from("abcd$\\"), st.sampled_from("abcd$\\")),
        min_size=1,
        max_size=4,
    ),
)
@settings(**_SETTINGS)
def test_bpe_apply_matches_pure_python_on_any_vocab(spark, words, rule_idx):
    """api.bpe_apply must equal the pure-Python greedy rank-order
    tokenizer on ANY corpus over a hostile alphabet (includes '$' and
    '\\') and ANY single-char seed rules — exercising greedy overlap,
    merge chaining, and replacement-escaping hazards."""
    from big_data_analysis_spark import api

    # extend rules with one chained rule built from the first seed
    rules = list(dict.fromkeys(rule_idx))
    left, right = rules[0]
    rules.append((left + right, right))
    text = " ".join(words)
    got = api.bpe_apply(
        spark.createDataFrame([(1, text)], "id long, text string"), "text", rules
    ).collect()[0]

    toks = []
    for w in text.split(" "):
        syms = list(w)
        for l_, r_ in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l_ and syms[i + 1] == r_:
                    out.append(l_ + r_)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    assert got.toks == " ".join(toks)
    assert got.n_subwords == len(toks)


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_zorder_key_is_bijective_bit_interleave(spark, pts):
    """api.zorder_key must be the exact Morton interleave: python-side
    deinterleaving of each z recovers (x, y) — bijectivity on the
    16-bit grid, the property that makes z-sorted min/max stats prune
    on either dimension."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select(
        "x", "y", api.zorder_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in rows:
        x = y = 0
        for b in range(16):
            y |= ((r.z >> (2 * b)) & 1) << b
            x |= ((r.z >> (2 * b + 1)) & 1) << b
        assert (x, y) == (r.x, r.y)


@given(
    vec=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=2,
        max_size=16,
    )
)
@settings(**_SETTINGS)
def test_quantize_int8_error_bound_any_vector(spark, vec):
    """api.quantize_int8 on ANY vector: codes within [-127, 127] and
    the exact integer L1 reconstruction error under the half-step
    bound dims*(maxq//2 + 1)."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame([(1, [float(v) for v in vec])], "id long, v array<double>")
    r = api.quantize_int8(df, "v").collect()[0]
    assert -127 <= r.q_min <= r.q_max <= 127
    maxq = max(abs(round(v * 1_000_000)) for v in vec) or 1
    assert r.q_err <= len(vec) * (maxq // 2 + 1)


@given(
    pred=st.lists(st.sampled_from("abc"), max_size=6),
    ref=st.lists(st.sampled_from("abc"), max_size=6),
)
@settings(**_SETTINGS)
def test_token_f1_symmetric_and_bounded(spark, pred, ref):
    """token_f1 is symmetric in (pred, ref) and bounded in [0, 1];
    f1 == 1 iff the multisets are equal."""
    from big_data_analysis_spark import api

    if not pred and not ref:
        return  # denom 0: f1 NULL by contract
    df = spark.createDataFrame(
        [(1, pred, ref)], "id long, p array<string>, r array<string>"
    )
    a = api.token_f1(df, "p", "r").collect()[0]
    b = api.token_f1(df, "r", "p").collect()[0]
    assert a.f1 == b.f1
    assert 0.0 <= a.f1 <= 1.0
    assert (a.f1 == 1.0) == (sorted(pred) == sorted(ref))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2)),
        min_size=1,
        max_size=40,
    ),
    k1=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_kanonymity_monotone_in_k(spark, rows, k1):
    """api.kanonymity invariants on ANY quasi-id distribution:
    below-k class count and suppression workload are nondecreasing in
    k; totals are k-independent; min_class_size is the real k of the
    release (no class below it)."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame(rows, "a int, b int")
    r1 = api.kanonymity(df, ["a", "b"], k=k1).collect()[0]
    r2 = api.kanonymity(df, ["a", "b"], k=k1 + 2).collect()[0]
    assert r1.n_rows == r2.n_rows == len(rows)
    assert r1.n_classes == r2.n_classes
    assert r1.n_classes_below_k <= r2.n_classes_below_k
    assert r1.n_rows_to_suppress <= r2.n_rows_to_suppress
    from collections import Counter

    sizes = Counter(rows)
    assert r1.min_class_size == min(sizes.values())


def test_epoch_upsample_copy_counts(spark):
    """epoch_upsample: integer epochs replicate every row; the
    fractional tail selects by the same Knuth hash domain_resample
    uses; absent domains drop; copy_id enumerates 1..k."""
    from big_data_analysis_spark import api

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = api.epoch_upsample(df, "src", "doc_id", {"a": 2300}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.copy_id)
    assert all(i % 2 == 0 for i in by_doc)  # 'b' dropped
    for i, copies in by_doc.items():
        frac = (i * 2654435761) % 4294967296 % 1000 < 300
        assert sorted(copies) == list(range(1, (3 if frac else 2) + 1)), i
    # the fractional tail must select SOME but not all docs
    n3 = sum(1 for c in by_doc.values() if len(c) == 3)
    assert 0 < n3 < len(by_doc)


@given(pm=st.integers(min_value=0, max_value=4999),
       n=st.integers(min_value=1, max_value=80))
@settings(**_SETTINGS)
def test_epoch_upsample_matches_python_model(spark, pm, n):
    """epoch_upsample vs a 5-line Python model for ARBITRARY
    per-mille epoch values (0 -> domain drops entirely; <1000 ->
    pure down-sample; any value -> floor copies + Knuth-hash
    fractional tail, copy_id = 1..k)."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame(
        [(i * 7 + 3, "d") for i in range(n)], "doc_id long, src string"
    )
    out = api.epoch_upsample(df, "src", "doc_id", {"d": pm}).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append(r.copy_id)
    want = {}
    for i in range(n):
        did = i * 7 + 3
        k = pm // 1000 + (1 if (did * 2654435761) % 4294967296 % 1000 < pm % 1000 else 0)
        if k >= 1:
            want[did] = list(range(1, k + 1))
    assert {d: sorted(c) for d, c in got.items()} == want


# --- r6 second-wave kernel invariants ------------------------------

docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12
    ),
    min_size=1,
    max_size=12,
)


@given(docs=docs_strategy)
@settings(**_SETTINGS)
def test_dedup_paragraphs_conservation_and_idempotence(spark, docs):
    """For ANY corpus: kept + dropped = chunks per doc; the union of
    kept paragraphs over the corpus equals the distinct paragraph
    set (each surviving exactly once — the dedup contract); and
    re-running dedup over the deduped texts drops nothing new from
    the keeper docs' own chunks."""
    from big_data_analysis_spark import api

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "nid long, body string",
    )
    out = api.dedup_paragraphs(df, "body", "nid", chunk_tokens=2).collect()
    assert all(r.n_kept + r.n_dropped == r.n_chunks for r in out)
    # total kept across corpus == number of distinct chunks
    def chunks(toks):
        return [
            " ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)
        ]
    distinct = {c for toks in docs for c in chunks(toks)}
    assert sum(r.n_kept for r in out) == len(distinct)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=50),  # id
            st.integers(min_value=-9, max_value=9),  # score
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**_SETTINGS)
def test_preference_pairs_matches_python_model(spark, rows):
    from big_data_analysis_spark import api

    df = spark.createDataFrame(rows, "g int, rid long, score long")
    got = {
        r.g: (r.chosen_id, r.rejected_id, r.margin)
        for r in api.preference_pairs(df, ["g"], "rid", "score").collect()
    }
    model = {}
    groups = {}
    for g, rid, sc in rows:
        groups.setdefault(g, []).append((rid, sc))
    for g, members in groups.items():
        if len(members) < 2:
            continue
        chosen = max(members, key=lambda t: (t[1], -t[0]))
        rejected = min(members, key=lambda t: (t[1], -t[0]))
        model[g] = (chosen[0], rejected[0], chosen[1] - rejected[1])
    assert got == model


def test_maxsim_matches_numpy_model(spark, sf_dir):
    """api.maxsim re-run as a NumPy reference over the same grouping:
    identical doc ranking and 1e-9 score agreement."""
    import numpy as np
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    Xf = np.array([r[1] for r in rows], dtype="float64") * 1e6
    # HALF-AWAY-FROM-ZERO to match Spark's F.round (np.rint is
    # half-to-even and diverges on exact .5 boundaries)
    X = (np.sign(Xf) * np.floor(np.abs(Xf) + 0.5)).astype("int64")
    Q, D = X[ids < 8], X[ids >= 8]
    mdoc = ids[ids >= 8] // 8
    dots = D @ Q.T  # (n_docs_vecs, 8) exact in int64
    scores = {}
    for m in np.unique(mdoc):
        scores[int(m)] = int(dots[mdoc == m].max(axis=0).sum())
    top = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:10]
    got = [
        (r.mdoc_id, r.rank, r.maxsim)
        for r in REG["sim_maxsim"].fn(spark, sf_dir).collect()
    ]
    assert [(m, i + 1) for i, (m, _s) in enumerate(top)] == [
        (m, rk) for m, rk, _ in got
    ]
    for (m, s), (_, _, mx) in zip(top, got):
        assert abs(mx - s / 1e12) < 1e-9


def test_span_corruption_reconstructs_original(spark, sf_dir):
    """T5 invariant: splicing each <extra_id_k> target span back into
    the corrupted text at its sentinel reproduces the original
    document EXACTLY, for every doc — the property that makes the
    (input, target) pair trainable at all."""
    rows = REG["pipeline_span_corruption"].fn(spark, sf_dir).collect()
    import re
    import duckdb

    orig = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    assert len(rows) == len(orig)
    for r in rows:
        # parse targets: "<extra_id_0> t t <extra_id_1> t ..."
        spans = {}
        toks = r.targets_text.split(" ") if r.targets_text else []
        cur = None
        for t in toks:
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                spans[cur].append(t)
        out = []
        for t in (r.corrupted_text.split(" ") if r.corrupted_text else []):
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                out.extend(spans[int(m.group(1))])
            else:
                out.append(t)
        assert " ".join(out) == orig[r.doc_id], r.doc_id
        assert r.n_masked == sum(len(v) for v in spans.values())
        assert r.n_spans == len(spans)


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=97),
            st.lists(
                st.sampled_from(["a", "b", "cc", "ddd"]), min_size=1, max_size=20
            ),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    stride=st.integers(min_value=2, max_value=9),
)
@settings(**_SETTINGS)
def test_api_span_corruption_roundtrip_any_doc(spark, docs, stride):
    """For ANY document set and stride: splicing targets back at the
    sentinels reconstructs each input exactly, and mask accounting
    is consistent (api.span_corruption on caller tables)."""
    import re

    from big_data_analysis_spark import api

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs], "nid long, body string"
    )
    span = min(2, stride - 1) or 1
    rows = api.span_corruption(
        df, "body", "nid", stride=stride, span=span
    ).collect()
    orig = {i: " ".join(toks) for i, toks in docs}
    for r in rows:
        spans, cur = {}, None
        for t in (r.targets_text.split(" ") if r.targets_text else []):
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                spans[cur].append(t)
        out = []
        for t in (r.corrupted_text.split(" ") if r.corrupted_text else []):
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            out.extend(spans[int(m.group(1))] if m else [t])
        assert " ".join(out) == orig[r.nid]
        assert r.n_masked + len(
            [t for t in out if t]
        ) >= r.n_tokens  # masked + kept covers the doc


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@settings(**_SETTINGS)
def test_api_k_core_matches_python_on_random_graphs(spark, edges, k):
    """api.k_core vs pure-Python synchronous peeling on ARBITRARY
    random graphs (self-loops dropped, duplicates collapsed): exact
    equality of the surviving (node, core_degree) set."""
    from big_data_analysis_spark import api

    clean = {(a, b) for a, b in edges if a != b}
    if not clean:
        return
    df = spark.createDataFrame(sorted(clean), "a long, b long")
    got = {
        (r.node, r.core_degree)
        for r in api.k_core(df, "a", "b", k=k).collect()
    }
    und = {tuple(sorted(e)) for e in clean}
    # NOTE: api.k_core treats each input row as an edge after
    # distinct on (a,b) — (1,2) and (2,1) are two rows but ONE
    # undirected edge only if the caller canonicalizes; mirror the
    # kernel's exact contract here (distinct on the raw pair).
    pairs = set(clean)
    nodes = {n for e in pairs for n in e}
    while True:
        deg = {}
        for a, b in pairs:
            if a in nodes and b in nodes:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        if keep == nodes:
            break
        nodes = keep
    model = {(n, deg[n]) for n in nodes}
    assert got == model


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=2, max_size=10
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_api_collocations_matches_python_model(spark, docs):
    """api.collocations vs a pure-Python bigram/unigram count model
    on arbitrary corpora (min_count=1 so every bigram surfaces):
    exact counts and 1e-12 lift agreement."""
    from collections import Counter

    from big_data_analysis_spark import api

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "nid long, body string",
    )
    got = {
        r.bigram: (r.c_ab, r.df, r.c_a, r.c_b, r.lift)
        for r in api.collocations(df, "body", "nid", min_count=1).collect()
    }
    uni = Counter(t for toks in docs for t in toks)
    N = sum(uni.values())
    bg = Counter()
    bdf = Counter()
    for toks in docs:
        grams = [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
        bg.update(grams)
        bdf.update(set(grams))
    assert set(got) == set(bg)
    for g, (c_ab, dfc, c_a, c_b, lift) in got.items():
        a, b = g.split(" ")
        assert (c_ab, dfc, c_a, c_b) == (bg[g], bdf[g], uni[a], uni[b])
        assert abs(lift - c_ab * N / (uni[a] * uni[b])) < 1e-12


def test_dedup_cascade_composes_the_public_kernels(spark, sf_dir):
    """pipeline_dedup_cascade's one-row ledger must equal composing
    api.dedup_exact + api.dedup_paragraphs independently — the
    composition adds nothing and loses nothing."""
    from big_data_analysis_spark import api

    r = REG["pipeline_dedup_cascade"].fn(spark, sf_dir).collect()[0]
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = api.dedup_exact(d, ["text"], "doc_id")
    paras = api.dedup_paragraphs(kept, "text", "doc_id", chunk_tokens=4)
    assert r.n_docs == d.count()
    assert r.after_exact == kept.count()
    assert r.exact_removed == r.n_docs - r.after_exact
    agg = paras.agg(
        F.sum("n_chunks").alias("ct"),
        F.sum("n_dropped").alias("cd"),
        F.sum(F.length("dedup_text")).alias("co"),
    ).collect()[0]
    assert (r.para_chunks_total, r.para_chunks_dropped, r.chars_out) == (
        agg.ct, agg.cd, agg.co,
    )
    # the ladder is monotone: output mass never exceeds input mass
    assert r.chars_out <= r.chars_in


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),    # a-side id
            st.integers(min_value=-8, max_value=-1),  # b-side id
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=6, deadline=None)
def test_label_propagation_matches_python_model_random_graphs(spark, edges):
    """api.label_propagation vs the identical pure-Python
    semi-synchronous schedule on random bipartite graphs: every
    node's label must match EXACTLY, and labels must be constant
    within a connected component once the loop reaches fixpoint
    inside the iteration budget."""
    from collections import Counter

    from big_data_analysis_spark import api

    ITERS = 8
    uniq = sorted(set(edges))
    labels = {n: n for e in uniq for n in e}
    nbrs_of_b, nbrs_of_a = {}, {}
    for a, b in uniq:
        nbrs_of_b.setdefault(b, []).append(a)
        nbrs_of_a.setdefault(a, []).append(b)

    def pick(neigh_labels):
        cnt = Counter(neigh_labels)
        return max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]

    for _ in range(ITERS):
        before = dict(labels)
        for b, nb in nbrs_of_b.items():
            labels[b] = pick([before[a] for a in nb])
        mid = dict(labels)
        for a, nb in nbrs_of_a.items():
            labels[a] = pick([mid[b] for b in nb])
        if labels == before:
            break

    df = spark.createDataFrame(uniq, "a long, b long")
    got = {
        r.node: r.label
        for r in api.label_propagation(df, "a", "b", iters=ITERS).collect()
    }
    assert got == labels


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=7),
            st.integers(min_value=-7, max_value=-1),
        ),
        min_size=1,
        max_size=18,
    )
)
@settings(max_examples=4, deadline=None)
def test_modularity_matches_python_rational_random_graphs(spark, edges):
    """api.modularity over api.label_propagation labels equals the
    pure-Python integer rational (num = sum_c(4*m*e_c - d_c^2),
    den = 4*m^2) on random bipartite graphs — exact equality of all
    four integers, and Q within Newman's [-1/2, 1] bounds."""
    from collections import Counter

    from big_data_analysis_spark import api

    ITERS = 6
    uniq = sorted(set(edges))
    labels = {n: n for e in uniq for n in e}
    nbrs_of_b, nbrs_of_a = {}, {}
    for a, b in uniq:
        nbrs_of_b.setdefault(b, []).append(a)
        nbrs_of_a.setdefault(a, []).append(b)

    def pick(neigh):
        cnt = Counter(neigh)
        return max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]

    for _ in range(ITERS):
        before = dict(labels)
        for b, nb in nbrs_of_b.items():
            labels[b] = pick([before[a] for a in nb])
        mid = dict(labels)
        for a, nb in nbrs_of_a.items():
            labels[a] = pick([mid[b] for b in nb])
        if labels == before:
            break

    m = len(uniq)
    e_c, d_c = Counter(), Counter()
    for a, b in uniq:
        if labels[a] == labels[b]:
            e_c[labels[a]] += 1
        d_c[labels[a]] += 1
        d_c[labels[b]] += 1
    num = sum(4 * m * e_c.get(c, 0) - d * d for c, d in d_c.items())
    den = 4 * m * m

    df = spark.createDataFrame(uniq, "a long, b long")
    lp = api.label_propagation(df, "a", "b", iters=ITERS)
    r = api.modularity(df, "a", "b", lp).collect()[0]
    assert (r.n_communities, r.n_edges, r.q_num, r.q_den) == (
        len(d_c), m, num, den,
    )
    assert -0.5 - 1e-12 <= r.modularity <= 1.0 + 1e-12


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),
            st.integers(min_value=-6, max_value=-1),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=4, deadline=None)
def test_random_walk_matches_python_model_random_graphs(spark, edges):
    """api.random_walk vs the identical pure-Python walk on random
    bipartite graphs — exact (walker, step, node) set equality."""
    from big_data_analysis_spark import api

    STEPS = 2
    uniq = sorted(set(edges))
    nbrs = {}
    for a, b in uniq:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    nbrs = {n: sorted(s) for n, s in nbrs.items()}
    want = set()
    for w in nbrs:
        cur = w
        want.add((w, 0, cur))
        for t in range(1, STEPS + 1):
            mix = (w * 1000003 + cur * 97 + t * 31) % 2147483647
            cur = nbrs[cur][mix % len(nbrs[cur])]
            want.add((w, t, cur))
    df = spark.createDataFrame(uniq, "a long, b long")
    got = {
        (r.walker_id, r.step, r.node)
        for r in api.random_walk(df, "a", "b", steps=STEPS).collect()
    }
    assert got == want


# small alphabet + short docs => dense gram collisions, empty docs,
# all-duplicate docs, and docs shorter than the gram width all occur
_docs_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
    min_size=1,
    max_size=10,
)


@given(docs=_docs_strategy)
@settings(**_SETTINGS)
def test_duplicated_spans_matches_python_model(spark, docs):
    """api.duplicated_spans vs an independent pure-Python model
    (L=3): same marked positions (gram occurs >= 2x corpus-wide),
    same maximal-span merge (overlap-or-adjacent), same per-doc
    ledger — including docs shorter than the gram width (zero rows
    of grams, zero spans) and fully-duplicated docs."""
    import pandas as pd

    from big_data_analysis_spark import api

    L = 3
    texts = [" ".join(d) for d in docs]
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": texts})
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
        for r in api.duplicated_spans(
            spark.createDataFrame(pdf), "text", "doc_id", gram_tokens=L
        ).collect()
    }

    # independent model: count grams, mark positions, merge islands
    from collections import Counter

    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    cnt = Counter()
    for i, tk in toks.items():
        for p in range(len(tk) - L + 1):
            cnt[tuple(tk[p : p + L])] += 1
    for i, tk in toks.items():
        marked = [
            p
            for p in range(len(tk) - L + 1)
            if cnt[tuple(tk[p : p + L])] >= 2
        ]
        spans = []
        for p in marked:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + L)
            else:
                spans.append([p, p + L])
        want = (
            len(tk),
            len(spans),
            sum(e - s for s, e in spans),
        )
        assert got[i] == want, (i, tk, got[i], want)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.booleans(),
            st.floats(allow_nan=False),  # NaN != NaN breaks equality
            st.text(max_size=40),
            st.binary(max_size=40),
            st.one_of(st.none(), st.text(max_size=10)),
        ),
        max_size=60,
    ),
    codec=st.sampled_from(["null", "deflate"]),
    block_rows=st.integers(min_value=1, max_value=7),
    split_bytes=st.integers(min_value=1, max_value=4096),
)
def test_avro_codec_roundtrip_and_splits_random(
    rows, codec, block_rows, split_bytes
):
    """Property: the pure-Python Avro container codec round-trips
    ARBITRARY rows of every supported type (full int64 range, empty
    strings/bytes, unicode, null union branches) under both codecs
    and any block size — and the byte-range split reader reproduces
    the file for ANY split size. Strengthens the fixed-vector test
    with hypothesis-driven edge cases (e.g. varint boundaries at
    ±2^63, blocks of one row)."""
    import os
    import tempfile

    from big_data_analysis_spark.sources.avro_py import (
        plan_splits,
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "ok", "type": "boolean"},
            {"name": "x", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "maybe", "type": ["null", "string"]},
        ],
    }
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.avro")
        write_container(
            p, schema, iter(rows), codec=codec, block_rows=block_rows
        )
        assert list(read_container(p)) == rows
        got = [
            r
            for s, e in plan_splits(p, split_bytes)
            for r in read_container(p, s, e)
        ]
        assert got == rows


# --- r9: ZIP parser roundtrip + bucketed band join recall ----------

zip_members_strategy = st.lists(
    st.tuples(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1,
            max_size=12,
        ),
        st.binary(min_size=0, max_size=200),
    ),
    min_size=1,
    max_size=5,
    unique_by=lambda t: t[0],
)


@given(members=zip_members_strategy)
@settings(**_SETTINGS)
def test_zip_index_roundtrips_stdlib_archives(spark, members):
    """For ANY member list (arbitrary names/sizes/bytes, including
    empty files), a stdlib-built stored ZIP parses to exactly the
    right member count, byte totals, name mass, CRC validations and
    EOCD cross-check."""
    import io
    import zipfile

    from big_data_analysis_spark.operators.multimodal_containers import zip_index

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        for name, data in members:
            z.writestr(name + ".bin", data)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "id long, b binary"
    )
    r = zip_index(df, "id", "b", max_members=8).collect()[0]
    assert r.n_members == len(members)
    assert r.n_crc_valid == len(members)
    assert r.n_entries_eocd == len(members)
    assert r.total_uncompressed == sum(len(d) for _, d in members)
    assert r.sum_name_chars == sum(len(n) + 4 for n, _ in members)
    assert r.archive_bytes == len(buf.getvalue())


band_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # group
        st.integers(min_value=0, max_value=50000),  # cents
    ),
    min_size=2,
    max_size=40,
)


@given(rows=band_rows_strategy)
@settings(**_SETTINGS)
def test_bucketed_band_join_exact_recall(spark, rows):
    """The bucket + adjacent-bucket strategy finds EXACTLY the naive
    quadratic band pair set for ANY value distribution — including
    values straddling bucket boundaries (the recall edge case)."""
    band = 10000
    df = spark.createDataFrame(
        [(i, g, c) for i, (g, c) in enumerate(rows)], "k long, g long, c long"
    )
    a = df.select(
        F.col("g"),
        F.col("k").alias("ka"),
        F.col("c").alias("ca"),
        F.explode(
            F.array(
                F.expr(f"c DIV {band}") - 1,
                F.expr(f"c DIV {band}"),
                F.expr(f"c DIV {band}") + 1,
            )
        ).alias("bucket"),
    )
    b = df.select(
        F.col("g"),
        F.col("k").alias("kb"),
        F.col("c").alias("cb"),
        F.expr(f"c DIV {band}").alias("bucket"),
    )
    got = {
        (r.ka, r.kb)
        for r in a.join(b, ["g", "bucket"])
        .where(
            (F.col("ka") < F.col("kb"))
            & (F.abs(F.col("ca") - F.col("cb")) <= band)
        )
        .select("ka", "kb")
        .distinct()
        .collect()
    }
    want = {
        (i, j)
        for i, (gi, ci) in enumerate(rows)
        for j, (gj, cj) in enumerate(rows)
        if i < j and gi == gj and abs(ci - cj) <= band
    }
    assert got == want


# ---------------------------------------------------------------- #
# r10 wave algorithm properties (pure Python, no Spark per example:
# these pin the REFERENCE algorithms that the wave queries are
# definition-replay-tested against in test_r10_wave.py)
# ---------------------------------------------------------------- #

_FAST = dict(max_examples=100, deadline=None)

_VFD = [
    [0,1,2,3,4,5,6,7,8,9],[1,2,3,4,0,6,7,8,9,5],[2,3,4,0,1,7,8,9,5,6],
    [3,4,0,1,2,8,9,5,6,7],[4,0,1,2,3,9,5,6,7,8],[5,9,8,7,6,0,4,3,2,1],
    [6,5,9,8,7,1,0,4,3,2],[7,6,5,9,8,2,1,0,4,3],[8,7,6,5,9,3,2,1,0,4],
    [9,8,7,6,5,4,3,2,1,0],
]
_VFP = [
    [0,1,2,3,4,5,6,7,8,9],[1,5,7,6,2,8,3,0,9,4],[5,8,0,3,7,9,6,1,4,2],
    [8,9,1,6,0,4,3,5,2,7],[9,4,5,3,1,2,6,8,7,0],[4,2,8,6,5,7,3,9,0,1],
    [2,7,9,3,8,0,6,4,1,5],[7,0,4,6,9,1,3,2,5,8],
]
_VFI = [0,4,3,2,1,5,6,7,8,9]
_DAMM_T = [
    [0,3,1,7,5,9,8,6,4,2],[7,0,9,2,1,5,4,8,6,3],[4,2,0,6,8,7,1,3,5,9],
    [1,7,5,0,9,8,3,4,2,6],[6,1,2,3,0,4,5,9,7,8],[3,6,7,4,2,0,9,5,8,1],
    [5,8,6,9,7,2,0,1,3,4],[8,9,4,5,3,6,2,0,1,7],[9,4,3,8,6,1,7,2,0,5],
    [2,5,8,1,4,3,6,7,9,0],
]


def _vf_valid(num: str) -> bool:
    c = 0
    for i, ch in enumerate(reversed(num)):
        c = _VFD[c][_VFP[i % 8][int(ch)]]
    return c == 0


def _vf_full(payload: str) -> str:
    c = 0
    for i, ch in enumerate(reversed(payload), 1):
        c = _VFD[c][_VFP[i % 8][int(ch)]]
    return payload + str(_VFI[c])


def _damm_interim(num: str) -> int:
    c = 0
    for ch in num:
        c = _DAMM_T[c][int(ch)]
    return c


payload_st = st.integers(min_value=0, max_value=10**10 - 1).map(
    lambda v: str(v).zfill(10)
)


@given(pay=payload_st, pos=st.integers(0, 10), delta=st.integers(1, 9))
@settings(**_FAST)
def test_verhoeff_catches_every_single_digit_error(pay, pos, delta):
    full = _vf_full(pay)
    assert _vf_valid(full)
    mutated = (
        full[:pos] + str((int(full[pos]) + delta) % 10) + full[pos + 1 :]
    )
    assert not _vf_valid(mutated)


@given(pay=payload_st, pos=st.integers(0, 9))
@settings(**_FAST)
def test_verhoeff_catches_adjacent_transpositions(pay, pos):
    full = _vf_full(pay)
    if full[pos] == full[pos + 1]:
        return  # transposing equal digits is the identity
    swapped = (
        full[:pos] + full[pos + 1] + full[pos] + full[pos + 2 :]
    )
    assert not _vf_valid(swapped)


@given(pay=payload_st, pos=st.integers(0, 10), delta=st.integers(1, 9))
@settings(**_FAST)
def test_damm_catches_every_single_digit_error(pay, pos, delta):
    full = pay + str(_damm_interim(pay))
    assert _damm_interim(full) == 0
    mutated = (
        full[:pos] + str((int(full[pos]) + delta) % 10) + full[pos + 1 :]
    )
    assert _damm_interim(mutated) != 0


@given(pay=payload_st, pos=st.integers(0, 9))
@settings(**_FAST)
def test_damm_catches_adjacent_transpositions(pay, pos):
    full = pay + str(_damm_interim(pay))
    if full[pos] == full[pos + 1]:
        return
    swapped = full[:pos] + full[pos + 1] + full[pos] + full[pos + 2 :]
    assert _damm_interim(swapped) != 0


@given(
    pay=st.integers(min_value=0, max_value=10**12 - 1).map(
        lambda v: str(v).zfill(12)
    ),
    pos=st.integers(0, 12),
    delta=st.integers(1, 9),
)
@settings(**_FAST)
def test_ean13_catches_every_single_digit_error(pay, pos, delta):
    def wsum(s):
        return sum(
            int(c) * (1 if i % 2 == 0 else 3) for i, c in enumerate(s)
        )

    full = pay + str((10 - wsum(pay) % 10) % 10)
    assert wsum(full) % 10 == 0
    mutated = (
        full[:pos] + str((int(full[pos]) + delta) % 10) + full[pos + 1 :]
    )
    assert wsum(mutated) % 10 != 0


def _h_rot(n, x, y, rx, ry):
    if ry == 0:
        if rx == 1:
            x, y = n - 1 - x, n - 1 - y
        x, y = y, x
    return x, y


def _h_xy2d(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        x, y = _h_rot(n, x, y, rx, ry)
        s //= 2
    return d


def _h_d2xy(n, d):
    x = y = 0
    t, s = d, 1
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        x, y = _h_rot(s, x, y, rx, ry)
        x, y = x + s * rx, y + s * ry
        t //= 4
        s *= 2
    return x, y


@given(x=st.integers(0, 255), y=st.integers(0, 255))
@settings(**_FAST)
def test_hilbert_roundtrip_any_point(x, y):
    d = _h_xy2d(256, x, y)
    assert 0 <= d < 65536
    assert _h_d2xy(256, d) == (x, y)


@given(d=st.integers(0, 65534))
@settings(**_FAST)
def test_hilbert_consecutive_indices_are_grid_adjacent(d):
    x1, y1 = _h_d2xy(256, d)
    x2, y2 = _h_d2xy(256, d + 1)
    assert abs(x1 - x2) + abs(y1 - y2) == 1


def _tok_lev(a, b):
    dp = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, y in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (x != y))
    return dp[len(b)]


seq_st = st.lists(st.integers(0, 5), min_size=0, max_size=12)


@given(a=seq_st, b=seq_st, c=seq_st)
@settings(**_FAST)
def test_token_levenshtein_is_a_metric(a, b, c):
    assert _tok_lev(a, b) == _tok_lev(b, a)
    assert (_tok_lev(a, b) == 0) == (a == b)
    assert _tok_lev(a, c) <= _tok_lev(a, b) + _tok_lev(b, c)


@given(
    xs=st.lists(st.integers(-50, 50), min_size=1, max_size=30),
    ys=st.lists(st.integers(-50, 50), min_size=1, max_size=30),
)
@settings(**_FAST)
def test_pair_abs_sum_prefix_identity_and_energy_nonneg(xs, ys):
    """The sorted-prefix identity used by agg_energy_distance /
    agg_gini_mean_diff equals brute force, and the resulting energy
    distance is non-negative (zero on identical multisets)."""
    import bisect

    def prefix_sum(axs, ays):
        ss = sorted(ays)
        pre = [0]
        for v in ss:
            pre.append(pre[-1] + v)
        tot_n, tot_s = len(ss), pre[-1]
        out = 0
        for x in axs:
            le = bisect.bisect_right(ss, x)
            out += x * le - pre[le] + (tot_s - pre[le]) - x * (tot_n - le)
        return out

    brute = sum(abs(x - y) for x in xs for y in ys)
    assert prefix_sum(xs, ys) == brute
    n, m = len(xs), len(ys)
    s_ab, s_aa, s_bb = (
        prefix_sum(xs, ys),
        prefix_sum(xs, xs),
        prefix_sum(ys, ys),
    )
    e2 = 2.0 * s_ab / (n * m) - s_aa / (n * n) - s_bb / (m * m)
    assert e2 >= -1e-9
    assert (
        prefix_sum(xs, xs) == sum(abs(a - b) for a in xs for b in xs)
    )
    e_same = 2.0 * s_aa / (n * n) - 2.0 * s_aa / (n * n)
    assert e_same == 0.0


@given(v=st.integers(0, 10**10 - 1))
@settings(**_FAST)
def test_base58_fixed_width_roundtrip(v):
    alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    code = "".join(alpha[(v // 58**k) % 58] for k in range(5, -1, -1))
    assert len(code) == 6
    assert sum(
        alpha.index(c) * 58 ** (5 - i) for i, c in enumerate(code)
    ) == v


@given(
    xs=st.lists(st.integers(-1000, 1000), min_size=2, max_size=40),
    k=st.integers(1, 3),
    i=st.integers(0, 39),
)
@settings(**_FAST)
def test_spc_integer_zone_test_equals_float_test(xs, k, i):
    """The sqrt-free predicate (n*x-S)^2 > k^2*(n*Sx2-S^2) must agree
    with |x - mu| > k*sigma computed in floats (ties at the boundary
    cannot occur: equality would need (n*x-S)^2 exactly equal, and
    then both sides say 'not beyond')."""
    i = i % len(xs)
    x = xs[i]
    n, S = len(xs), sum(xs)
    Sx2 = sum(v * v for v in xs)
    lhs = (n * x - S) ** 2 > k * k * (n * Sx2 - S * S)
    mu = S / n
    sigma = math.sqrt(max(Sx2 / n - mu * mu, 0.0))
    rhs = abs(x - mu) > k * sigma
    if (n * x - S) ** 2 != k * k * (n * Sx2 - S * S):
        assert lhs == rhs


# ---------------- r11: deterministic-LSH kernel invariants ----------------

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
)
_texts = st.lists(_words, min_size=3, max_size=12).map(" ".join)


@given(texts=st.lists(_texts, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_minhash_duplicates_always_pair(spark, texts):
    """An exact duplicate MUST come out of the banded pipeline with
    jaccard 1.0 — identical shingle sets give identical signatures,
    so every band collides (zero false negatives on exact dups, the
    guarantee that makes LSH safe as a dedup prefilter)."""
    from big_data_analysis_spark import api

    rows = [(i, t) for i, t in enumerate(texts)]
    dup_id = len(rows)
    rows.append((dup_id, texts[0]))  # plant an exact duplicate of row 0
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in api.minhash_near_dup_pairs(df, "id", "text").collect()
    }
    assert pairs.get((0, dup_id)) == 1.0


@given(
    a=st.integers(min_value=0, max_value=(1 << 32) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=31), min_size=0, max_size=3
    ),
)
@settings(max_examples=200, deadline=None)
def test_simhash_band_pigeonhole_never_misses(a, flips):
    """The Manku table construction's exactness: 4 byte-bands over a
    32-bit signature cannot miss a pair at hamming <= 3 (three flips
    can dirty at most three of the four bytes). Pure arithmetic —
    the same predicate dedup_simhash_exact's candidate join uses."""
    b = a
    for f in set(flips):
        b ^= 1 << f
    ham = bin(a ^ b).count("1")
    assert ham <= 3
    bands_match = any(
        ((a >> (8 * k)) & 255) == ((b >> (8 * k)) & 255) for k in range(4)
    )
    assert bands_match


@given(eps_den=st.integers(min_value=1, max_value=4))
@settings(max_examples=4, deadline=None)
def test_dp_threshold_table_is_calibrated_partition(eps_den):
    """The inverse-CDF threshold table must partition [0, 2^40)
    strictly monotonically, stay symmetric around 0 within rounding,
    and put the right mass at 0: (1-a)/(1+a) of the truncated total
    for a = e^-eps."""
    import math

    from big_data_analysis_spark.plans import experiment as ex

    th = ex._dp_thresholds()
    u_max = 1 << ex._DP_UBITS
    assert th[-1][1] == u_max
    assert all(th[i][1] < th[i + 1][1] for i in range(len(th) - 1))
    ks = [k for k, _ in th]
    assert ks == list(range(-ex._DP_TRUNC, ex._DP_TRUNC + 1))
    widths = [th[0][1]] + [
        th[i][1] - th[i - 1][1] for i in range(1, len(th))
    ]
    by_k = dict(zip(ks, widths))
    a = math.exp(-ex._DP_EPS_NUM / ex._DP_EPS_DEN)
    probs = [(1 - a) / (1 + a) * a ** abs(k) for k in ks]
    tot = sum(probs)
    for k in ks:
        expect = probs[ks.index(k)] / tot * u_max
        assert abs(by_k[k] - expect) <= 2  # rounding only
        if k != 0:
            assert abs(by_k[k] - by_k[-k]) <= 2  # symmetry
