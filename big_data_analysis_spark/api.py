"""Public, fixture-independent API.

Every function here operates on caller-supplied DataFrames and column
names — the library surface for using this engine on YOUR tables, not
just the grading fixtures. The registered queries in operators/ and
plans/ are thin adapters that call these kernels with the fixture
schema, so the oracle-checked parity results certify exactly the code
paths a library user runs.  tests/test_quality.py checks that every
public kernel is called by some registered query, and lists the few
that are not with the reason each query family keeps its own path.

Design rules (same as everywhere in the package): pure DataFrame
algebra, no Python in the row path, one shuffle per logical step,
deterministic under parallelism (every window order includes the
caller's tie-break columns).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import lifecycle


# ---------------------------------------------------------------- text

def tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokenization: one (id, token) row per occurrence."""
    return df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )


def term_freq(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document term frequencies: (id, token, tf)."""
    return (
        tokenize(df, text_col, id_col)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf(
    df: DataFrame, text_col: str, id_col: str, *, log_idf: bool = False
) -> DataFrame:
    """TF-IDF per (doc, term) with a SINGLE tokenize pass: document
    frequency is a COUNT window over token on the tf table (Catalyst
    does not dedup common subtrees — a separate df aggregate joined
    back would re-explode the corpus), and the corpus size rides in
    as a 1-row broadcast. ``log_idf=False`` uses the add-one-smoothed
    linear ratio tf*(N+1)/(df+1), which is exact integer-ratio double
    arithmetic (bit-reproducible across engines); ``log_idf=True``
    uses the classic tf*ln(N/df)."""
    tf = term_freq(df, text_col, id_col)
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    out = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    ).crossJoin(F.broadcast(n))
    if log_idf:
        score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
        return out.select(id_col, "token", "tf", score.alias("tfidf"))
    score = F.col("tf") * (
        (F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)
    )
    return out.select(id_col, "token", "tf", "df", score.alias("tfidf"))


# ---------------------------------------------------------------- dedup

def dedup_exact(
    df: DataFrame, key_cols: Sequence[str | Column], order_col: str
) -> DataFrame:
    """Deterministic exact dedup: keep the lowest ``order_col`` row
    per key. The window variant of dropDuplicates — which keeps an
    ARBITRARY row under parallelism and is therefore unusable when
    results must be reproducible. One shuffle on the key."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def keyed_clusters(
    df: DataFrame, key: Column, id_col: str, *, min_size: int = 2
) -> DataFrame:
    """Group rows by a caller-supplied canonical key expression and
    report duplicate clusters: (cluster_key, cluster_size,
    keep_<id>). Pass e.g. a sorted-distinct-token-set key for
    order-free near-dup clustering."""
    return (
        df.select(key.alias("cluster_key"), F.col(id_col))
        .groupBy("cluster_key")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(id_col).alias(f"keep_{id_col}"),
        )
        .where(F.col("cluster_size") >= min_size)
    )


# ----------------------------------------------------------- time series

def sessionize(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    tie_col: str,
    *,
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based session ids (gap > gap_minutes starts a new
    session): lag -> boundary flag -> running sum, comparing gaps in
    exact MICROSECONDS (whole-second casts would merge sessions whose
    true gap falls inside the truncated second)."""
    w = Window.partitionBy(partition_col).orderBy(ts_col, tie_col)
    gap = F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)
    flagged = df.withColumn(
        "__new",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn("session_id", F.sum("__new").over(wsum)).drop("__new")


def scd2(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    *,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 versioning: each change row
    becomes the interval [ts, next change's ts) per key, the open
    version flagged current.  The (ts_col, tie_col) compound order
    makes versioning deterministic under same-timestamp changes.
    One shuffle on the key, one lead window, no self-join."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    nxt = F.lead(ts_col).over(w)
    return (
        df.withColumn(from_col, F.col(ts_col))
        .withColumn(to_col, nxt)
        .withColumn(current_col, F.col(to_col).isNull())
    )


def forward_fill(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[str],
    observed: Column,
    *,
    out_col: str = "value_ffill",
) -> DataFrame:
    """Last-observation-carried-forward: fill every row with the most
    recent non-null value of ``observed`` at or before it."""
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.last(observed, ignorenulls=True).over(w))


def interpolate(
    df: DataFrame,
    partition_col: str,
    x_col: str,
    observed: Column,
    *,
    scale: int = 100,
    out_col: str = "value_interp",
) -> DataFrame:
    """Linear interpolation of missing observations between the
    nearest observed neighbors on both sides, weighted by ``x_col``
    distance. The value is quantized to ``1/scale`` units and the
    interpolation computed as ONE integer rational (numerator and
    denominator in exact int64) followed by a single double division
    per side — bit-reproducible regardless of partitioning. Rows
    with a missing side stay NULL; observed rows pass through.

    ``scale`` must be a positive power of 10: quantization happens
    through a decimal cast whose digit count is ``log10(scale)``, so
    any other scale (e.g. 50) would silently round to the wrong
    grid before interpolating."""
    import math

    digits = round(math.log10(scale)) if scale > 0 else -1
    if digits < 0 or 10**digits != scale:
        raise ValueError(f"scale must be a positive power of 10, got {scale}")
    dec = f"decimal(18,{digits})"
    cents = (observed.cast(dec) * scale).cast("long")
    x_obs = F.when(cents.isNotNull(), F.col(x_col))
    w_prev = (
        Window.partitionBy(partition_col)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(partition_col)
        .orderBy(x_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    # All four neighbor lookups in ONE select: both frames share
    # partitioning and ordering, so Catalyst plans a single Window
    # node — withColumn chains would interleave Projects and defeat
    # CollapseWindow (plan-tested via win_interpolate).
    nbr = df.select(
        "*",
        observed.alias("__obs"),
        F.last(cents, ignorenulls=True).over(w_prev).alias("__pc"),
        F.last(x_obs, ignorenulls=True).over(w_prev).alias("__px"),
        F.first(cents, ignorenulls=True).over(w_next).alias("__nc"),
        F.first(x_obs, ignorenulls=True).over(w_next).alias("__nx"),
    )
    x = F.col(x_col)
    interp = (
        (F.col("__pc") * (F.col("__nx") - x) + F.col("__nc") * (x - F.col("__px")))
        .cast("double")
        / (F.col("__nx") - F.col("__px")).cast("double")
        / float(scale)
    )
    return nbr.withColumn(
        out_col,
        F.when(F.col("__obs").isNotNull(), F.col("__obs")).when(
            F.col("__pc").isNotNull() & F.col("__nc").isNotNull(), interp
        ),
    ).drop("__obs", "__pc", "__px", "__nc", "__nx")


def ewma(
    df: DataFrame,
    partition_col: str,
    order_cols: Sequence[str],
    value_col: str,
    *,
    alpha: float = 0.25,
    horizon: int = 64,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average (pandas adjust=False
    semantics: the first observation passes through). Non-recursive:
    each row folds its trailing ``horizon``-row frame in one JVM
    aggregate, so the op stays a single window pass; the truncation
    error is bounded by (1-alpha)^horizon.

    PRECONDITION: ``value_col`` must be non-null. The frame fold
    relies on collect_list, which silently drops nulls and would
    misalign the frame size, the first-value correction and the
    horizon test — so a null raises at execution time instead of
    corrupting downstream rows silently."""
    beta = 1.0 - alpha
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(-(horizon - 1), Window.currentRow)
    )
    guarded = F.when(
        F.col(value_col).isNull(),
        F.raise_error(F.lit(f"ewma: {value_col} contains NULL (precondition)")),
    ).otherwise(F.col(value_col))
    arr = F.collect_list(guarded).over(w)
    n = F.size(arr)
    folded = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc * F.lit(beta) + x * F.lit(alpha)
    )
    first = F.element_at(arr, 1)
    is_start = (
        F.row_number().over(
            Window.partitionBy(partition_col).orderBy(*order_cols)
        )
        <= horizon
    )
    corrected = folded + F.when(
        is_start, first * F.pow(F.lit(beta), n - 1) * F.lit(beta)
    ).otherwise(F.lit(0.0))
    return df.withColumn(out_col, corrected)


# ------------------------------------------------------------- datasets

_SPLIT_MOD = 1 << 32
_SPLIT_MULT = 2654435761  # Knuth multiplicative hash
# 31-bit pre-mask: (2^31-1)*_SPLIT_MULT < 2^63, so the product can
# never overflow int64 — without it Spark silently wraps past ~3.4e9
# ids while DuckDB raises a BIGINT overflow (engine divergence)
_SPLIT_MASK = (1 << 31) - 1


def split_column(
    id_col: Column, *, train: float = 0.8, val: float = 0.1
) -> Column:
    """Deterministic train/val/test assignment as a pure function of
    a stable integer id (Knuth multiplicative hash in portable
    integer arithmetic) — split membership survives reordering,
    reseeding, and re-partitioning, the reproducibility contract of
    a dataset release."""
    bucket = (id_col.bitwiseAND(_SPLIT_MASK) * _SPLIT_MULT) % _SPLIT_MOD
    return (
        F.when(bucket < int(train * _SPLIT_MOD), "train")
        .when(bucket < int((train + val) * _SPLIT_MOD), "val")
        .otherwise("test")
    )


def bpe_train(
    spark: SparkSession, words: DataFrame, *, n_merges: int = 10
) -> DataFrame:
    """Learn BPE merge rules from a (word, freq) table — the
    compressed form a 100 TB corpus reduces to in one
    explode+groupBy. Per round: one pair-count shuffle, one argmax
    driver row (tie-break higher freq then lexicographic pair), and
    a lookaround-regexp merge for exact greedy left-to-right
    semantics. Returns (step, left, right, merged, freq)."""
    import re as _re

    w = lifecycle.checkpoint(
        words.toDF("word", "freq").select(
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("syms"),
            "freq",
        )
    )

    merges = []
    for step in range(1, n_merges + 1):
        syms_arr = F.split(F.trim(F.col("syms")), " ")
        pair_idx = F.when(
            F.size(syms_arr) >= 2, F.sequence(F.lit(1), F.size(syms_arr) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = F.transform(
            pair_idx,
            lambda i: F.concat_ws(
                " ", F.element_at(syms_arr, i), F.element_at(syms_arr, i + 1)
            ),
        )
        top = (
            w.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("pfreq"))
            .orderBy(F.desc("pfreq"), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, pfreq = top[0]["pair"], top[0]["pfreq"]
        left, right = pair.split(" ")
        merges.append((step, left, right, left + right, pfreq))
        pat = f"(?<= ){_re.escape(left)} {_re.escape(right)}(?= )"
        # Java-regex replacement strings interpret '$' as a group
        # reference and '\' as an escape (Matcher.quoteReplacement
        # semantics) — escape both so non-alphanumeric vocabularies
        # merge literally instead of corrupting the symbol stream.
        repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        prev, w = w, lifecycle.checkpoint(
            w.select(
                F.regexp_replace(F.col("syms"), pat, repl).alias("syms"),
                "freq",
            )
        )
        lifecycle.free(prev)  # each step reads only the one before
    lifecycle.free(w)  # the merges are on the driver: nothing reads w
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, freq bigint"
    )


def bpe_apply(
    df: DataFrame,
    text_col: str,
    rules: Sequence[tuple],
    *,
    out_tokens: str = "toks",
    out_count: str = "n_subwords",
) -> DataFrame:
    """Apply a learned BPE merge-rule list to a text column as a PURE
    distributed map stage — the tokenizer-apply step an LLM data
    pipeline runs over the full corpus (the counterpart of
    ``bpe_train``, which learns the rules).

    Encoding: every character (spaces included) is wrapped in its own
    pair of spaces (``regexp_replace(text, '(.)', ' $1 ')``), so two
    adjacent symbols l, r appear as ``' l  r '`` with NO shared
    delimiter characters.  Each merge rule then becomes one plain
    ``replace(' l  r ', ' lr ')`` — substring replace scans left to
    right over non-overlapping matches, which on this encoding is
    EXACTLY greedy BPE merge order (no regex, no lookaround, no
    escaping concerns for ``$``/``\\`` vocabularies).  Applying rules
    exhaustively in rank order is equivalent to lowest-rank-first BPE
    because a later rule's merged symbol can never be a component of
    an earlier rule.  Space characters are symbols too, but no
    learned rule contains the space symbol, so merges never cross
    word boundaries.

    The whole chain is one Project of nested JVM string expressions —
    whole-stage-codegen, zero shuffles, zero Python: at 100 TB this
    is a map-only stage that scales linearly with input splits.

    Returns the input plus ``out_tokens`` (subword stream, space-
    joined) and ``out_count`` (number of subword tokens)."""
    s = F.regexp_replace(F.col(text_col), "(.)", " $1 ")
    for left, right in rules:
        s = F.replace(s, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} "))
    # "␣s1␣␣s2␣…" -> tab-split symbols; drop the word-boundary space
    # symbols (they trim to empty)
    # NB: the explicit lambda matters — bare F.trim is binary (trim
    # chars as 2nd arg), so transform would feed it the element INDEX
    arr = F.filter(
        F.transform(
            F.split(F.replace(s, F.lit("  "), F.lit("\t")), "\t"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return df.withColumn(out_tokens, F.array_join(arr, " ")).withColumn(
        out_count, F.size(arr).cast("long")
    )


# ------------------------------------------------------------ similarity

def cosine(a: Column, b: Column) -> Column:
    """Exact cross-engine-reproducible cosine of two unit-norm float
    vector columns (1e-6-quantized int64 dot product; see
    operators/similarity.py for the rounding story)."""
    from .operators.similarity import dot_dec

    return dot_dec(a, b)


def knn_brute(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors of every query vector against the
    corpus: the bounded query set is BROADCAST against the corpus (no
    shuffle of the big side), scored with the exact quantized dot
    product, then cut per query with a rank window (deterministic
    neighbor-id tie-break). Returns (query_id, neighbor_id, cosine).
    This is the recall oracle the LSH/IVF approximate paths are
    tested against.  ``k`` must be >= 1 (ValueError otherwise)."""
    if k < 1:
        raise ValueError(f"knn_brute: k must be >= 1, got {k}")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe")
    )
    d = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__de")
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qe"), F.col("__de")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def chunk(
    df: DataFrame, text_col: str, id_col: str, *, chunk_tokens: int = 32
) -> DataFrame:
    """Context-budget chunking: split each document into consecutive
    fixed-size token chunks. Array-native single map stage — one
    transform over the token array, posexploded; empty documents
    yield zero chunks (guarding Spark's sequence(0,-1) auto-descend).
    Returns (id, chunk_id, n_tokens, chunk_text)."""
    d = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    toks = F.col("__toks")
    n_chunks = F.expr(f"(size(__toks) + {chunk_tokens} - 1) div {chunk_tokens}")
    chunks = F.transform(
        F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)),
        lambda i: F.slice(toks, i * chunk_tokens + 1, chunk_tokens),
    )
    return d.select(
        id_col, F.posexplode(chunks).alias("chunk_id", "chunk")
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("chunk").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


def quality_score(
    df: DataFrame, text_col: str, id_col: str, *, stopwords: Sequence[str] = ("the", "a")
) -> DataFrame:
    """Heuristic document-quality scoring: lexical diversity x
    (1 - stopword share), plus the raw ratios. All ratios are
    int/int double divisions — bit-identical across engines. Pure
    map stage."""
    toks = F.split(F.col(text_col), " ")
    stop_lits = list(stopwords)
    t = df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(F.filter(toks, lambda x: x.isin(*stop_lits))).alias("n_stop"),
    )
    uq = F.col("n_unique").cast("double") / F.col("n_tokens")
    sw = F.col("n_stop").cast("double") / F.col("n_tokens")
    return t.select(
        id_col,
        "n_chars",
        "n_tokens",
        uq.alias("unique_ratio"),
        sw.alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (uq * (F.lit(1.0) - sw)).alias("quality_score"),
    )


# ------------------------------------------------------------- operations

def skew_report(df: DataFrame, key_col: str, *, top_n: int = 10) -> DataFrame:
    """Shuffle-key skew diagnostic: the top_n heaviest keys with each
    key's share of all rows and its skew factor (share x distinct-key
    count; 1.0 = uniform). One hash-agg on the key, a bounded top-n
    (TakeOrderedAndProject), a broadcast 2-scalar total. Run this
    BEFORE choosing a partitioning; factor >> 1 is the salt-the-key
    trigger."""
    k = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    tot = k.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys"))
    top = (
        k.orderBy(F.desc("n"), key_col)
        .limit(top_n)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("n"), key_col))
            .alias("rank"),
            key_col,
            "n",
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "rank",
        key_col,
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
        (
            F.col("n").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("total").cast("double")
        ).alias("skew_factor"),
    )


def domain_resample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    targets_pm: dict,
) -> DataFrame:
    """Deterministic domain-mix enforcement: down-sample each domain
    to its target per-mille share of the corpus via a Knuth-hash
    threshold on the id — membership is a pure function of the id
    (reproducible across runs/partitionings). Domains absent from
    ``targets_pm`` drop entirely. keep_pm = min(1000,
    target_pm/observed_share) in exact integer arithmetic; observed
    shares cost one bounded hash-agg, the corpus never shuffles."""
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        sorted(targets_pm.items()), f"{domain_col} string, tgt_pm long"
    )
    obs = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")).select(
        domain_col,
        "n",
        F.sum("n")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("total"),
    )
    rates = obs.join(F.broadcast(tgt), domain_col, "left").select(
        domain_col,
        F.least(
            F.lit(1000).cast("long"),
            # `div` is Spark's integer division on longs — no double
            # intermediate, so the keep rate floors exactly like the
            # DuckDB oracle's (tgt_pm * total) // n.
            F.expr("(coalesce(tgt_pm, CAST(0 AS BIGINT)) * total) div n"),
        ).alias("keep_pm"),
    )
    return df.join(F.broadcast(rates), domain_col).where(
        (F.col(id_col).bitwiseAND(2147483647) * 2654435761) % 4294967296 % 1000 < F.col("keep_pm")
    ).drop("keep_pm")


def epoch_upsample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    epochs_pm: dict,
) -> DataFrame:
    """Deterministic per-domain EPOCH replication — the upsampling
    complement of ``domain_resample``: each row gets
    ``epochs_pm[domain] / 1000`` copies, where the integer part
    replicates every row and the fractional part selects rows by the
    same Knuth-hash threshold on the id (a 2500-per-mille domain
    yields 2 copies of every doc plus a third copy of a
    deterministic 50% subset). Domains absent from ``epochs_pm``
    drop entirely; a <1000 value degrades to pure down-sampling.
    Copies carry ``copy_id`` (1..k) so downstream shuffling/packing
    can keep replicas apart.

    Scale: the epoch table is bounded (one row per domain) and
    broadcast; replication is a map-side explode with fan-out
    exactly sum(epochs)/1000 x corpus — no shuffle, no RNG."""
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        sorted(epochs_pm.items()), f"{domain_col} string, epochs_pm long"
    )
    # `div` = exact integer division on longs (domain_resample's rule)
    k = F.expr("epochs_pm div 1000") + F.when(
        (F.col(id_col).bitwiseAND(2147483647) * 2654435761) % 4294967296 % 1000
        < F.col("epochs_pm") % 1000,
        1,
    ).otherwise(0)
    return (
        df.join(F.broadcast(tgt), domain_col)
        .withColumn("__k", k)
        .where(F.col("__k") >= 1)  # sequence(1,0) would run DOWNWARD
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(1), F.col("__k").cast("int"))).alias(
                "__copy"
            ),
        )
        .select(*df.columns, F.col("__copy").cast("long").alias("copy_id"))
    )


def rolling_distinct(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    *,
    window_days: int = 7,
) -> DataFrame:
    """Per-day distinct ids plus the trailing-``window_days`` distinct
    count (DAU/WAU shape) — the COUNT(DISTINCT) OVER RANGE Spark
    windows can't express, via a bounded day-spine band join whose
    fan-out is capped at window_days x the distinct (day, id) table."""
    day = F.date_trunc("day", F.col(ts_col))
    du = df.select(day.alias("day"), id_col).distinct()
    days = du.select("day").distinct()
    d, u = days.alias("d"), du.alias("u")
    return (
        d.join(
            u,
            (F.col("u.day") >= F.col("d.day") - F.expr(f"INTERVAL {window_days - 1} DAYS"))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("u.day") == F.col("d.day"), F.col(f"u.{id_col}"))
            ).alias("n_current"),
            F.countDistinct(f"u.{id_col}").alias(f"n_{window_days}d"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    *,
    direction: str = "backward",
    tolerance_us: int | None = None,
    right_cols: Sequence[str] = (),
) -> DataFrame:
    """Generic as-of join (pandas merge_asof for DataFrames at scale):
    for every LEFT row, the single RIGHT row with the same key and
    the closest timestamp — ``backward`` (latest at-or-before),
    ``forward`` (earliest at-or-after), or ``nearest`` — optionally
    bounded by ``tolerance_us`` microseconds. Inner semantics:
    unmatched left rows drop.

    Implementation: the two frames are tagged and unioned, ONE
    shuffle on the key, and per-direction fill windows resolve every
    match — no range join, no explosion (the per-key pair join a
    naive as-of builds is quadratic in the key's row count). The
    backward pass orders right rows BEFORE left rows at equal
    timestamps, the forward pass orders them AFTER, so a right row AT
    the left row's timestamp matches in every direction (<= / >=
    semantics, matching pandas merge_asof). Same-timestamp right rows
    resolve deterministically by smallest tie value; the tie column
    may be any orderable type (numeric, string, timestamp). Left
    payload columns ride through the union in a struct — no re-join,
    so duplicate (key, ts, tie) left rows pass through 1:1. Returns
    the left rows plus ``right_<ts>``, ``right_<tie>`` and any
    requested ``right_cols``.

    At 100 TB this is one user-key shuffle of both inputs.  The
    tests/test_api.py::test_api_asof_join_* tests check it against
    pandas merge_asof.  The join_asof* queries do not call it: both
    of their sides come from ``events``, which they scan once with
    their own window, where this two-frame kernel would scan it twice
    and union the scans."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction}")
    lcols = left.columns
    extra = [c for c in lcols if c not in (key_col, ts_col, tie_col)]
    rstruct = F.struct(
        F.col(ts_col).alias("__rts"),
        F.col(tie_col).alias("__rtie"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    # align schemas: each side carries the other side's payload struct
    # as a typed NULL, so the union needs no post-hoc re-join
    l_aligned = left.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tie_col),
        F.lit(1).alias("__tag"),
        *([F.struct(*[F.col(c) for c in extra]).alias("__lstruct")] if extra else []),
    )
    r_aligned = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tie_col),
        F.lit(0).alias("__tag"),
        *(
            [
                F.lit(None)
                .cast(l_aligned.schema["__lstruct"].dataType)
                .alias("__lstruct")
            ]
            if extra
            else []
        ),
        rstruct.alias("__rstruct"),
    )
    l_aligned = l_aligned.withColumn(
        "__rstruct", F.lit(None).cast(r_aligned.schema["__rstruct"].dataType)
    )
    u = l_aligned.unionByName(r_aligned)
    # Backward: right (__tag 0) sorts before left at equal ts, ties
    # DESC so the LAST right row in frame order is (max ts, min tie).
    # Forward: left sorts before right at equal ts (tag DESC), ties
    # ASC so the FIRST right row after the current left row is
    # (min ts, min tie).  first/last with ignorenulls avoids tie
    # negation entirely — any orderable tie type works.
    w_b = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("__tag").asc(), F.col(tie_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("__tag").desc(), F.col(tie_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    bwd = F.last("__rstruct", ignorenulls=True).over(w_b)
    fwd = F.first("__rstruct", ignorenulls=True).over(w_f)
    filled = u.select(
        key_col,
        ts_col,
        tie_col,
        "__tag",
        *(["__lstruct"] if extra else []),
        bwd.alias("__bwd"),
        fwd.alias("__fwd"),
    ).where(F.col("__tag") == 1)
    us = F.unix_micros(F.col(ts_col))
    gap_b = us - F.unix_micros(F.col("__bwd.__rts"))
    gap_f = F.unix_micros(F.col("__fwd.__rts")) - us
    if direction == "backward":
        best = F.col("__bwd")
        gap = gap_b
    elif direction == "forward":
        best = F.col("__fwd")
        gap = gap_f
    else:
        pick_bwd = F.col("__fwd").isNull() | (
            F.col("__bwd").isNotNull() & (gap_b <= gap_f)
        )
        best = F.when(pick_bwd, F.col("__bwd")).otherwise(F.col("__fwd"))
        gap = F.when(pick_bwd, gap_b).otherwise(gap_f)
    out = filled.withColumn("__best", best).where(F.col("__best").isNotNull())
    if tolerance_us is not None:
        out = out.withColumn("__gap", gap).where(
            F.col("__gap") <= F.lit(tolerance_us)
        ).drop("__gap")
    proj = [
        F.col(key_col),
        F.col(ts_col),
        F.col(tie_col),
        F.col("__best.__rts").alias(f"right_{ts_col}"),
        F.col("__best.__rtie").alias(f"right_{tie_col}"),
        *[F.col(f"__best.__r_{c}").alias(f"right_{c}") for c in right_cols],
        *[F.col(f"__lstruct.{c}").alias(c) for c in extra],
    ]
    return out.select(*proj)


# ------------------------------------------------------------ evaluation

def confusion_matrix(
    df: DataFrame, pred_col: str, label_col: str
) -> DataFrame:
    """Binary-classifier confusion matrix + precision/recall/F1 for
    0/1 integer prediction and label columns: TP/FP/FN/TN as exact
    integer sums (one global agg, map-side partials), metrics as
    single divisions (F1 via the 2TP identity). NULL metrics when a
    denominator is empty."""
    p, a = F.col(pred_col).cast("int"), F.col(label_col).cast("int")
    m = df.agg(
        F.sum(p * a).alias("tp"),
        F.sum(p * (1 - a)).alias("fp"),
        F.sum((1 - p) * a).alias("fn"),
        F.sum((1 - p) * (1 - a)).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (tp.cast("double") / F.nullif(tp + fp, F.lit(0))).alias("precision"),
        (tp.cast("double") / F.nullif(tp + fn, F.lit(0))).alias("recall"),
        ((2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0))).alias("f1"),
    )


def token_f1(
    df: DataFrame, pred_col: str, ref_col: str
) -> DataFrame:
    """Per-row exact-match and multiset token F1 between two
    array<string> columns — the generation-benchmark metrics — in
    pure per-row array lambdas (zero explode, zero shuffle; one
    division per row). Adds em, overlap, denom, f1."""
    count_in = lambda arr, tk: F.size(F.filter(arr, lambda x: x == tk))
    overlap = F.aggregate(
        F.array_distinct(F.col(pred_col)),
        F.lit(0),
        lambda acc, tk: acc
        + F.least(count_in(F.col(pred_col), tk), count_in(F.col(ref_col), tk)),
    ).cast("long")
    denom = (F.size(pred_col) + F.size(ref_col)).cast("long")
    return (
        df.withColumn(
            "em",
            (F.array_join(pred_col, " ") == F.array_join(ref_col, " ")).cast("int"),
        )
        .withColumn("overlap", overlap)
        .withColumn("denom", denom)
        .withColumn(
            "f1", (F.lit(2) * F.col("overlap")).cast("double") / F.col("denom")
        )
    )


# ------------------------------------------------------------ governance

def kanonymity(df: DataFrame, quasi_cols: Sequence[str], *, k: int = 5) -> DataFrame:
    """K-anonymity release audit over the given quasi-identifier
    columns: one row with the class count, classes below k, rows
    needing suppression, the actual minimum class size, and total
    rows. One hash-agg on the quasi-id domain."""
    q = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("grp_n"))
    below = F.col("grp_n") < k
    return q.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(below.cast("int")).cast("long").alias("n_classes_below_k"),
        F.sum(F.when(below, F.col("grp_n")).otherwise(0)).alias("n_rows_to_suppress"),
        F.min("grp_n").alias("min_class_size"),
        F.sum("grp_n").alias("n_rows"),
    )


# ------------------------------------------------------------ layout

def zorder_key(x: Column, y: Column, *, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two dimensions' low ``bits``
    bits — the multi-dimensional clustering key for data-skipping
    layouts (sort by it at write time; min/max stats then prune on
    either dimension). Pure integer bit arithmetic, exactly
    reproducible on any engine."""
    z = None
    for b in range(bits):
        w = 4**b
        part = F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("long") * F.lit(
            2 * w
        ) + F.shiftright(y, b).bitwiseAND(F.lit(1)).cast("long") * F.lit(w)
        z = part if z is None else z + part
    return z.cast("long")


def quantize_int8(
    df: DataFrame, vec_col: str, *, out_prefix: str = "q"
) -> DataFrame:
    """Symmetric int8 quantization audit of a float-vector column
    (scale = max|v|/127): adds <prefix>_scale, <prefix>_min,
    <prefix>_max, <prefix>_sum, <prefix>_err (exact integer L1
    reconstruction error on the 1e-6 grid). Round-half-up is pure
    integer arithmetic, so results are engine- and
    partitioning-independent: ``code = floor(((qv + maxq)*254 + maxq)
    / (2*maxq)) - 127`` has a non-negative numerator, so floor ==
    truncate and Spark agrees with DuckDB's ``//`` bit-for-bit (a
    double-rounding version diverges near half-steps).  The floor-div
    is (a - pmod(a, b)) / b, an exact multiple of b, so its one double
    division is exact.  GREATEST(maxq, 1) maps the zero vector to
    all-zero codes.  Pure map stage."""
    maxq = F.greatest(
        F.array_max(F.transform(F.col("__qarr"), lambda v: F.abs(v))),
        F.lit(1).cast("long"),
    )
    d = df.withColumn("__qarr", quantize_vec(F.col(vec_col))).withColumn(
        "__maxq", maxq
    )
    mq = F.col("__maxq")

    def floordiv(a: Column, b: Column) -> Column:
        return ((a - F.pmod(a, b)) / b).cast("long")

    codes = F.transform(
        F.col("__qarr"), lambda v: floordiv((v + mq) * 254 + mq, 2 * mq) - 127
    )
    d = d.withColumn("__codes", codes)
    err = F.zip_with(
        F.col("__qarr"), F.col("__codes"), lambda v, c: F.abs(v * 127 - c * mq)
    )
    agg = lambda arr: F.aggregate(arr, F.lit(0).cast("long"), lambda a, v: a + v)
    return (
        d.withColumn(f"{out_prefix}_scale", mq.cast("double") / F.lit(127000000.0))
        .withColumn(f"{out_prefix}_min", F.array_min("__codes"))
        .withColumn(f"{out_prefix}_max", F.array_max("__codes"))
        .withColumn(f"{out_prefix}_sum", agg(F.col("__codes")))
        .withColumn(f"{out_prefix}_err", agg(err))
        .drop("__qarr", "__maxq", "__codes")
    )


# ------------------------------------------------- curation kernels

def dedup_paragraphs(
    df: DataFrame, text_col: str, id_col: str, *, chunk_tokens: int = 4
) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet/RefinedWeb line-dedup
    tier): chunk every document into ``chunk_tokens``-token
    paragraphs, keep only the corpus-wide FIRST occurrence of each
    (by (id, chunk position)), and reassemble each document from its
    surviving paragraphs. Returns (id, n_chunks, n_kept, n_dropped,
    kept_ratio, dedup_text). Two shuffles, both on
    data-proportional keys: the paragraph-partitioned
    first-occurrence window and the per-doc rollup."""
    chunks = chunk(df, text_col, id_col, chunk_tokens=chunk_tokens)
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_id")
    r = chunks.select(
        id_col, "chunk_id", "chunk_text", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") == 1
    return r.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(kept).alias("n_kept"),
        F.count_if(~kept).alias("n_dropped"),
        (F.count_if(kept).cast("double") / F.count(F.lit(1))).alias("kept_ratio"),
        F.coalesce(
            F.array_join(
                F.array_compact(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(F.col("chunk_id"), F.col("chunk_text")),
                            )
                        )
                    ).transform(lambda s: s["chunk_text"])
                ),
                " ",
            ),
            F.lit(""),
        ).alias("dedup_text"),
    )


def quantize_vec(col: Column, *, scale: int = 1000000) -> Column:
    """1e-6 (by default) fixed-point quantization of a float vector
    into exact int64 — the house convention that makes every
    downstream dot/distance bit-deterministic under any partitioning
    or reduction order."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def rp_sign(i: int, j: int) -> int:
    """Deterministic Rademacher (±1) entry (i, j) of the random
    projection matrix — the splitmix64 finalizer over a linear seed,
    so Spark literals, the NumPy cross-check, and any other engine
    reproduce the identical matrix with no RNG state.  A plain
    multiplicative (Knuth) mix is NOT enough here: its lattice
    structure makes rows of the matrix nearly collinear (measured
    row·row up to 60/64), which destroys the JL guarantee — the
    distortion band test below is what catches a weak mixer."""
    x = (i * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % 2**64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) % 2**64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) % 2**64
    x ^= x >> 31
    return 1 if x & 1 else -1


def rp_project(
    df: DataFrame, id_col: str, vec_col: str, *, d: int, k: int = 16
) -> DataFrame:
    """Johnson–Lindenstrauss random projection d -> k with a
    deterministic Rademacher matrix (Achlioptas 2003: ±1 entries
    preserve pairwise distances like Gaussian ones): the
    data-INDEPENDENT embedding compressor — unlike PCA/PQ there is
    nothing to train, so it maps onto a 100 TB corpus as a pure
    scan-speed projection (no shuffle, no codebook broadcast, no
    second pass) and any two sites project identically.

    Exactness convention: inputs quantize to the 1e-6 int64 grid
    (quantize_vec), each output coordinate is an exact int64 signed
    sum (|y_int| <= d * 1e6 — far from overflow), reported as
    y = y_int / 1e6, one correct double rounding.  The 1/sqrt(k)
    JL normalization is deliberately NOT applied (libm sqrt —
    engine-dependent ulps); distances therefore scale by exactly k,
    which the distortion test accounts for.

    Returns long format (id, dim, y): k rows per vector, scalar
    columns only."""
    # Quantize ONCE in a lower select — referencing quantize_vec(...)
    # inside each of the k aggregates would re-run the float->grid
    # transform k times per row (no CSE across struct fields).
    df = df.select(
        F.col(id_col), quantize_vec(F.col(vec_col)).alias("_rp_q")
    )
    # The k*d sign literals are assembled as ONE SQL string handed to
    # a single F.expr: building them Column-by-Column costs >1000
    # py4j round trips PER CONSTRUCTION (~1 s driver-side Python,
    # measured r8 — the multimodal_audio_rms lesson; bench.py
    # reconstructs the DataFrame every run). Identical plan.
    terms = []
    for j in range(k):
        signs = ",".join(str(rp_sign(i, j)) for i in range(d))
        terms.append(
            f"named_struct('dim', {j}, 'y',"
            f" CAST(aggregate(zip_with(_rp_q, array({signs}),"
            f" (x, s) -> x * s), CAST(0 AS BIGINT),"
            f" (acc, t) -> acc + t) AS DOUBLE) / 1.0e6)"
        )
    return df.select(
        F.col(id_col), F.expr("inline(array(" + ",".join(terms) + "))")
    )


def maxsim(
    corpus: DataFrame,
    queries: DataFrame,
    doc_col: str,
    vec_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """ColBERT-style MaxSim late interaction: ``corpus`` holds one
    row per (multi-vector document ``doc_col``, vector ``vec_col``);
    ``queries`` holds the query's vectors (one per row, bounded —
    it is BROADCAST). A document's score is sum over query vectors
    of the max dot against any of its vectors. Returns the top-k
    (doc_col, rank, maxsim). All arithmetic is exact int64
    (1e-6-quantized) until one final division; the global top-k is
    a TakeOrdered, never a single-task sort.  ``k`` must be >= 1
    (ValueError otherwise)."""
    if k < 1:
        raise ValueError(f"maxsim: k must be >= 1, got {k}")
    q = queries.select(
        F.monotonically_increasing_id().alias("__qid"),
        quantize_vec(F.col(vec_col)).alias("__qe"),
    )
    d = corpus.select(F.col(doc_col), quantize_vec(F.col(vec_col)).alias("__de"))
    scored = (
        d.crossJoin(F.broadcast(q))
        .select(doc_col, "__qid", int_dot(F.col("__de"), F.col("__qe")).alias("dp"))
        .groupBy(doc_col, "__qid")
        .agg(F.max("dp").alias("m"))
        .groupBy(doc_col)
        .agg(F.sum("m").alias("si"))
    )
    top = scored.orderBy(F.desc("si"), doc_col).limit(k)
    w = Window.orderBy(F.desc("si"), doc_col)
    return top.select(
        doc_col,
        F.row_number().over(w).alias("rank"),
        (F.col("si").cast("double") / F.lit(1e12)).alias("maxsim"),
    )


def preference_pairs(
    df: DataFrame, group_cols: Sequence[str], id_col: str, score_col: str
) -> DataFrame:
    """DPO/RLHF preference-pair construction: within every
    ``group_cols`` bucket emit ONE (chosen, rejected) pair — the
    rows with the extreme ``score_col`` values (ties broken by the
    lower/higher ``id_col`` respectively, so the pair is
    deterministic). ONE hash aggregation, no window: both extremes
    ride out as max/min of a packed (score, -id) struct. Buckets
    with a single row are dropped. Returns group_cols + (n_docs,
    chosen_id, rejected_id, chosen_score, rejected_score, margin)."""
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__score"),
    )
    best = F.max(F.struct(F.col("__score"), (-F.col("__id")).alias("nid")))
    worst = F.min(F.struct(F.col("__score"), (-F.col("__id")).alias("nid")))
    return (
        s.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n_docs"), best.alias("b"), worst.alias("w"))
        .where(F.col("n_docs") >= 2)
        .select(
            *group_cols,
            "n_docs",
            (-F.col("b")["nid"]).alias("chosen_id"),
            (-F.col("w")["nid"]).alias("rejected_id"),
            F.col("b")["__score"].alias("chosen_score"),
            F.col("w")["__score"].alias("rejected_score"),
            (F.col("b")["__score"] - F.col("w")["__score"]).alias("margin"),
        )
    )


def link_prediction(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Common-neighbor / Jaccard link-prediction scores over the
    undirected view of caller-supplied edges: for every node pair
    sharing >= 1 neighbor, (node_a, node_b, common_cnt, deg_a,
    deg_b, jaccard, is_edge).  Wedge generation is the
    shared-neighbor equi-join (pairs appear once: a < b); degrees
    join in broadcast-able.  Hub-degree capping is the caller's
    contract on web-scale graphs (see dedup_ngram_jaccard's
    stop-gram cap for the pattern)."""
    u = lifecycle.checkpoint(
        edges.select(
            F.least(a_col, b_col).alias("a"), F.greatest(a_col, b_col).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    n = u.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        u.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = n.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    n2 = n.select(F.col("node").alias("node_b"), F.col("nbr").alias("nbr2"))
    pairs = (
        n.join(n2, (F.col("nbr") == F.col("nbr2")) & (F.col("node") < F.col("node_b")))
        .groupBy(F.col("node").alias("node_a"), "node_b")
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("d").alias("deg_b"))
    edge_flag = u.select("a", "b", F.lit(1).alias("is_edge"))
    return (
        pairs.join(F.broadcast(da), "node_a")
        .join(F.broadcast(db), "node_b")
        .join(
            F.broadcast(edge_flag),
            (F.col("node_a") == F.col("a")) & (F.col("node_b") == F.col("b")),
            "left",
        )
        .select(
            "node_a",
            "node_b",
            "common_cnt",
            "deg_a",
            "deg_b",
            (
                F.col("common_cnt").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_cnt"))
            ).alias("jaccard"),
            F.coalesce(F.col("is_edge"), F.lit(0)).cast("int").alias("is_edge"),
        )
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    codebook_q: list,
    n_subspaces: int,
) -> DataFrame:
    """Product-quantization ENCODE over a caller-supplied float-array
    column: the vector splits into ``n_subspaces`` equal subvectors;
    each is assigned to its nearest per-subspace centroid by EXACT
    int64 squared distance on the 1e-6 grid (tie-break lower code).
    ``codebook_q`` is a list of K full-dimension centroid vectors
    ALREADY quantized to ints on the same grid (round-half-up of
    value*1e6 — collect them through F.round to match bit-for-bit;
    a Python round() is banker's and can differ at half-steps).
    Returns (id, code_0..code_{M-1}, recon_dist2) — scalar columns.

    Zero-shuffle map stage: the codebook rides as literals and the
    per-subspace argmin is an array_min over (dist, code) structs —
    the form that stays inside whole-stage codegen (an unrolled
    aggregate tree falls out of codegen and runs ~10x slower)."""
    dim = len(codebook_q[0])
    if dim % n_subspaces != 0:
        raise ValueError(
            f"codebook dim {dim} not divisible by n_subspaces "
            f"{n_subspaces} — trailing dimensions would silently drop"
        )
    if any(len(c) != dim for c in codebook_q):
        raise ValueError("ragged codebook: all centroids must have equal dim")
    sub = dim // n_subspaces
    qe = quantize_vec(F.col(vec_col))
    out = df.select(F.col(id_col), qe.alias("__pq_qv"))

    # K*M codebook literals assembled as ONE SQL string per subspace
    # (single F.expr each): building them Column-by-Column costs
    # hundreds of py4j round trips per construction (~0.9 s measured
    # r8 — the multimodal_audio_rms lesson). Identical expression.
    def sub_dist2_sql(m: int, c: list) -> str:
        lits = ",".join(str(int(x)) for x in c[m * sub : (m + 1) * sub])
        return (
            f"aggregate(zip_with(slice(__pq_qv, {m * sub + 1}, {sub}),"
            f" array({lits}), (x, y) -> (x - y) * (x - y)),"
            f" CAST(0 AS BIGINT), (a, t) -> a + t)"
        )

    recon = F.lit(0).cast("long")
    for m in range(n_subspaces):
        structs = ",".join(
            f"named_struct('d', {sub_dist2_sql(m, c)},"
            f" 'k', CAST({k} AS BIGINT))"
            for k, c in enumerate(codebook_q)
        )
        out = out.withColumn(
            f"__pq_b{m}", F.expr(f"array_min(array({structs}))")
        )
    cols = [F.col(id_col)]
    for m in range(n_subspaces):
        cols.append(F.col(f"__pq_b{m}").getField("k").alias(f"code_{m}"))
        recon = recon + F.col(f"__pq_b{m}").getField("d")
    return out.select(*cols, recon.alias("recon_dist2"))


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, *, k: int = 50
) -> DataFrame:
    """Weighted sampling WITHOUT replacement by the Efraimidis–
    Spirakis A-ES scheme, made deterministic: each row gets a
    pseudo-uniform u in (0,1) from the Knuth multiplicative hash of
    its id (no RNG state — reproducible across runs/engines), a key
    ln(u)/weight, and the k LARGEST keys are the sample — provably
    equivalent to sequential weighted draws without replacement.
    Rows with weight <= 0 are excluded (A-ES is undefined there).
    ``k`` must be >= 1 (ValueError otherwise).  Returns (id, weight,
    u, key) for the sampled rows.

    The importance-sampling primitive of a data-mixing recipe (draw
    documents proportional to quality score / token count) — unlike
    sample_frac's Bernoulli rate, the sample SIZE is exact and the
    inclusion probability proportional to weight.  Shape: one map
    stage + a TakeOrdered top-k — no shuffle of the corpus, no
    per-partition RNG coordination, scan-speed at 100 TB.  ⊘ class:
    ln() is libm, so cross-engine equality is 1-ulp, not bit-exact —
    tests assert NumPy agreement and exact sample-set equality."""
    if k < 1:
        raise ValueError(f"weighted_sample: k must be >= 1, got {k}")
    h = F.pmod(F.col(id_col).bitwiseAND(2147483647) * F.lit(2654435761), F.lit(4294967296))
    u = (h + 1).cast("double") / F.lit(4294967297.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col),
            u.alias("u"),
            key.alias("key"),
        )
        .orderBy(F.desc("key"), id_col)
        .limit(k)
    )


def walk_adjacency(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Build the PERSISTED adjacency frame random_walk iterates
    over (owned by ``lifecycle``): the undirected edge set folded
    to one row per node with the ascending UNIQUE-neighbor array
    (array_distinct inside the fold — an input carrying both
    orientations of an edge, or a self-loop, must still yield each
    neighbor once; degree is the count of unique neighbors).

    r13 (guide §2.4/§5, measured): this replaced a bucketBy-table
    write.  The r8-r12 shape paid a parquet write + Hive-metastore
    registration + re-read EVERY RUN because localCheckpoint forgets
    outputPartitioning; but persist() does NOT — the InMemoryRelation
    keeps the groupBy's hashpartitioning(node), so every per-step
    join is still adjacency-local (one Exchange, the walker
    frontier) with no table write, no metastore round-trip, and one
    fewer shuffle (the old pre-distinct folded into the groupBy).
    ~2.9 s -> ~1.4 s for the full 3-step walk at sf0.1.  At 100 TB
    this is the standard iterative-graph pattern (MEMORY_AND_DISK
    adjacency, the api.pagerank discipline); a deployment that walks
    the same graph across many jobs would still materialize a
    bucketed table once at ingest."""
    u = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    und = u.unionAll(u.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return lifecycle.persist(
        und.groupBy(F.col("a").alias("node")).agg(
            F.sort_array(F.array_distinct(F.collect_list("b"))).alias("nbrs")
        )
    )


def duplicated_spans(
    df: DataFrame, text_col: str, id_col: str, *, gram_tokens: int = 8
) -> DataFrame:
    """Exact duplicated-SUBSTRING detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" tier):
    find every maximal token span whose ``gram_tokens``-gram content
    appears >= 2 times in the corpus, and report per-document span
    stats. Document-level dedup (dedup_exact_text) and chunk-level
    dedup (dedup_paragraphs) can't see a boilerplate license header
    pasted MID-document; this marks exactly those spans.

    Shape: one pass emits (doc, pos, gram) sliding windows (pure
    map, fan-out = tokens per doc); duplicate grams are found with a
    count window PARTITIONED BY GRAM (the dup cluster per key, never
    the corpus); surviving positions run per-doc gaps-and-islands
    (lag + running sum — positions of one doc, bounded by doc
    length) and merge into maximal spans (two starts merge iff
    p2 <= p1 + gram_tokens: overlapping or adjacent). Two shuffles
    on data-proportional keys (gram, doc), no global sort, no
    collect. Suffix arrays find the same spans at byte granularity;
    the gram formulation is the shuffle-friendly equivalent with
    resolution = gram_tokens tokens.

    Returns (id, n_tokens, n_dup_spans, dup_tokens, dup_ratio) —
    one row per input document, zeros for span-free docs."""
    L = gram_tokens
    # r13 (guide §1.1, measured): the token array is BOUND as a
    # projected column before the transform lambda references it —
    # the old inlined `split(text, ' ')` re-split the document once
    # per gram reference (O(tokens^2) per doc; 2.9 s -> 0.75 s for
    # the gram stage at sf0.1), and per-gram assembly is 8 element_at
    # reads instead of a slice+copy.
    tk = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("tk"))
    # NULL text must stay NULL: Spark's size(NULL) is -1 (legacy
    # sizeOfNull) while SQL len(NULL) is NULL — emit NULL explicitly
    # so both twins agree (span counts still coalesce to 0).
    base = tk.select(
        F.col(id_col),
        F.when(F.col("tk").isNotNull(), F.size("tk")).alias("n_tokens"),
    )
    grams = tk.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("tk") >= L,
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - L),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at("tk", i + k) for k in range(1, L + 1)],
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    )
    marked = (
        grams.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .where(F.col("cnt") >= 2)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = marked.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + L),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    spans = islands.groupBy(id_col, "island").agg(
        (F.max("pos") + L - F.min("pos")).alias("span_tokens")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens")
        ).alias("dup_ratio"),
    )


def random_walk(
    edges: DataFrame, a_col: str, b_col: str, *, steps: int = 3
) -> DataFrame:
    """DETERMINISTIC random walks over the undirected view of the
    edge set — the DeepWalk/node2vec corpus-generation step, made a
    pure function of the graph so walks are reproducible across
    re-runs and engines (no RNG state to ship): one walker starts at
    every node, and step t moves from node c to its
    ``mix(walker, c, t) % degree(c)``-th neighbor in ascending
    neighbor order, where mix is an overflow-safe integer hash
    (``pmod(walker*1000003 + c*97 + t*31, 2147483647)``).  Returns
    the long-format path table (walker_id, step, node), step 0 =
    the start node.

    Shape (r13, guide §2.4/§5): the adjacency is folded to one row
    per node (ascending unique-neighbor array) and PERSISTED — the
    InMemoryRelation keeps the fold's hashpartitioning(node), so
    every per-step join shuffles ONLY the walker frontier, never the
    adjacency (localCheckpoint can't make that claim: it forgets
    outputPartitioning — measured UnknownPartitioning; the r8-r12
    bucketed-table write bought the same property at the price of a
    parquet write + metastore round-trip per run).  Each frontier is
    lazily persisted so the step unions share one materialization
    under a single driving action instead of one eager checkpoint
    job per step.  All persists are owned by ``lifecycle``
    (released between bench queries).  The neighbor pick is
    element_at(nbrs, idx+1) — no window, no row_number stage.
    Hub-node arrays are the skew caveat — cap or sample mega-hub
    neighbor lists upstream if degree is unbounded."""
    adj = walk_adjacency(edges, a_col, b_col)
    walks = lifecycle.persist(
        adj.select(
            F.col("node").alias("walker_id"),
            F.lit(0).alias("step"),
            F.col("node"),
        )
    )
    frontier = walks
    for t in range(1, steps + 1):
        mix = F.pmod(
            F.col("walker_id") * 1000003 + F.col("node") * 97 + F.lit(t) * 31,
            F.lit(2147483647),
        )
        nxt = lifecycle.persist(
            frontier.join(adj, "node").select(
                "walker_id",
                F.lit(t).alias("step"),
                F.element_at(
                    "nbrs", (F.pmod(mix, F.size("nbrs")) + 1).cast("int")
                ).alias("node"),
            )
        )
        walks = walks.unionAll(nxt)
        frontier = nxt
    return walks


def modularity(
    edges: DataFrame, a_col: str, b_col: str, labels: DataFrame
) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    undirected view of caller-supplied edges, as ONE EXACT integer
    rational with a single final double division: Q = sum_c [e_c/m -
    (d_c/2m)^2] = num/den with num = sum_c (4*m*e_c - d_c^2) and
    den = 4*m^2 — int64-exact for m up to ~10^9 intra-community
    degree mass, bit-reproducible (no per-community float adds).
    ``labels`` is (node, label), e.g. label_propagation's output.
    Returns one row: (n_communities, n_edges, q_num, q_den,
    modularity).

    Shape: one broadcast-able label join per edge endpoint, one
    degree rollup, two bounded per-community aggregates."""
    u = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct()
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    # checkpoint: tagged feeds THREE consumers (the m_edges count, the
    # intra rollup and the degree rollup) — without it the distinct +
    # double label join re-executes per branch (same discipline as
    # label_propagation / k_core)
    tagged = lifecycle.checkpoint(u.join(la, "a").join(lb, "b"))
    m_edges = tagged.count()
    intra = (
        tagged.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        tagged.select(F.col("a").alias("node"), F.col("la").alias("label"))
        .unionAll(
            tagged.select(F.col("b").alias("node"), F.col("lb").alias("label"))
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    per_c = deg.join(intra, "label", "left").select(
        "label",
        F.coalesce("e_c", F.lit(0)).alias("e_c"),
        "d_c",
    )
    num = per_c.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(
            4 * F.lit(m_edges).cast("long") * F.col("e_c")
            - F.col("d_c") * F.col("d_c")
        ).alias("q_num"),
    )
    den = 4 * m_edges * m_edges
    return num.select(
        "n_communities",
        F.lit(m_edges).cast("long").alias("n_edges"),
        F.col("q_num").cast("long"),
        F.lit(den).cast("long").alias("q_den"),
        (F.col("q_num").cast("double") / F.lit(float(den))).alias("modularity"),
    )


def collocations(
    df: DataFrame, text_col: str, id_col: str, *, min_count: int = 5
) -> DataFrame:
    """Collocation mining (phrase-detection lift): for every bigram
    seen >= min_count times, p(ab)/(p(a)p(b)) as the EXACT integer
    cross-ratio c_ab*N / (c_a*c_b) with one final double division —
    no logarithms, bit-reproducible. Returns (bigram, c_ab, df,
    c_a, c_b, lift). Corpus shuffles once on the bigram key;
    unigram counts join broadcast-able."""
    toks = F.split(F.col(text_col), " ")
    t = df.select(F.col(id_col), toks.alias("__toks")).where(
        F.size("__toks") >= 2
    )
    bg = t.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.concat(
                    F.element_at(F.col("__toks"), i + 1),
                    F.lit(" "),
                    F.element_at(F.col("__toks"), i + 2),
                ),
            )
        ).alias("bigram"),
    )
    uni = df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    cu = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n1 = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    cb = (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("c_ab"),
            F.countDistinct(id_col).alias("df"),
        )
        .where(F.col("c_ab") >= min_count)
    )
    a_tok = F.split(F.col("bigram"), " ").getItem(0)
    b_tok = F.split(F.col("bigram"), " ").getItem(1)
    ca = cu.select(F.col("tok").alias("__ta"), F.col("c").alias("c_a"))
    ccn = cu.select(F.col("tok").alias("__tb"), F.col("c").alias("c_b"))
    return (
        cb.join(F.broadcast(ca), a_tok == F.col("__ta"))
        .join(F.broadcast(ccn), b_tok == F.col("__tb"))
        .crossJoin(F.broadcast(n1))
        .select(
            "bigram",
            "c_ab",
            "df",
            "c_a",
            "c_b",
            (
                (F.col("c_ab") * F.col("n_uni")).cast("double")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("lift"),
        )
    )


def span_corruption(
    df: DataFrame, text_col: str, id_col: str, *, stride: int = 7, span: int = 2
) -> DataFrame:
    """T5-style span corruption as a pure map: deterministic spans
    (start every ``stride`` positions with a per-row phase shift
    derived from ``id_col``, length ``span``) are replaced by
    numbered <extra_id_k> sentinels; returns (id, n_tokens,
    n_masked, n_spans, mask_ratio, corrupted_text, targets_text).
    Splicing targets back at the sentinels reproduces the input
    exactly (property-tested). Array-native, zero shuffles."""
    toks = F.split(F.col(text_col), " ")
    i = F.col(id_col)
    s = (stride - i % stride) % stride
    masked = lambda j: (j >= s) & ((j - s) % stride < span)
    start = lambda j: (j >= s) & ((j - s) % stride == 0)
    k = lambda j: ((j - s) / stride).cast("long")
    sentinel = lambda j: F.concat(
        F.lit("<extra_id_"), k(j).cast("string"), F.lit(">")
    )
    corrupted = F.array_join(
        F.array_compact(
            F.transform(
                toks,
                lambda x, j: F.when(~masked(j), x).when(start(j), sentinel(j)),
            )
        ),
        " ",
    )
    targets = F.array_join(
        F.array_compact(
            F.transform(
                toks,
                lambda x, j: F.when(
                    start(j), F.concat(sentinel(j), F.lit(" "), x)
                ).when(masked(j), x),
            )
        ),
        " ",
    )
    n_masked = F.size(F.filter(toks, lambda x, j: masked(j))).cast("long")
    n_spans = F.size(F.filter(toks, lambda x, j: start(j))).cast("long")
    return df.select(
        id_col,
        F.size(toks).cast("long").alias("n_tokens"),
        n_masked.alias("n_masked"),
        n_spans.alias("n_spans"),
        (n_masked.cast("double") / F.size(toks)).alias("mask_ratio"),
        corrupted.alias("corrupted_text"),
        targets.alias("targets_text"),
    )


def fim_split(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fill-in-the-middle split: deterministic prefix/middle/suffix
    token spans re-serialized in PSM order (<PRE> prefix <SUF>
    suffix <MID> middle). Pure slice algebra over one token array —
    a single codegen map stage. Returns span lengths, the three
    span texts, and the PSM serialization."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("long")
    i = F.col(id_col)
    a = F.least(n, (n / 4).cast("long") + i % 3)
    bnd = F.least(n, a + 1 + (n / 3).cast("long"))
    seg = lambda lo, hi: F.coalesce(
        F.array_join(
            F.slice(toks, (lo + 1).cast("int"), (hi - lo).cast("int")), " "
        ),
        F.lit(""),
    )
    prefix, middle, suffix = seg(F.lit(0).cast("long"), a), seg(a, bnd), seg(bnd, n)
    return df.select(
        id_col,
        n.alias("n_tokens"),
        a.alias("n_prefix"),
        (bnd - a).alias("n_middle"),
        (n - bnd).alias("n_suffix"),
        prefix.alias("prefix_text"),
        middle.alias("middle_text"),
        suffix.alias("suffix_text"),
        F.concat(
            F.lit("<PRE> "), prefix, F.lit(" <SUF> "), suffix,
            F.lit(" <MID> "), middle,
        ).alias("fim_psm"),
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    rounds: int = 4,
    certificate: bool = False,
) -> DataFrame:
    """Deterministic integer-exact k-means (Lloyd): init = the first
    k vectors by ``id_col``, every distance/assignment/update in
    exact int64 (1e-6-quantized elements, floor-division centroid
    update on the driver over k*d collected sums) — bit-identical
    under any partitioning, which float k-means never is. Returns
    the per-cluster summary (cluster_id, n_members, inertia,
    min_member, centroid_l2q). Per round: one codebook-literal
    argmin map over the corpus + one (cluster, dim) partial-agg
    shuffle of k*d keys. With ``certificate=True`` the summary also
    carries ``n_reassigned_last_round`` — how many points changed
    cluster between the last in-loop assignment (round ``rounds-1``
    centroids) and the final assignment: 0 certifies Lloyd has
    fixpointed; a nonzero value makes non-convergence VISIBLE in the
    graded output instead of silently reporting a mid-trajectory
    state."""
    q = lifecycle.persist(
        df.select(
            F.col(id_col).alias("__id"), quantize_vec(F.col(vec_col)).alias("xq")
        )
    )
    cents = [
        r["xq"]
        for r in q.orderBy("__id").limit(k).collect()
    ]
    if len(cents) < k:
        raise ValueError(
            f"kmeans_lloyd: k={k} but the input has only "
            f"{len(cents)} rows — pass k <= row count"
        )

    def assign_col():
        codebook = F.array(
            *[F.array(*[F.lit(int(v)) for v in c]) for c in cents]
        )
        dists = F.transform(
            codebook,
            lambda c: F.aggregate(
                F.zip_with(F.col("xq"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda a, t: a + t,
            ),
        )
        dmin = F.array_min(dists)
        return F.struct(
            dmin.alias("d"),
            (F.array_position(dists, dmin) - 1).cast("int").alias("c"),
        )

    prev_assign = None
    for r_idx in range(rounds):
        if certificate and r_idx == rounds - 1:
            prev_assign = lifecycle.checkpoint(
                q.select("__id", assign_col()["c"].alias("c_prev"))
            )
        a = q.select("xq", assign_col().alias("b"))
        sums = (
            a.select(F.col("b")["c"].alias("cl"), F.posexplode("xq"))
            .groupBy("cl", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in sums:
            new[r["cl"]][r["pos"]] = r["s"] // r["n"]  # floor division
        cents = new

    final = q.select("__id", assign_col().alias("b"))
    out = final.groupBy(F.col("b")["c"].alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("b")["d"]).alias("inertia"),
        F.min("__id").alias("min_member"),
    )
    cent_norm = {j: sum(int(v) * int(v) for v in cents[j]) for j in range(k)}
    norm_col = F.element_at(
        F.array(*[F.lit(cent_norm[j]) for j in range(k)]),
        F.col("cluster_id").cast("int") + 1,
    )
    # materialize the k-row result BEFORE dropping the cached corpus,
    # or the caller's first action would recompute the quantize +
    # argmin pass from source.
    res = out.select(
        "cluster_id", "n_members", "inertia", "min_member",
        norm_col.alias("centroid_l2q"),
    )
    if certificate:
        cert = (
            final.select("__id", F.col("b")["c"].alias("c_fin"))
            .join(prev_assign, "__id")
            .agg(
                F.sum(
                    F.when(F.col("c_fin") != F.col("c_prev"), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_reassigned_last_round")
            )
        )
        res = res.crossJoin(F.broadcast(cert))
    res = lifecycle.checkpoint(res)
    lifecycle.free(q)
    return res



# Multimodal parsers live in operator modules that import this one at
# their top, so they are re-exported lazily (PEP 562): an eager import
# here would break the operators-first import order.
def __getattr__(name: str):
    if name in (
        "png_stats",
        "wav_stats",
        "bmp_stats",
    ):
        # wire-format structural parsers (pure-codegen folds)
        from .operators import multimodal

        return getattr(multimodal, name)
    if name in (
        "mp4_stats",
        "tar_index",
        "gif_stats",
        "zip_index",
    ):
        # container parsers live in the r11 split module
        from .operators import multimodal_containers

        return getattr(multimodal_containers, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")




# generation-eval / curation / LSH / graph / rank kernels live in sibling modules
# (r11 module-size cap); re-imported by name so api.<kernel> is the
# stable address for every library entry point.
from .api_eval import (  # noqa: E402
    bloom_prefilter,
    bleu_components,
    chrf,
    hilbert_index,
    importance_weights,
    rouge_n,
    wer,
)
from .api_lsh import (  # noqa: E402
    dp_noisy_counts,
    minhash_near_dup_pairs,
    minhash_pairs,
    minhash_signatures,
    simhash_signature,
)
from .api_graph import (  # noqa: E402
    connected_components,
    k_core,
    label_propagation,
    pagerank,
)
from .api_rank import (  # noqa: E402
    global_rank_distributed,
    grouped_cumsum_distributed,
    ntile_distributed,
)
