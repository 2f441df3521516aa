"""Generation-eval and curation kernels on caller-supplied
DataFrames (split from api.py at the r11 module-size cap — the
facade re-imports these by name, so `api.rouge_n` etc. are
unchanged): ROUGE-N / BLEU components / WER / chrF per-row lambda
metrics, the Hilbert locality index, the Bloom prefilter and the
DoReMi-style importance-weight table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import lifecycle


def _ngrams_expr(arr: str, n: int) -> str:
    """Overlapping n-grams of a token-array column as space-joined
    strings (guarded: Spark's sequence(1, 0) yields [1, 0])."""
    if n == 1:
        return arr
    return (
        f"CASE WHEN size({arr}) < {n} THEN array() ELSE "
        f"transform(sequence(1, size({arr}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({arr}, i, {n}))) END"
    )


def _overlap_expr(pred: str, ref: str) -> str:
    """Multiset overlap: sum over distinct pred grams of
    min(count_pred, count_ref)."""
    return (
        f"aggregate(array_distinct({pred}), 0, (acc, g) -> acc + "
        f"least(size(filter({pred}, x -> x = g)), "
        f"size(filter({ref}, x -> x = g))))"
    )


def _chargrams_expr(col: str, n: int) -> str:
    return (
        f"CASE WHEN length({col}) < {n} THEN array() ELSE "
        f"transform(sequence(1, length({col}) - {n} + 1), "
        f"i -> substring({col}, i, {n})) END"
    )


def rouge_n(df: DataFrame, pred_col: str, ref_col: str, *, n: int = 2) -> DataFrame:
    """ROUGE-n recall between two array<string> token columns: adds
    rn_match / rn_ref_n / rougen_recall.  Pure per-row lambdas —
    zero shuffle."""
    pg, rg = f"__pg_{n}", f"__rg_{n}"
    out = (
        df.withColumn(pg, F.expr(_ngrams_expr(pred_col, n)))
        .withColumn(rg, F.expr(_ngrams_expr(ref_col, n)))
        .withColumn(
            f"r{n}_match", F.expr(_overlap_expr(pg, rg)).cast("long")
        )
        .withColumn(f"r{n}_ref_n", F.size(rg).cast("long"))
    )
    return out.withColumn(
        f"rouge{n}_recall",
        F.when(
            F.col(f"r{n}_ref_n") > 0,
            F.col(f"r{n}_match").cast("double") / F.col(f"r{n}_ref_n"),
        ),
    ).drop(pg, rg)


def bleu_components(
    df: DataFrame, pred_col: str, ref_col: str, *, max_n: int = 4
) -> DataFrame:
    """BLEU modified n-gram precision components p1..p{max_n} plus
    brevity_ratio between two token-array columns (the exp/log
    geometric mean stays a driver-side scalar fold).  Zero shuffle."""
    out = df.withColumn("pred_len", F.size(pred_col).cast("long")).withColumn(
        "ref_len", F.size(ref_col).cast("long")
    )
    for n in range(1, max_n + 1):
        pg, rg = f"__pg{n}", f"__rg{n}"
        out = (
            out.withColumn(pg, F.expr(_ngrams_expr(pred_col, n)))
            .withColumn(rg, F.expr(_ngrams_expr(ref_col, n)))
            .withColumn(
                f"p{n}_match", F.expr(_overlap_expr(pg, rg)).cast("long")
            )
            .withColumn(f"p{n}_total", F.size(pg).cast("long"))
            .withColumn(
                f"p{n}",
                F.when(
                    F.col(f"p{n}_total") > 0,
                    F.col(f"p{n}_match").cast("double")
                    / F.col(f"p{n}_total"),
                ),
            )
            .drop(pg, rg)
        )
    return out.withColumn(
        "brevity_ratio",
        F.col("pred_len").cast("double") / F.col("ref_len"),
    )


def wer(
    df: DataFrame, pred_col: str, ref_col: str, *, cap: int = 24
) -> DataFrame:
    """Token-level word error rate between two array<string> columns:
    both sides are capped at `cap` tokens, recoded through the
    per-row vocab (<= 2*cap distinct entries) onto single ASCII
    chars, and scored with the JVM levenshtein — char-level distance
    on the recode IS token-level WER.  Adds edit_ops and
    wer = edit_ops / ref length (NULL for an empty reference).  Keep
    2*cap <= 200 so every code point stays a single char."""
    if 2 * cap > 200:
        raise ValueError("cap too large for single-char recoding")
    p, r, v = "__wp", "__wr", "__wv"
    enc = lambda col: F.expr(
        f"concat_ws('', transform({col},"
        f" tk -> char(48 + array_position({v}, tk))))"
    )
    out = (
        df.withColumn(p, F.slice(pred_col, 1, cap))
        .withColumn(r, F.slice(ref_col, 1, cap))
        .withColumn(v, F.array_distinct(F.concat(F.col(r), F.col(p))))
        .withColumn("__ep", enc(p))
        .withColumn("__er", enc(r))
    )
    return (
        out.withColumn("edit_ops", F.levenshtein("__er", "__ep").cast("long"))
        .withColumn(
            "wer",
            F.when(
                F.size(r) > 0,
                F.col("edit_ops").cast("double") / F.size(r).cast("double"),
            ),
        )
        .drop(p, r, v, "__ep", "__er")
    )


def chrf(
    df: DataFrame, pred_col: str, ref_col: str, *, max_n: int = 3,
    beta2: int = 4,
) -> DataFrame:
    """chrF character n-gram F_beta components between two STRING
    columns: per order, match/totals and the recall-weighted F score
    (beta^2 = `beta2`; zero-match rows emit 0).  Zero shuffle."""
    out = df
    for n in range(1, max_n + 1):
        pg, rg = f"__cp{n}", f"__cr{n}"
        out = (
            out.withColumn(pg, F.expr(_chargrams_expr(pred_col, n)))
            .withColumn(rg, F.expr(_chargrams_expr(ref_col, n)))
            .withColumn(
                f"m{n}", F.expr(_overlap_expr(pg, rg)).cast("long")
            )
            .withColumn(f"pt{n}", F.size(pg).cast("long"))
            .withColumn(f"rt{n}", F.size(rg).cast("long"))
            .drop(pg, rg)
        )
        prec = F.col(f"m{n}").cast("double") / F.col(f"pt{n}")
        rec = F.col(f"m{n}").cast("double") / F.col(f"rt{n}")
        out = out.withColumn(
            f"chrf{n}",
            F.when(F.col(f"m{n}") == 0, F.lit(0.0)).otherwise(
                (1.0 + float(beta2)) * prec * rec
                / (F.lit(float(beta2)) * prec + rec)
            ),
        )
    return out


# ------------------------------------------------------- layout / dedup

def hilbert_index(
    df: DataFrame, x_col: str, y_col: str, out_col: str, *, order: int = 256
) -> DataFrame:
    """Order-k Hilbert curve index of two non-negative integer grid
    columns (0 <= x, y < order; order a power of two) — the
    locality-preserving layout key (pairs with zorder_key; see
    pipeline_layout_cluster for the bbox evidence).  The xy2d walk
    rides as chained temp columns (linear codegen), reflecting by
    the full grid per the standard algorithm."""
    if order & (order - 1):
        raise ValueError("order must be a power of two")
    x, y, d = "__hx", "__hy", out_col
    out = (
        df.withColumn(x, F.col(x_col).cast("long"))
        .withColumn(y, F.col(y_col).cast("long"))
        .withColumn(d, F.lit(0).cast("long"))
    )
    s = order // 2
    while s > 0:
        rx = (F.col(x) % (2 * s) >= s).cast("long")
        ry = (F.col(y) % (2 * s) >= s).cast("long")
        quad = (
            F.when((rx == 0) & (ry == 0), 0)
            .when((rx == 0) & (ry == 1), 1)
            .when((rx == 1) & (ry == 1), 2)
            .otherwise(3)
        )
        new_x = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(order - 1) - F.col(y)).otherwise(F.col(y)),
        ).otherwise(F.col(x))
        new_y = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(order - 1) - F.col(x)).otherwise(F.col(x)),
        ).otherwise(F.col(y))
        out = (
            out.withColumn(d, F.col(d) + F.lit(s * s) * quad)
            .withColumn("__nx", new_x)
            .withColumn("__ny", new_y)
            .withColumn(x, F.col("__nx"))
            .withColumn(y, F.col("__ny"))
            .drop("__nx", "__ny")
        )
        s //= 2
    return out.drop(x, y)


def bloom_prefilter(
    build: DataFrame, probe: DataFrame, key_col: str, *, bits_log2: int = 16
) -> DataFrame:
    """Bloom membership prefilter: k=4 hash positions are disjoint
    16-bit-capped slices of md5(key) decoded by digit arithmetic;
    the build side's bit set (a bounded DISTINCT) is broadcast and
    each probe row gains n_hits / maybe_member.  Only maybe-members
    need the exact join — its shuffle then scales with the maybe
    set, not the corpus."""
    space = 1 << bits_log2
    hexd = "0123456789abcdef"

    def pos_expr(k: int) -> str:
        off = 1 + 4 * k
        terms = " + ".join(
            f"(instr('{hexd}', substr(__h, {off + j}, 1)) - 1)"
            f" * {16 ** (3 - j)}"
            for j in range(4)
        )
        return f"CAST(({terms}) % {space} AS BIGINT)"

    arr = "array(" + ", ".join(pos_expr(k) for k in range(4)) + ")"
    b = build.withColumn("__h", F.md5(key_col)).withColumn(
        "__pos", F.expr(arr)
    )
    bits = b.select(F.explode("__pos").alias("pos")).distinct()
    # assign the row id ONCE and checkpoint it: two separately-derived
    # monotonically_increasing_id lineages are not guaranteed to agree
    p = lifecycle.checkpoint(
        probe.withColumn("__h", F.md5(key_col))
        .withColumn("__pos", F.expr(arr))
        .withColumn("__rid", F.monotonically_increasing_id())
    )
    hits = (
        p.select("__rid", F.explode("__pos").alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("__rid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        p.join(hits, "__rid", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("long"))
        .withColumn("maybe_member", (F.col("n_hits") == 4).cast("int"))
        .drop("__rid", "__h", "__pos")
    )


def importance_weights(
    df: DataFrame, domain_col: str, target_permille: dict[str, int]
) -> DataFrame:
    """Domain reweighting table: per domain, the exact 1000x-scaled
    sampling weight transforming the source share into the declared
    target mix, plus the expected post-resample count audit column
    (a mix that over-asks a tiny domain shows up as expected_docs far
    above n_docs, the upsampling-repetition red flag).  One groupBy +
    a broadcast scalar total."""
    case = "CASE " + domain_col + " " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(target_permille.items())
    ) + " ELSE 0 END"
    src = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = src.agg(F.sum("n_docs").cast("long").alias("total"))
    return src.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "n_docs",
        F.expr(case).cast("long").alias("target_permille"),
        F.expr("n_docs * 1000 DIV total").cast("long").alias(
            "source_permille"
        ),
        F.expr(f"(({case}) * total * 1000) DIV (1000 * n_docs)")
        .cast("long")
        .alias("weight_ppk"),
        F.expr(
            f"(({case}) * total * 1000) DIV (1000 * n_docs)"
            " * n_docs DIV 1000"
        )
        .cast("long")
        .alias("expected_docs"),
    )


