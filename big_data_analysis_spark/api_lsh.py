"""Deterministic-LSH and private-release kernels on caller
DataFrames (r11; split module — the api facade re-imports by name):
md5-keyed MinHash signatures and banded near-dup pairs with exact
cross-multiplied Jaccard verify, shingle SimHash signatures, MLlib
MinHash pairs, and two-sided-geometric DP released counts.

Every LSH candidate search in the package runs through the same two
steps here: `lsh_cells` explodes one narrow (id, *carry, band, key)
row per band key, and `lsh_candidates` runs the ONE equi-join on
(band, key) that turns those cells into distinct id pairs: a
self-join, or two-sided (query or batch cells against base cells)
when given a second cell table.  They stay separate so a caller can
localCheckpoint the cells between them.  `pair_overlap` is the
matching exact verify: it counts the shared elements of each
candidate pair and nothing else.  MLlib's LSH models supply only
hash values; no query calls their approxSimilarityJoin, whose
candidate shuffle carries every collision's full vector payload.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import lifecycle


def lsh_cells(
    df: DataFrame, id_col: str, keys: Sequence[Column], carry: Sequence[str] = ()
) -> DataFrame:
    """One (id, *carry, band, key) row per input row and band: band
    b's bucket key is `keys[b]`.  `carry` columns ride along so the
    verify never re-joins the table they came from."""
    return df.select(
        F.col(id_col).alias("id"),
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("__bk"),
    ).select("id", *carry, "__bk.band", "__bk.key")


def lsh_candidates(cells: DataFrame, other: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b, <c>_a, <c>_b per carried
    column c) from ONE equi-join of `lsh_cells` output on (band, key):
    hash-partitioned on the bucket, so only co-bucketed rows meet and
    no plan is ever id x id.  `distinct` folds pairs that collide in
    several bands.  Alone, `cells` is joined with itself and
    id_a < id_b; given `other` (the same columns, hashed by the same
    model), id_a comes from `cells`, id_b from `other`, and every
    colliding pair is kept, an id paired with itself included."""
    carry = cells.columns[1:-2]
    a, b = cells.alias("a"), (cells if other is None else other).alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
    if other is None:
        on = on & (F.col("a.id") < F.col("b.id"))
    return (
        a.join(b, on)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .distinct()
    )


def pair_overlap(
    cand: DataFrame, elems: DataFrame, other: DataFrame | None = None
) -> DataFrame:
    """`cand` plus `inter_cnt`, the number of elements ids id_a and
    id_b share.  `elems` holds two columns, (id, element), distinct
    per id; id_b's elements come from `other` (the same columns) when
    the candidates are two-sided.  The verify joins cand to elems on
    id_a, then to elems again on (id_b, element): it only ever touches
    candidate pairs, and pairs sharing no element drop out."""
    i, e = elems.columns
    side_a = elems.select(F.col(i).alias("id_a"), F.col(e).alias(e))
    side_b = (elems if other is None else other).select(
        F.col(i).alias("id_b"), F.col(e).alias(e)
    )
    return (
        cand.join(side_a, "id_a")
        .join(side_b, ["id_b", e])
        .groupBy(*cand.columns)
        .agg(F.count(F.lit(1)).cast("long").alias("inter_cnt"))
    )


def minhash_band_keys(k: int, rows_per_band: int) -> list[Column]:
    """Band keys over minhash columns m0..m{k-1}: band b is the
    '|'-joined decimal strings of its `rows_per_band` minhashes."""
    return [
        F.concat_ws(
            "|",
            *[
                F.col(f"m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        for b in range(k // rows_per_band)
    ]


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle: int, out_id: str
) -> DataFrame:
    """(out_id, shingle) DISTINCT rows of `shingle`-token shingles.

    r13 (guide §1.1, measured): the token array is BOUND as a
    projected column before the transform lambda references it — the
    old inlined `slice(split(text, ' '), ...)` form re-split the
    document once PER SHINGLE ELEMENT (O(tokens^2) per doc; measured
    6x slower on the fixture corpus for the dedup twins).  Identical
    output strings: concat over explicit 0-based element reads
    equals concat_ws over the slice."""
    gram = " , ' ', ".join(f"__tk[i + {j} - 1]" for j in range(shingle))
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias(out_id),
            F.split(F.col(text_col), " ").alias("__tk"),
        )
        .where(F.size("__tk") >= shingle)
        .select(
            out_id,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__tk) - {shingle - 1}),"
                    f" i -> concat({gram}))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    shingle: int = 3,
) -> DataFrame:
    """Deterministic MinHash signatures: one row per input row with
    `n_sh` (distinct shingle count) and minhash columns m0..m{k-1},
    each the min over the row's `shingle`-token shingles of a salted
    md5 60-bit integer.  No RNG, no engine-private hash family — the
    same text yields the same signature on any engine or cluster.
    One explode + one groupBy (map-side partial mins)."""
    sh = _shingle_rows(df, id_col, text_col, shingle, "__mh_id")
    hashed = sh.select(
        "__mh_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(concat('{i}|', shingle)), 1, 15),"
                f" 16, 10) AS BIGINT)"
            ).alias(f"h{i}")
            for i in range(k)
        ],
    )
    return (
        hashed.groupBy("__mh_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            *[F.min(f"h{i}").alias(f"m{i}") for i in range(k)],
        )
        .withColumnRenamed("__mh_id", id_col)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    rows_per_band: int = 2,
    shingle: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs with exact Jaccard verify at
    tau = tau_num/tau_den, decided by the cross-multiplied integer
    rule (tau_den*inter >= tau_num*union <=> (tau_num+tau_den)*inter
    >= tau_num*(|A|+|B|)) — never a float.  Candidates come from
    `lsh_candidates` over the signature's bands, carrying n_sh, and
    the verify is `pair_overlap` over the candidate docs' shingles.
    The same shape as the dedup_minhash_exact query, but NOT its
    signatures: each minhash here is one salted md5 per shingle
    (`minhash_signatures`), while that query slices two 60-bit lanes
    from each digest, so the two pick different candidates."""
    assert k % rows_per_band == 0
    sig = minhash_signatures(df, id_col, text_col, k=k, shingle=shingle)
    cand = lsh_candidates(
        lsh_cells(sig, id_col, minhash_band_keys(k, rows_per_band), ["n_sh"])
    )
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("__sh_id")
    ).distinct()
    sh = _shingle_rows(df, id_col, text_col, shingle, "__sh_id")
    sh_c = sh.join(F.broadcast(cand_ids), "__sh_id")
    return (
        pair_overlap(cand, sh_c)
        .where(
            (tau_num + tau_den) * F.col("inter_cnt")
            >= tau_num * (F.col("n_sh_a") + F.col("n_sh_b"))
        )
        .select(
            "id_a",
            "id_b",
            "inter_cnt",
            F.col("n_sh_a").alias("n_a"),
            F.col("n_sh_b").alias("n_b"),
            (
                F.col("inter_cnt").cast("double")
                / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("inter_cnt"))
            ).alias("jaccard"),
        )
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.9,
    num_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with Jaccard >= ``threshold`` over
    the binarized HashingTF vectors of the space-split tokens, using
    pyspark.ml's seeded MinHashLSH model.  Returns (<id>_a, <id>_b,
    jaccard) with <id>_a < <id>_b; ids must be unique.  Row for row,
    doubles included, this equals MLlib's ``approxSimilarityJoin`` on
    the same model (tests/test_lsh.py checks it against that
    reference), without its payload-heavy candidate shuffle: see
    `_minhash_token_pairs`."""
    d = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    ).where(F.size("toks") > 0)
    return _minhash_token_pairs(
        d,
        threshold=threshold,
        num_tables=num_tables,
        num_features=num_features,
        seed=seed,
    ).select(
        F.col("id_a").alias(f"{id_col}_a"),
        F.col("id_b").alias(f"{id_col}_b"),
        "jaccard",
    )


def _minhash_token_pairs(
    d: DataFrame,
    other: DataFrame | None = None,
    *,
    threshold: float,
    num_tables: int,
    num_features: int,
    seed: int,
) -> DataFrame:
    """(id_a, id_b, jaccard) for `d` = (id, token array), no array
    empty (MinHash is undefined on an empty set).  Alone, `d` is
    joined with itself (id_a < id_b); given `other` (the same
    columns), id_a comes from `d` and id_b from `other`, as
    ``approxSimilarityJoin(d, other)`` pairs them.

    MLlib's approxSimilarityJoin shuffles the FULL (features sparse
    vector + hash vectors) struct per candidate collision through
    its internal distinct(), then runs keyDistance per pair; at 8
    cores those heavy rows blew execution memory.  This path keeps
    MLlib's own numbers and shuffles ids: the fitted model computes
    the hash tables, table t's value is band t's key in `lsh_cells`
    (bucket count n carried), and the verify is `pair_overlap` over
    the HashingTF bucket indices.  keyDistance is the index-set
    Jaccard distance, reproduced with the same double arithmetic:
    dist = 1.0 - i / ((n_a + n_b) - i), kept when
    dist < 1 - threshold, emitted as 1 - dist.  A MinHash collision
    implies a shared bucket (the hash is injective on indices), so
    dropping zero-overlap pairs drops nothing MLlib keeps.  The
    model's coefficients depend only on the seed and the vector
    size, so fitting it on `d` alone hashes `other` as a model fitted
    on both would.  The feature and cell tables are
    localCheckpoint'ed: the join reads narrow materialized rows, not
    the tokenizer per side."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    id_col, tok_col = d.columns
    tf = HashingTF(
        inputCol=tok_col,
        outputCol="features",
        numFeatures=num_features,
        binary=True,
    )
    feats = [
        lifecycle.checkpoint(tf.transform(s).select(id_col, "features"))
        for s in ([d] if other is None else [d, other])
    ]
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_tables, seed=seed
    ).fit(feats[0])
    bkts = F.unwrap_udt("features")["indices"]
    cells = [
        lifecycle.checkpoint(
            lsh_cells(
                mh.transform(f).withColumn("n", F.size(bkts)),
                id_col,
                [vector_to_array(F.col("hashes")[t])[0] for t in range(num_tables)],
                ["n"],
            )
        )
        for f in feats
    ]
    elems = [f.select(id_col, F.explode(bkts).alias("bkt")) for f in feats]
    i = F.col("inter_cnt").cast("double")
    dist = F.lit(1.0) - i / ((F.col("n_a") + F.col("n_b")).cast("double") - i)
    return (
        pair_overlap(lsh_candidates(*cells), *elems)
        .select("id_a", "id_b", dist.alias("dist"))
        .where(F.col("dist") < 1.0 - threshold)
        .select("id_a", "id_b", (1 - F.col("dist")).alias("jaccard"))
    )


def simhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    shingle: int = 3,
) -> DataFrame:
    """Deterministic Charikar SimHash over shingle features: adds a
    `simhash` BIGINT column (bit b = sign of the +/-1 vote sum over
    the row's distinct shingles, votes from salted-md5).  One explode
    + one groupBy."""
    sh = _shingle_rows(df, id_col, text_col, shingle, "__sx_id")
    hashed = sh.select(
        "__sx_id",
        F.expr(
            "CAST(conv(substring(md5(concat('sh|', shingle)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    return (
        hashed.groupBy("__sx_id")
        .agg(
            F.expr(
                " + ".join(
                    f"(CASE WHEN SUM(((h >> {b}) & 1) * 2 - 1) >= 0"
                    f" THEN CAST(1 AS BIGINT) ELSE 0 END) * {1 << b}"
                    for b in range(bits)
                )
            ).alias("simhash")
        )
        .withColumnRenamed("__sx_id", id_col)
    )


_DP_EPS_NUM, _DP_EPS_DEN = 1, 1  # epsilon = 1 (sensitivity 1 per count)
_DP_TRUNC = 8  # two-sided geometric truncated at +/-8 (renormalized)
_DP_UBITS = 40  # uniform draw: top 40 bits of md5 -> [0, 2^40)


def _dp_thresholds() -> list[tuple[int, int]]:
    """Inverse-CDF thresholds of the truncated two-sided geometric
    (discrete Laplace) with alpha = exp(-eps), as EXACT int64
    literals over the 2^40 uniform space — computed once at import
    from the same closed form on both sides, so the noise drawn for
    a given md5 uniform is identical cross-engine (no transcendental
    evaluated inside either engine)."""
    a = math.exp(-_DP_EPS_NUM / _DP_EPS_DEN)
    ks = list(range(-_DP_TRUNC, _DP_TRUNC + 1))
    probs = [(1 - a) / (1 + a) * a ** abs(k) for k in ks]
    tot = sum(probs)
    u_max = 1 << _DP_UBITS
    out, cum = [], 0.0
    for k, p in zip(ks, probs):
        cum += p / tot
        out.append((k, min(u_max, round(cum * u_max))))
    out[-1] = (out[-1][0], u_max)
    return out


def _dp_noise_case(u: str) -> str:
    """CASE ladder mapping a 40-bit uniform to its geometric noise —
    identical SQL text on both engines."""
    return (
        "CASE "
        + " ".join(
            f"WHEN {u} < {t} THEN CAST({k} AS BIGINT)"
            for k, t in _dp_thresholds()
        )
        + " END"
    )


def dp_noisy_counts(
    df: DataFrame, key_cols: list[str], *, salt: str = "dp"
) -> DataFrame:
    """Epsilon-DP (eps=1) released counts per key group via the
    two-sided-geometric mechanism: inverse-CDF over a 40-bit md5
    uniform keyed on (salt, group key) against an exact integer
    literal threshold table — deterministic, replayable, no engine
    ever evaluates exp/ln.  Swap the salt for a secret in production.
    Adds true_cnt / noise / released_cnt."""
    base = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    keyexpr = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS STRING)" for c in key_cols
    ) + ")"
    noised = base.withColumn(
        "u",
        F.expr(
            f"CAST(conv(substring(md5(concat('{salt}|', {keyexpr})), 1, 10),"
            f" 16, 10) AS BIGINT)"
        ),
    )
    noise = _dp_noise_case("u")
    return noised.select(
        *key_cols,
        "true_cnt",
        F.expr(noise).alias("noise"),
        F.expr(f"GREATEST(CAST(0 AS BIGINT), true_cnt + ({noise}))").alias(
            "released_cnt"
        ),
    )
