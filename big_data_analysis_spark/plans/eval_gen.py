"""Generation-eval metrics (r10 wave 1) — the per-example scores an
LLM eval harness reduces generated text to: ROUGE-N recall, BLEU
modified n-gram precisions, token-level WER, NDCG@k and MRR.  All
five follow the house exactness convention: every count, overlap,
edit distance and discount sum is an exact integer cross-engine
(scaled-integer DCG with precomputed literal discount weights; WER
rides the JVM/DuckDB `levenshtein` both engines ship), and the only
float op per row is one final division of exact integers.

Kept in their own module per the r9 ADVICE (category-per-module
layout; screening.py had grown into a catch-all).

ROUGE/BLEU/WER/chrF build their fixture (pred, ref) columns and call
the api_eval kernels; their oracles keep DuckDB twins of the kernels'
n-gram and overlap expressions.

Execution shape: ROUGE/BLEU/WER/chrF are pure per-row array-lambda
maps — zero explode, zero shuffle; at 100 TB eval scoring is a map over
(pred, ref) pairs.  NDCG/MRR group a bounded query×rank grid (the
candidate lists), broadcast against the corpus — the corpus is
scanned once and never reshuffled.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..api_eval import bleu_components, chrf, rouge_n, wer
from ..io import table
from ..api_rank import global_rank_distributed
from ..registry import query

# ---------------------------------------------------------------- #
# DuckDB n-gram / multiset-overlap builders for the oracles (the
# Spark side is api_eval's _ngrams_expr / _overlap_expr)
# ---------------------------------------------------------------- #


def _duck_ngrams(arr: str, n: int) -> str:
    if n == 1:
        return arr
    return (
        f"list_transform(generate_series(1, len({arr}) - {n} + 1), "
        f"i -> array_to_string(list_slice({arr}, i, i + {n} - 1), ' '))"
    )


def _duck_overlap(pred: str, ref: str) -> str:
    return (
        f"COALESCE(list_sum(list_transform(list_distinct({pred}), "
        f"g -> least(len(list_filter({pred}, x -> x = g)), "
        f"len(list_filter({ref}, x -> x = g))))), 0)"
    )


# ---------------------------------------------------------------- #
# ROUGE-N
# ---------------------------------------------------------------- #

_ROUGE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
pr AS (
  SELECT doc_id,
         list_slice(toks, 1, 12) AS ref,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN list_slice(toks, 1, 12)
           WHEN 1 THEN list_slice(toks, 5, 16)
           ELSE list_reverse_sort(list_slice(toks, 1, 12))
         END AS pred
  FROM t
),
g AS (
  SELECT doc_id, ref, pred,
         {_duck_ngrams('ref', 2)} AS ref2,
         {_duck_ngrams('pred', 2)} AS pred2
  FROM pr
),
s AS (
  SELECT doc_id,
         CAST({_duck_overlap('pred', 'ref')} AS BIGINT) AS r1_match,
         CAST(len(ref) AS BIGINT) AS r1_ref_n,
         CAST({_duck_overlap('pred2', 'ref2')} AS BIGINT) AS r2_match,
         CAST(len(ref2) AS BIGINT) AS r2_ref_n
  FROM g
)
SELECT doc_id, r1_match, r1_ref_n,
       CAST(r1_match AS DOUBLE) / r1_ref_n AS rouge1_recall,
       r2_match, r2_ref_n,
       CAST(r2_match AS DOUBLE) / r2_ref_n AS rouge2_recall
FROM s
"""


@query("pipeline_eval_rouge_n", oracle=_ROUGE_SQL, category="pipelines")
def pipeline_eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 recall (Lin 2004).  References are the first
    12 tokens of each document; predictions exercise the three
    regimes (identical -> recall 1; shifted window -> partial; sorted
    permutation -> ROUGE-1 = 1 but ROUGE-2 near 0, the case that
    separates the orders).  Thin adapter over api.rouge_n."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ref = F.slice(toks, 1, 12)
    pred = (
        F.when((F.col("doc_id") % 3) == 0, F.slice(toks, 1, 12))
        .when((F.col("doc_id") % 3) == 1, F.slice(toks, 5, 12))
        .otherwise(F.reverse(F.array_sort(F.slice(toks, 1, 12))))
    )
    p = d.select("doc_id", ref.alias("ref"), pred.alias("pred"))
    s = rouge_n(rouge_n(p, "pred", "ref", n=1), "pred", "ref", n=2)
    return s.select(
        "doc_id", "r1_match", "r1_ref_n", "rouge1_recall",
        "r2_match", "r2_ref_n", "rouge2_recall",
    )


# ---------------------------------------------------------------- #
# BLEU components
# ---------------------------------------------------------------- #


def _bleu_oracle() -> str:
    gram_cols = ",\n         ".join(
        f"{_duck_ngrams('ref', n)} AS ref{n}, "
        f"{_duck_ngrams('pred', n)} AS pred{n}"
        for n in range(1, 5)
    )
    match_cols = ",\n         ".join(
        f"CAST({_duck_overlap(f'pred{n}', f'ref{n}')} AS BIGINT) "
        f"AS p{n}_match,\n         "
        f"CAST(len(pred{n}) AS BIGINT) AS p{n}_total"
        for n in range(1, 5)
    )
    prec_cols = ",\n       ".join(
        f"CAST(p{n}_match AS DOUBLE) / p{n}_total AS p{n}" for n in range(1, 5)
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
pr AS (
  SELECT doc_id,
         list_slice(toks, 1, 16) AS ref,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN list_slice(toks, 1, 16)
           WHEN 1 THEN list_slice(toks, 3, 18)
           ELSE list_slice(toks, 1, 10)
         END AS pred
  FROM t
),
g AS (
  SELECT doc_id, ref, pred,
         {gram_cols}
  FROM pr
),
s AS (
  SELECT doc_id,
         CAST(len(pred) AS BIGINT) AS pred_len,
         CAST(len(ref) AS BIGINT) AS ref_len,
         {match_cols}
  FROM g
)
SELECT doc_id, pred_len, ref_len,
       p1_match, p1_total, p2_match, p2_total,
       p3_match, p3_total, p4_match, p4_total,
       {prec_cols},
       CAST(pred_len AS DOUBLE) / ref_len AS brevity_ratio
FROM s
"""


@query("pipeline_eval_bleu", oracle=_bleu_oracle(), category="pipelines")
def pipeline_eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU components (Papineni et al. 2002): clipped n-gram
    precisions p1..p4 and the brevity ratio, per example (the final
    BP * exp(mean log p_n) is a caller-side scalar fold).  Predictions
    exercise identical (all p=1), shifted (partial) and truncated
    (brevity < 1) regimes.  Thin adapter over api.bleu_components."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ref = F.slice(toks, 1, 16)
    pred = (
        F.when((F.col("doc_id") % 3) == 0, F.slice(toks, 1, 16))
        .when((F.col("doc_id") % 3) == 1, F.slice(toks, 3, 16))
        .otherwise(F.slice(toks, 1, 10))
    )
    p = d.select("doc_id", ref.alias("ref"), pred.alias("pred"))
    s = bleu_components(p, "pred", "ref", max_n=4)
    return s.select(
        "doc_id",
        "pred_len",
        "ref_len",
        *[c for n in range(1, 5) for c in (f"p{n}_match", f"p{n}_total")],
        *[f"p{n}" for n in range(1, 5)],
        "brevity_ratio",
    )


# ---------------------------------------------------------------- #
# token-level WER
# ---------------------------------------------------------------- #

_WER_CAP = 24  # per-side token cap -> per-row vocab <= 48 distinct

_WER_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
pr AS (
  SELECT doc_id,
         list_slice(toks, 1, {_WER_CAP}) AS ref,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN list_slice(toks, 1, {_WER_CAP})
           WHEN 1 THEN list_slice(toks, 3, {_WER_CAP} + 2)
           WHEN 2 THEN list_transform(
             list_filter(generate_series(1, least(len(toks), {_WER_CAP})),
                         i -> i % 3 <> 0),
             i -> toks[i])
           ELSE list_reverse(list_slice(toks, 1, {_WER_CAP}))
         END AS pred
  FROM t
),
v AS (
  SELECT doc_id, ref, pred,
         list_distinct(list_concat(ref, pred)) AS vocab
  FROM pr
),
e AS (
  SELECT doc_id,
         CAST(len(ref) AS BIGINT) AS ref_len,
         CAST(len(pred) AS BIGINT) AS pred_len,
         array_to_string(list_transform(ref,
           tk -> chr(48 + list_position(vocab, tk))), '') AS enc_ref,
         array_to_string(list_transform(pred,
           tk -> chr(48 + list_position(vocab, tk))), '') AS enc_pred
  FROM v
)
SELECT doc_id, ref_len, pred_len,
       CAST(levenshtein(enc_ref, enc_pred) AS BIGINT) AS edit_ops,
       CAST(levenshtein(enc_ref, enc_pred) AS DOUBLE) / ref_len AS wer
FROM e
"""


@query("pipeline_eval_wer", oracle=_WER_SQL, category="pipelines")
def pipeline_eval_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level word error rate.  References are the first 24
    tokens; predictions exercise identical (WER 0), shifted,
    every-3rd-token-deleted and reversed regimes.  Thin adapter over
    api.wer (cap 24, so the per-row vocab stays <= 48 entries)."""
    d = table(spark, sf_dir, "documents")
    cap = _WER_CAP
    # r13 (guide §1.1): token array BOUND as a projected column — the
    # inlined split form re-split the document per kept index in the
    # drop3 lambda and once per pred branch (O(cap * tokens) per doc).
    dt = d.select("doc_id", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    ref = F.slice(toks, 1, cap)
    drop3 = F.expr(
        f"transform(filter(sequence(1, least(size(toks), {cap})),"
        " i -> i % 3 != 0), i -> element_at(toks, i))"
    )
    pred = (
        F.when((F.col("doc_id") % 4) == 0, F.slice(toks, 1, cap))
        .when((F.col("doc_id") % 4) == 1, F.slice(toks, 3, cap))
        .when((F.col("doc_id") % 4) == 2, drop3)
        .otherwise(F.reverse(F.slice(toks, 1, cap)))
    )
    p = dt.select("doc_id", ref.alias("ref"), pred.alias("pred"))
    return wer(p, "pred", "ref", cap=cap).select(
        "doc_id",
        F.size("ref").cast("long").alias("ref_len"),
        F.size("pred").cast("long").alias("pred_len"),
        "edit_ops",
        "wer",
    )


# ---------------------------------------------------------------- #
# NDCG@10 and MRR over a deterministic ranked-candidate grid
# ---------------------------------------------------------------- #

_NDCG_K = 10
_NDCG_QUERIES = 20
# discount weights 1/log2(rank+1) pre-scaled to 1e12 integers — the
# SAME literals ride in both twins, so the DCG sum is an exact int64
# sum (a float discount sum would be order-sensitive cross-engine).
_DCG_W = [
    round(10**12 / math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
]

_GRID_SQL = f"""
  SELECT q.query_id, r.rank,
         CAST((q.query_id * 37 + r.rank * 11) % 500 AS BIGINT) AS doc_id
  FROM (SELECT UNNEST(generate_series(0, {_NDCG_QUERIES - 1})) AS query_id) q
  CROSS JOIN (SELECT UNNEST(generate_series(1, {_NDCG_K})) AS rank) r
"""

_W_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_DCG_W)
) + " END"


def _ndcg_oracle() -> str:
    w_rank = _W_CASE.replace("rnk", "rank")
    w_ideal = _W_CASE.replace("rnk", "ideal_pos")
    return f"""
WITH grid AS ({_GRID_SQL}),
rel AS (
  SELECT g.query_id, g.rank, CAST(d.n_chars % 4 AS BIGINT) AS rel,
         CAST(CASE CAST(d.n_chars % 4 AS INT)
              WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END
           AS BIGINT) AS gain
  FROM grid g JOIN documents d ON d.doc_id = g.doc_id
),
ideal AS (
  SELECT query_id, rank, gain,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, rank) AS BIGINT)
           AS ideal_pos
  FROM rel
),
s AS (
  SELECT query_id,
         CAST(SUM(gain * ({w_rank})) AS BIGINT) AS dcg_scaled,
         CAST(SUM(gain * ({w_ideal})) AS BIGINT) AS idcg_scaled
  FROM ideal GROUP BY query_id
)
SELECT query_id, dcg_scaled, idcg_scaled,
       CAST(dcg_scaled AS DOUBLE) / GREATEST(idcg_scaled, 1) AS ndcg
FROM s
"""


def _candidate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic query×rank candidate grid joined to the
    corpus for graded relevance (rel = n_chars % 4 of the candidate
    document) — the bounded grid is broadcast; the corpus is scanned
    once and never reshuffled."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    grid = (
        spark.range(_NDCG_QUERIES)
        .select(F.col("id").alias("query_id"))
        .crossJoin(
            spark.range(1, _NDCG_K + 1).select(F.col("id").alias("rank"))
        )
        .select(
            "query_id",
            "rank",
            ((F.col("query_id") * 37 + F.col("rank") * 11) % 500).alias(
                "doc_id"
            ),
        )
    )
    return (
        d.join(F.broadcast(grid), "doc_id")
        .select("query_id", "rank", (F.col("n_chars") % 4).alias("rel"))
    )


@query("pipeline_eval_ndcg", oracle=_ndcg_oracle(), category="pipelines")
def pipeline_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 (Järvelin & Kekäläinen 2002) per query over a
    deterministic ranked-candidate grid with graded relevance from
    the corpus (rel = n_chars % 4, exponential gains 2^rel - 1).
    The log2 discounts are pre-scaled 1e12 INTEGER LITERALS embedded
    identically in both twins, so DCG and ideal DCG are exact int64
    sums (a float discount accumulation would be ordering-sensitive
    cross-engine); the ideal ordering is one bounded per-query
    window (rel DESC, rank as the deterministic tie-break).  One
    double division per query, zero corpus shuffle."""
    rel = _candidate_grid(spark, sf_dir)
    gain = (
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
        .cast("long")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("rank"))
    ideal = rel.select(
        "query_id",
        "rank",
        gain.alias("gain"),
        F.row_number().over(w).cast("long").alias("ideal_pos"),
    )
    w_rank = F.expr(_W_CASE.replace("rnk", "rank"))
    w_ideal = F.expr(_W_CASE.replace("rnk", "ideal_pos"))
    s = ideal.groupBy("query_id").agg(
        F.sum(F.col("gain") * w_rank).cast("long").alias("dcg_scaled"),
        F.sum(F.col("gain") * w_ideal).cast("long").alias("idcg_scaled"),
    )
    return s.select(
        "query_id",
        "dcg_scaled",
        "idcg_scaled",
        (
            F.col("dcg_scaled").cast("double")
            / F.greatest(F.col("idcg_scaled"), F.lit(1))
        ).alias("ndcg"),
    )


def _mrr_oracle() -> str:
    return f"""
WITH grid AS ({_GRID_SQL}),
rel AS (
  SELECT g.query_id, g.rank,
         CASE WHEN d.n_chars % 4 >= 2 THEN 1 ELSE 0 END AS relevant
  FROM grid g JOIN documents d ON d.doc_id = g.doc_id
),
s AS (
  SELECT query_id,
         CAST(COALESCE(MIN(CASE WHEN relevant = 1 THEN rank END), 0)
           AS BIGINT) AS first_rel_rank,
         CAST(SUM(relevant) AS BIGINT) AS n_relevant
  FROM rel GROUP BY query_id
)
SELECT query_id, first_rel_rank, n_relevant,
       CAST(CASE WHEN first_rel_rank > 0
                 THEN 1000000000000 // first_rel_rank
                 ELSE 0 END AS BIGINT) AS rr_scaled
FROM s
"""


@query("pipeline_eval_mrr", oracle=_mrr_oracle(), category="pipelines")
def pipeline_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank components per query over the same
    candidate grid (binary relevance rel >= 2): the first relevant
    rank and its reciprocal as an exact 1e12-scaled floor division
    (Spark DIV == DuckDB //) — MRR itself is the driver's one-line
    mean over rr_scaled.  Queries with no relevant candidate emit
    rank 0 / rr 0 explicitly (NULL-free for the hash grade)."""
    rel = _candidate_grid(spark, sf_dir).select(
        "query_id",
        "rank",
        F.when(F.col("rel") >= 2, 1).otherwise(0).alias("relevant"),
    )
    s = rel.groupBy("query_id").agg(
        F.coalesce(
            F.min(F.when(F.col("relevant") == 1, F.col("rank"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel_rank"),
        F.sum("relevant").cast("long").alias("n_relevant"),
    )
    return s.select(
        "query_id",
        "first_rel_rank",
        "n_relevant",
        F.when(
            F.col("first_rel_rank") > 0,
            F.expr("1000000000000 DIV first_rel_rank"),
        )
        .otherwise(0)
        .cast("long")
        .alias("rr_scaled"),
    )


# ---------------------------------------------------------------- #
# chrF — character n-gram F-score
# ---------------------------------------------------------------- #

_CHRF_CAP = 40  # chars per side
_CHRF_BETA2 = 4  # beta = 2, the sacrebleu default


def _duck_chargrams(col: str, n: int) -> str:
    return (
        f"list_transform(generate_series(1, length({col}) - {n} + 1), "
        f"i -> substr({col}, i, {n}))"
    )


def _chrf_oracle() -> str:
    gram_cols = ",\n         ".join(
        f"{_duck_chargrams('ref', n)} AS ref{n}, "
        f"{_duck_chargrams('pred', n)} AS pred{n}"
        for n in range(1, 4)
    )
    stat_cols = ",\n         ".join(
        f"CAST({_duck_overlap(f'pred{n}', f'ref{n}')} AS BIGINT)"
        f" AS m{n},\n         "
        f"CAST(len(pred{n}) AS BIGINT) AS pt{n},\n         "
        f"CAST(len(ref{n}) AS BIGINT) AS rt{n}"
        for n in range(1, 4)
    )
    f_cols = ",\n       ".join(
        f"CASE WHEN m{n} = 0 THEN 0.0 ELSE"
        f" (1.0 + {_CHRF_BETA2}) * (CAST(m{n} AS DOUBLE) / pt{n})"
        f" * (CAST(m{n} AS DOUBLE) / rt{n})"
        f" / ({_CHRF_BETA2}.0 * (CAST(m{n} AS DOUBLE) / pt{n})"
        f"    + (CAST(m{n} AS DOUBLE) / rt{n})) END AS chrf{n}"
        for n in range(1, 4)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         substr(text, 1, {_CHRF_CAP}) AS ref,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN substr(text, 1, {_CHRF_CAP})
           WHEN 1 THEN substr(text, 6, {_CHRF_CAP})
           ELSE substr(text, 1, {_CHRF_CAP - 15})
         END AS pred
  FROM documents
),
g AS (
  SELECT doc_id, ref, pred,
         {gram_cols}
  FROM t
),
s AS (
  SELECT doc_id,
         {stat_cols}
  FROM g
)
SELECT doc_id, m1, pt1, rt1, m2, pt2, rt2, m3, pt3, rt3,
       {f_cols}
FROM s
"""


@query("pipeline_eval_chrf", oracle=_chrf_oracle(), category="pipelines")
def pipeline_eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (Popović 2015) components, orders 1..3 with beta = 2: the
    references are the first 40 characters of each document, the
    predictions identical, shifted by 5 and truncated to 25 chars.
    The final chrF score is the caller's mean over orders.  Thin
    adapter over api.chrf."""
    d = table(spark, sf_dir, "documents")
    ref = F.expr(f"substring(text, 1, {_CHRF_CAP})")
    pred = (
        F.when((F.col("doc_id") % 3) == 0, ref)
        .when(
            (F.col("doc_id") % 3) == 1,
            F.expr(f"substring(text, 6, {_CHRF_CAP})"),
        )
        .otherwise(F.expr(f"substring(text, 1, {_CHRF_CAP - 15})"))
    )
    p = d.select("doc_id", ref.alias("ref"), pred.alias("pred"))
    s = chrf(p, "pred", "ref", max_n=3, beta2=_CHRF_BETA2)
    return s.select(
        "doc_id",
        *[c for n in range(1, 4) for c in (f"m{n}", f"pt{n}", f"rt{n}")],
        *[f"chrf{n}" for n in range(1, 4)],
    )


@query(
    "pipeline_eval_auc",
    oracle="""
WITH q AS (
  SELECT vec_id, label >= 5 AS pos,
         list_sum(list_transform(range(1, 65),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                     AS BIGINT)
                * (CASE WHEN i % 2 = 1 THEN 1 ELSE -1 END))) AS score
  FROM embeddings
),
r AS (
  SELECT vec_id, pos, score,
         ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rk
  FROM q
),
g AS (
  SELECT score,
         CAST(MIN(rk) + MAX(rk) AS BIGINT) AS r2,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_s
  FROM r GROUP BY score
),
t AS (
  SELECT CAST(SUM(n_pos_s * r2) AS BIGINT) AS r2_pos,
         CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
         CAST(SUM((SELECT COUNT(*) FROM r WHERE r.score = g.score))
              AS BIGINT) AS n_chk
  FROM g
),
c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
SELECT c.n, t.n_pos, CAST(c.n - t.n_pos AS BIGINT) AS n_neg,
       t.r2_pos,
       CAST(t.r2_pos - t.n_pos * (t.n_pos + 1) AS BIGINT) AS auc_num,
       CAST(2 * t.n_pos * (c.n - t.n_pos) AS BIGINT) AS auc_den,
       CAST(t.r2_pos - t.n_pos * (t.n_pos + 1) AS DOUBLE)
         / (2 * t.n_pos * (c.n - t.n_pos)) AS auc
FROM t CROSS JOIN c
""",
    category="pipelines",
)
def pipeline_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of a deterministic linear scorer over the
    embedding corpus — the ranking-quality metric every classifier
    eval reports, computed through the rank-sum identity AUC =
    (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with TIES handled by
    midranks (the probabilistic definition: P(s_pos > s_neg) + 0.5 *
    P(tie)): scores are exact int64 dots of the 1e-6-quantized
    embeddings with an alternating +/-1 literal vector, the doubled
    midrank of a tie group is MIN(rank)+MAX(rank) (integer — the
    agg_mann_whitney machinery), and the AUC numerator/denominator
    ship as exact BIGINTs next to the one double division. Scale
    shape: the global ranking runs through the distributed-prefix
    kernel ``api_rank.global_rank_distributed``; tie-group rollup and the
    positive-midrank sum are key-partitioned on score; totals are
    1-row broadcasts."""

    e = table(spark, sf_dir, "embeddings")
    score = None
    for j in range(1, 65):
        term = F.round(
            F.element_at("embedding", j).cast("double") * 1_000_000
        ).cast("long") * (1 if j % 2 == 1 else -1)
        score = term if score is None else score + term
    q = e.select(
        "vec_id", (F.col("label") >= 5).alias("pos"), score.alias("score")
    )
    r = global_rank_distributed(q, ["score", "vec_id"], "rk")
    g = r.groupBy("score").agg(
        (F.min("rk") + F.max("rk")).cast("long").alias("r2"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos_s"),
    )
    t = g.agg(
        F.sum(F.col("n_pos_s") * F.col("r2")).cast("long").alias("r2_pos"),
        F.sum("n_pos_s").cast("long").alias("n_pos"),
    )
    c = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = t.crossJoin(F.broadcast(c))
    num = F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = 2 * F.col("n_pos") * (F.col("n") - F.col("n_pos"))
    return j.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        "r2_pos",
        num.cast("long").alias("auc_num"),
        den.cast("long").alias("auc_den"),
        (num.cast("double") / den).alias("auc"),
    )

@query(
    "pipeline_eval_threshold",
    oracle="""
WITH q AS (
  SELECT vec_id, label >= 5 AS pos,
         list_sum(list_transform(range(1, 65),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                     AS BIGINT)
                * (CASE WHEN i % 2 = 1 THEN 1 ELSE -1 END))) AS score
  FROM embeddings
),
tot AS (
  SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM q
),
th AS (
  SELECT CAST(score AS BIGINT) AS thr,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS tp_at,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS fp_at
  FROM q GROUP BY score
),
cum AS (
  SELECT thr,
         SUM(tp_at) OVER (ORDER BY thr DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS tp,
         SUM(fp_at) OVER (ORDER BY thr DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS fp
  FROM th
),
j AS (
  SELECT cum.thr, cum.tp, cum.fp, tot.np, tot.nn,
         CAST(cum.tp * tot.nn - cum.fp * tot.np AS BIGINT) AS j_num
  FROM cum CROSS JOIN tot
),
best AS (
  SELECT MAX(j_num) AS best_j FROM j
),
pick AS (
  SELECT MIN(thr) AS best_thr FROM j CROSS JOIN best
  WHERE j.j_num = best.best_j
)
SELECT j.thr, CAST(j.tp AS BIGINT) AS tp, CAST(j.fp AS BIGINT) AS fp,
       j.np, j.nn, j.j_num,
       CAST(j.tp AS DOUBLE) / j.np AS tpr,
       CAST(j.fp AS DOUBLE) / j.nn AS fpr,
       CAST(j.tp AS DOUBLE) / j.np - CAST(j.fp AS DOUBLE) / j.nn
         AS youden_j,
       j.thr = pick.best_thr AS is_optimal
FROM j CROSS JOIN pick
""",
    category="pipelines",
)
def pipeline_eval_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC operating-point selection by Youden's J — the
    threshold-picking step downstream of pipeline_eval_auc (same
    scorer, same exact-int machinery): for every candidate threshold
    (each distinct score; predict positive when score >= thr) the TP
    and FP counts come from ONE descending cumulative sum over the
    score-grouped counts, and the argmax of J = TPR - FPR is decided
    by the EXACT integer cross-product j_num = tp*nn - fp*np (equal
    denominators np*nn for every threshold, so comparing j_num IS
    comparing J — no float ever ranks thresholds; ties break to the
    smallest threshold). TPR/FPR/J doubles are display-only. Scale:
    score-domain-bounded rollup + cumulative sum; at data-proportional
    score domains the cumsum runs through api_rank.grouped_cumsum_distributed
    (this demo's score domain is the bounded quantized-dot lattice)."""
    e = table(spark, sf_dir, "embeddings")
    score = None
    for jj in range(1, 65):
        term = F.round(
            F.element_at("embedding", jj).cast("double") * 1_000_000
        ).cast("long") * (1 if jj % 2 == 1 else -1)
        score = term if score is None else score + term
    q = e.select((F.col("label") >= 5).alias("pos"), score.alias("score"))
    tot = q.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1))
        .cast("long")
        .alias("nn"),
    )
    th = q.groupBy(F.col("score").alias("thr")).agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("tp_at"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1))
        .cast("long")
        .alias("fp_at"),
    )
    wc = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = th.select(
        "thr",
        F.sum("tp_at").over(wc).alias("tp"),
        F.sum("fp_at").over(wc).alias("fp"),
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "thr",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        "np",
        "nn",
        (F.col("tp") * F.col("nn") - F.col("fp") * F.col("np"))
        .cast("long")
        .alias("j_num"),
    )
    best = j.agg(F.max("j_num").alias("best_j"))
    pick = (
        j.crossJoin(F.broadcast(best))
        .where(F.col("j_num") == F.col("best_j"))
        .agg(F.min("thr").alias("best_thr"))
    )
    return j.crossJoin(F.broadcast(pick)).select(
        "thr",
        "tp",
        "fp",
        "np",
        "nn",
        "j_num",
        (F.col("tp").cast("double") / F.col("np")).alias("tpr"),
        (F.col("fp").cast("double") / F.col("nn")).alias("fpr"),
        (
            F.col("tp").cast("double") / F.col("np")
            - F.col("fp").cast("double") / F.col("nn")
        ).alias("youden_j"),
        (F.col("thr") == F.col("best_thr")).alias("is_optimal"),
    )

@query(
    "pipeline_eval_pr",
    oracle="""
WITH q AS (
  SELECT vec_id, label >= 5 AS pos,
         list_sum(list_transform(range(1, 65),
           i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                     AS BIGINT)
                * (CASE WHEN i % 2 = 1 THEN 1 ELSE -1 END))) AS score
  FROM embeddings
),
tot AS (SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM q),
th AS (
  SELECT CAST(score AS BIGINT) AS thr,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS tp_at,
         CAST(COUNT(*) AS BIGINT) AS n_at
  FROM q GROUP BY score
),
cum AS (
  SELECT thr, tp_at,
         SUM(tp_at) OVER w AS tp,
         SUM(n_at) OVER w AS pred_pos
  FROM th
  WINDOW w AS (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
terms AS (
  SELECT cum.thr, CAST(cum.tp AS BIGINT) AS tp,
         CAST(cum.pred_pos AS BIGINT) AS pred_pos, tot.np,
         CAST(cum.tp_at * cum.tp AS BIGINT) AS ap_term_num,
         CAST(tot.np * cum.pred_pos AS BIGINT) AS ap_term_den
  FROM cum CROSS JOIN tot
)
SELECT thr, tp, pred_pos, np,
       CAST(tp AS DOUBLE) / pred_pos AS precision,
       CAST(tp AS DOUBLE) / np AS recall,
       ap_term_num, ap_term_den
FROM terms
""",
    category="pipelines",
)
def pipeline_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve + average precision — the ranking eval
    that matters under class imbalance where ROC flatters
    (pipeline_eval_auc's PR companion, same scorer): per threshold
    (descending), precision tp/pred_pos and recall tp/np come from
    one cumulative sum, and each AP summand dRecall_k * Precision_k
    ships as the EXACT integer pair tp_at*tp / (np*pred_pos) — a
    float running sum was tried first and the parity run caught
    DuckDB's windowed SUM aggregating through a SEGMENT TREE (tree
    addition order != sequential order -> last-ulp divergence), so
    the engine emits exact rationals and the caller folds AP (the
    tests certify it in Fraction arithmetic). Counts exact;
    divisions per-row. Scale: score-domain rollup + ordered
    cumsums, the eval_threshold shape."""
    e = table(spark, sf_dir, "embeddings")
    score = None
    for jj in range(1, 65):
        term = F.round(
            F.element_at("embedding", jj).cast("double") * 1_000_000
        ).cast("long") * (1 if jj % 2 == 1 else -1)
        score = term if score is None else score + term
    q = e.select((F.col("label") >= 5).alias("pos"), score.alias("score"))
    tot = q.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("np")
    )
    th = q.groupBy(F.col("score").alias("thr")).agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("long")
        .alias("tp_at"),
        F.count(F.lit(1)).cast("long").alias("n_at"),
    )
    wc = Window.orderBy(F.desc("thr")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = th.select(
        "thr",
        "tp_at",
        F.sum("tp_at").over(wc).alias("tp"),
        F.sum("n_at").over(wc).alias("pred_pos"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "thr",
        F.col("tp").cast("long").alias("tp"),
        F.col("pred_pos").cast("long").alias("pred_pos"),
        "np",
        (F.col("tp_at") * F.col("tp")).cast("long").alias("ap_term_num"),
        (F.col("np") * F.col("pred_pos")).cast("long").alias("ap_term_den"),
    )
    return terms.select(
        "thr",
        "tp",
        "pred_pos",
        "np",
        (F.col("tp").cast("double") / F.col("pred_pos")).alias("precision"),
        (F.col("tp").cast("double") / F.col("np")).alias("recall"),
        "ap_term_num",
        "ap_term_den",
    )
