"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.10):
tokenization, term frequencies, TF-IDF, corpus stats, language ID,
quality scoring, BPE-ish token counting, document fingerprinting.

All operators are pure DataFrame algebra (explode/groupBy/higher-order
functions) — no Python in the row path. At 100 TB the explode-based
ops shuffle on (token) or (doc_id); both are high-cardinality keys
with bounded skew (vocab-frequency skew is absorbed by partial
aggregation, since the map-side combiner collapses each token to one
row per task before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import api
from .. import lifecycle
from ..io import table
from ..registry import query

def _tokens():
    # lazy: building a Column requires an active SparkContext
    return F.split(F.col("text"), " ")

# Deterministic marker-word sets for the language-ID heuristic (drawn
# from the fixture vocabulary; real deployments would plug frequency
# tables per language here — the *operator shape* is the deliverable).
_LANG_MARKERS = {
    "en": ["the", "a", "table", "query"],
    "de": ["data", "hash", "window"],
    "es": ["row", "value", "vector"],
    "fr": ["join", "merge", "sort"],
    "zh": ["spark", "stream", "batch"],
}


@query(
    "text_tokenize",
    oracle="""
SELECT tok AS token, COUNT(*) AS total_count, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
""",
    category="text",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token counts: doc -> token rows -> per-token totals.
    Delegates to the generic api.tokenize kernel."""
    d = table(spark, sf_dir, "documents")
    return (
        api.tokenize(d, "text", "doc_id")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "text_termfreq",
    oracle="""
SELECT doc_id, tok AS token, COUNT(*) AS tf
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY doc_id, tok
""",
    category="text",
)
def text_termfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequencies (generic kernel:
    api.term_freq)."""
    d = table(spark, sf_dir, "documents")
    return api.term_freq(d, "text", "doc_id")


@query(
    "text_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, tok AS token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       tf.tf * ((CAST(n.n_docs AS DOUBLE) + 1.0) / (df.df + 1.0)) AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
""",
    category="text",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term) with add-one-smoothed *linear* inverse
    document frequency: tf x (N+1)/(df+1) — exact int-ratio double
    arithmetic, bit-identical across engines. The classic
    logarithmically-damped variant is text_tfidf_ln (rows-only:
    libm ln() differs by 1 ulp between JVM and DuckDB).

    df is a COUNT window over token on the tf table rather than a
    separate aggregate joined back: Catalyst does not dedup common
    subtrees, so the join formulation explodes+aggregates the corpus
    TWICE (once on the broadcast side). One tokenize pass + one
    shuffle of the much smaller tf table beats two corpus passes —
    and more so at 100 TB, where re-tokenizing is the dominant cost.
    Only the 1-row corpus count is broadcast. Generic kernel:
    api.tfidf(log_idf=False)."""
    d = table(spark, sf_dir, "documents")
    return api.tfidf(d, "text", "doc_id", log_idf=False)


@query("text_tfidf_ln", oracle=None, category="text")
def text_tfidf_ln(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TF-IDF (tf x ln(N/df)). Rows-only: transcendental
    libm results differ by 1 ulp across engines; a unit test asserts
    1e-12 relative closeness to a NumPy reference. Generic kernel:
    api.tfidf(log_idf=True)."""
    d = table(spark, sf_dir, "documents")
    return api.tfidf(d, "text", "doc_id", log_idf=True)


@query(
    "text_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang
""",
    category="text",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (exact integer sums -> double avg)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.size(_tokens())).alias("total_tokens"),
    )


def _marker_score(lang: str) -> Column:
    lits = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    return F.size(F.array_intersect(F.array_distinct(_tokens()), lits))


def _sql_marker_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_intersect(list_distinct(string_split(text,' ')), [{words}]))"


_LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # tie-break: alphabetical


@query(
    "text_langid",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_sql_marker_score(lg)} AS s_{lg}" for lg in _LANG_ORDER)}
  FROM documents
)
SELECT doc_id, lang AS actual_lang,
       CASE GREATEST(s_de, s_en, s_es, s_fr, s_zh)
            WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
            WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang,
       CAST(GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS INT) AS best_score
FROM scored
""",
    category="text",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score each language's
    marker set against the doc's distinct tokens, argmax with
    deterministic alphabetical tie-break (CASE picks the first
    language whose score equals the max)."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[_marker_score(lg).alias(f"s_{lg}") for lg in _LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in _LANG_ORDER])
    pred = F.when(F.col("s_de") == best, "de")
    for lg in _LANG_ORDER[1:-1]:
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    pred = pred.otherwise("zh")
    return scored.select(
        "doc_id",
        "actual_lang",
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


@query(
    "text_quality",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_unique,
         len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
       (CAST(n_unique AS DOUBLE) / n_tokens) * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality_score
FROM t
""",
    category="text",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality scoring with the stopwords 'the' and
    'a'.  Thin adapter over api.quality_score; n_chars is cast to
    BIGINT, the fixture column's type."""
    d = table(spark, sf_dir, "documents")
    return api.quality_score(d, "text", "doc_id").withColumn(
        "n_chars", F.col("n_chars").cast("long")
    )


@query(
    "text_token_count_bpe",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
       CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS n_chars_div4
FROM documents
""",
    category="text",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    segmentation (letters/digits/other runs), and the chars/4 rule of
    thumb used for LLM budget estimates."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
        F.ceil(F.col("n_chars").cast("double") / 4).alias("n_chars_div4"),
    )


_FP_MOD = 1_000_000_007
_FP_BASE = 131


@query(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          t -> CAST(31 * length(t) + ascii(t) AS BIGINT))),
         (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}) AS fingerprint,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(list_sort(list_distinct(string_split(text, ' '))),
                          t -> CAST(31 * length(t) + ascii(t) AS BIGINT))),
         (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}) AS tokenset_fingerprint
FROM documents
""",
    category="text",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprints (mod-prime Rabin-Karp style):
    order-sensitive over the token stream, plus an order-free variant
    over the sorted distinct token set (equal for token-shuffled
    near-dups — a cheap dedup key). Integer arithmetic stays under
    2^63 in both engines."""
    d = table(spark, sf_dir, "documents")

    def tval(t: Column) -> Column:
        return (F.lit(31) * F.length(t) + F.ascii(t)).cast("long")

    def fold(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * _FP_BASE + tval(x)) % _FP_MOD,
        )

    return d.select(
        "doc_id",
        fold(_tokens()).alias("fingerprint"),
        fold(F.array_sort(F.array_distinct(_tokens()))).alias("tokenset_fingerprint"),
    )


_CHUNK = 32  # tokens per chunk — context-budget slicing unit


@query(
    "text_chunk",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST((len(toks) + {_CHUNK} - 1) // {_CHUNK} AS INT) - 1),
           i -> list_slice(toks, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}))) AS chunk,
         generate_subscripts(
           generate_series(0, CAST((len(toks) + {_CHUNK} - 1) // {_CHUNK} AS INT) - 1),
           1) - 1 AS chunk_id
  FROM d
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(chunk) AS INT) AS n_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM c
""",
    category="text",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget document chunking: split every document into
    consecutive 32-token chunks (the pretraining tokenize->chunk
    stage). Array-native — the chunk list is built with one
    transform over a precomputed token array and posexploded; no
    joins, no shuffle, perfectly parallel over input splits. At
    100 TB this is a pure map stage: output rows ~= input tokens /
    32, and downstream stages shuffle on (doc_id, chunk_id) only if
    they need to."""
    d = table(spark, sf_dir, "documents")
    return api.chunk(d, "text", "doc_id", chunk_tokens=_CHUNK)


@query(
    "text_boilerplate_scrub",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST((len(toks) + 1) // 2 AS INT) - 1),
           i -> array_to_string(list_slice(toks, i * 2 + 1, i * 2 + 2), ' ')))
           AS chunk,
         generate_subscripts(
           generate_series(0, CAST((len(toks) + 1) // 2 AS INT) - 1), 1) - 1
           AS chunk_id
  FROM d
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
df AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY chunk
),
flagged AS (
  SELECT c.doc_id, c.chunk_id, c.chunk,
         (df.df * 20 > n.n_docs) AS is_boiler
  FROM c JOIN df USING (chunk) CROSS JOIN n
)
SELECT doc_id,
       CAST(count_if(NOT is_boiler) AS BIGINT) AS n_kept,
       CAST(count_if(is_boiler) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' '
                           ORDER BY chunk_id), '') AS clean_text
FROM flagged
GROUP BY doc_id
""",
    category="text",
)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal — the C4/RefinedWeb-style
    repeated-content scrub: the corpus is cut into non-overlapping
    2-token chunks, a chunk appearing in more than 5% of documents
    (exact integer test df*20 > N — no float threshold) is
    boilerplate, and every document is reassembled in original chunk
    order with the boilerplate dropped. On a real crawl this removes
    nav bars, cookie banners and license headers; on the fixture the
    5% cap flags the corpus's most repeated bigrams (max df ~6%), so
    the removal branch is genuinely exercised.

    Shape: one explode, one (chunk) aggregation for document
    frequency, the bounded boilerplate set broadcasts back onto the
    chunk stream (vocabulary-squared upper bound), one (doc_id)
    aggregation reassembles. The corpus count rides along as a
    broadcast 1-row aggregate — no driver collect. At 100 TB every
    stage is the same partial-aggregated explode/groupBy as tf-idf."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("toks"))
    toks = F.col("toks")
    n_chunks = F.expr("(size(toks) + 1) div 2")
    chunk_arrays = F.transform(
        F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)),
        lambda i: F.slice(toks, i * 2 + 1, 2),
    )
    chunks = d.select(
        "doc_id", F.posexplode(chunk_arrays).alias("chunk_id", "chunk_arr")
    ).select("doc_id", "chunk_id", F.array_join("chunk_arr", " ").alias("chunk"))
    ndocs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df = chunks.groupBy("chunk").agg(F.countDistinct("doc_id").alias("df"))
    bp = (
        df.crossJoin(F.broadcast(ndocs))
        .where(F.col("df") * 20 > F.col("n_docs"))
        .select("chunk")
    )
    flagged = chunks.join(
        F.broadcast(bp.withColumn("is_boiler", F.lit(True))), "chunk", "left"
    ).withColumn("is_boiler", F.coalesce(F.col("is_boiler"), F.lit(False)))
    kept_struct = F.when(
        ~F.col("is_boiler"),
        F.struct(F.col("chunk_id").alias("cid"), F.col("chunk").alias("ck")),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.when(~F.col("is_boiler"), F.lit(1))).alias("n_kept"),
        F.count(F.when(F.col("is_boiler"), F.lit(1))).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["ck"]
            ),
            " ",
        ).alias("clean_text"),
    )


# Deterministic synthetic PII decoration: the fixture corpus is clean
# word salad, so the scrub operator would be a no-op on it; appending
# engine-identical synthetic addresses/IPs/cards exercises the real
# regex path while keeping both engines bit-exact.
_PII_EMAIL = "[a-z0-9]+@[a-z][a-z.]*[a-z]"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_CARD = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH deco AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example from ip 10.0.' ||
         (doc_id % 256) || '.7 card 4111-1111-1111-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PII_CARD}')) AS INT) AS n_cards,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{_PII_CARD}', '<CARD>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
         '{_PII_EMAIL}', '<EMAIL>', 'g') AS scrubbed
FROM deco
""",
    category="text",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email / IPv4 / card-number
    patterns (regex families common to Java regex and RE2, verified
    bit-exact cross-engine). Pure map stage — regexp_replace is
    JVM-side codegen, no Python in the row path; at 100 TB this runs
    at scan speed. Redaction order (card -> ip -> email) is fixed so
    overlapping matches resolve identically everywhere."""
    d = table(spark, sf_dir, "documents")
    deco = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example from ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 card 4111-1111-1111-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return deco.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IP), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_CARD), 0)).alias(
            "n_cards"
        ),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), _PII_CARD, "<CARD>"), _PII_IP, "<IP>"
            ),
            _PII_EMAIL,
            "<EMAIL>",
        ).alias("scrubbed"),
    )


_CONTAM_N = 5  # shingle width (tokens)
_CONTAM_MIN_SHARED = 1  # flag on ANY shared shingle (strict, standard)
_CONTAM_DF_CAP = 50  # stop-shingle cap: drop shingles in > cap train docs


@query(
    "text_contamination",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, len(toks) - {_CONTAM_N - 1}),
             i -> array_to_string(list_slice(toks, i, i + {_CONTAM_N - 1}), ' ')))
           AS shingle
    FROM d
    WHERE len(toks) >= {_CONTAM_N}
  )
),
eval_sh AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
train_sh AS (
  SELECT doc_id AS train_id, shingle FROM sh
  WHERE doc_id % 97 <> 0
    AND shingle IN (
      SELECT shingle FROM sh WHERE doc_id % 97 <> 0
      GROUP BY shingle HAVING COUNT(*) <= {_CONTAM_DF_CAP})
)
SELECT t.train_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM train_sh t JOIN eval_sh e USING (shingle)
GROUP BY t.train_id, e.eval_id
HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}
""",
    category="text",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag training documents that
    share any distinct 5-gram shingle with a held-out eval
    document (strict n-gram contamination, the common LLM eval rule) (eval set = doc_id % 97 == 0, ~1%). The canonical
    pre-release scan every LLM training pipeline runs against its
    eval suites.

    Scale shape: shingles built array-natively (one map stage);
    the train side drops stop-shingles (document frequency > 50)
    BEFORE the equi-join — the same fan-out cap as
    dedup_ngram_jaccard, so one ubiquitous phrase cannot turn the
    shared-shingle join quadratic; the eval side is tiny (~1% of
    corpus) and broadcasts. The cap is part of the operator contract
    (oracle applies it identically)."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("toks"))
    toks = F.col("toks")
    sh_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_CONTAM_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(_CONTAM_N)]
            ),
        )
    )
    sh = (
        d.where(F.size(toks) >= _CONTAM_N)
        .select("doc_id", F.explode(sh_arr).alias("shingle"))
    )
    ev = sh.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    tr = sh.where(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    # Broadcast the (small) STOP list and anti-join — the rare-shingle
    # keep list is almost the whole shingle table and must not move.
    stop = (
        tr.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > _CONTAM_DF_CAP)
        .select("shingle")
    )
    tr = tr.join(F.broadcast(stop), "shingle", "left_anti")
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _CONTAM_MIN_SHARED)
    )


@query(
    "text_bigram_freq",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM d WHERE len(toks) >= 2
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM bg GROUP BY bigram
HAVING COUNT(*) >= 5
""",
    category="text",
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n >= 5) — the n-gram language-model /
    collocation-mining primitive. Bigrams are built array-natively
    from the precomputed token array (no self-join; the relational
    formulation shuffles the token table twice), then one groupBy
    with map-side partial aggregation absorbing Zipfian head skew
    exactly as in text_tokenize."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("toks"))
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return (
        d.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("df"),
        )
        .where(F.col("n") >= 5)
    )


@query("text_perplexity_filter", oracle=None, category="text")
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring + filter — the CCNet-style
    quality gate a pretraining pipeline runs after dedup: score each
    document by how surprising its tokens are under the corpus's own
    unigram distribution, then drop high-perplexity (noisy) docs.
    ppl(doc) = exp(ln N_total - avg_i ln count(tok_i)).

    Rows-only (transcendental ln/exp differ by ulps across engines);
    tests/test_quality.py recomputes the identical statistic in NumPy
    from the raw corpus and asserts 1e-9 relative agreement plus the
    keep-flag contract.

    Plan: ONE tokenize pass — per-occurrence corpus counts come from
    a COUNT window over token (the text_tfidf trick), the corpus
    total is a 1-row broadcast from a column-pruned second scan (size
    of the token array per doc — no explode), and the per-doc rollup
    is the second shuffle. No all-pairs anything; state per group is
    two running sums."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    cnt = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scored = toks.withColumn("ln_cnt", F.log(cnt))
    total = d.agg(
        F.sum(F.size(_tokens())).cast("double").alias("n_total")
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("ln_cnt").alias("sum_ln_cnt"),
        )
        .crossJoin(F.broadcast(total))
    )
    nll = F.log(F.col("n_total")) - F.col("sum_ln_cnt") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        nll.alias("nll"),
        F.exp(nll).alias("ppl"),
        (F.exp(nll) <= F.lit(30.0)).alias("keep"),
    )


@query(
    "text_top_terms",
    oracle="""
WITH tf AS (
  SELECT doc_id, tok AS token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
),
scored AS (
  SELECT doc_id, token, tf,
         COUNT(*) OVER (PARTITION BY token) AS df,
         tf * ((CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) + 1.0)
               / (COUNT(*) OVER (PARTITION BY token) + 1.0)) AS tfidf
  FROM tf
)
SELECT doc_id, token, tf, CAST(df AS BIGINT) AS df, tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
WHERE rnk <= 3
""",
    category="text",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by TF-IDF
    (linear smoothed idf, so scores are exact and the ranking is
    engine-independent; token tie-break totalizes the order).
    Composes the single-pass tfidf kernel with a per-doc rank
    window — corpus tokenized once, then two shuffles (token window,
    doc_id window)."""
    d = table(spark, sf_dir, "documents")
    scored = api.tfidf(d, "text", "doc_id", log_idf=False)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", F.col("df").cast("long").alias("df"), "tfidf", "rnk")
    )


@query("text_bm25", oracle=None, category="text")
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of every document against a fixed
    3-term query — the default ranking function of every full-text
    search engine (k1=1.2, b=0.75): idf(t) * tf*(k1+1) /
    (tf + k1*(1 - b + b*len/avglen)) summed over query terms, with
    the Robertson idf ln((N - df + 0.5)/(df + 0.5) + 1).

    Rows-only (ln is libm); tests/test_quality.py recomputes the
    identical statistic in NumPy to 1e-9 relative. Shape: the tf
    table for the query terms only (filter BEFORE the token-window
    df so only 3 hot keys shuffle), doc lengths from a column-pruned
    scan, corpus stats broadcast as one row — the corpus streams
    once."""
    K1, B = 1.2, 0.75
    terms = ["table", "spark", "hash"]
    d = table(spark, sf_dir, "documents")
    tf = (
        api.term_freq(d, "text", "doc_id")
        .where(F.col("token").isin(*terms))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    lens = d.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " "))).alias("avg_dl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            (
                idf
                * (F.col("tf") * (K1 + 1))
                / (
                    F.col("tf")
                    + K1 * (1 - B + B * F.col("dl") / F.col("avg_dl"))
                )
            ).alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched_terms"),
        F.sum("term_score").alias("bm25"),
    )


@query(
    "text_repetition_filter",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
tri AS (
  SELECT doc_id,
         len(ts) AS n_tokens,
         len(ts) - 2 AS n_trigrams,
         len(list_distinct(list_transform(
             generate_series(1, len(ts) - 2),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS n_uniq_tri,
         len(list_distinct(ts)) AS n_uniq_tok
  FROM toks WHERE len(ts) >= 3
),
toptok AS (
  SELECT doc_id, MAX(c) AS top_tok_n FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       1.0 - CAST(t.n_uniq_tri AS DOUBLE) / t.n_trigrams AS dup_trigram_frac,
       1.0 - CAST(t.n_uniq_tok AS DOUBLE) / t.n_tokens AS dup_token_frac,
       CAST(p.top_tok_n AS DOUBLE) / t.n_tokens AS top_token_share,
       (1.0 - CAST(t.n_uniq_tri AS DOUBLE) / t.n_trigrams) <= 0.30
         AND CAST(p.top_tok_n AS DOUBLE) / t.n_tokens <= 0.20 AS keep
FROM tri t JOIN toptok p ON p.doc_id = t.doc_id
""",
    category="text",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document REPETITION signals — the quality
    family text_quality doesn't cover: duplicate-trigram fraction,
    duplicate-token fraction, and the modal token's share, plus the
    standard keep-rule (dup-trigram <= 0.30 AND top-token <= 0.20).
    Repetition is the strongest single predictor of low-quality /
    machine-generated text in the Gopher ablations; all ratios here
    are exact integer counts with one double division each.

    Shape: pure map stage (per-row array ops for token/trigram
    distincts) plus one (doc, token) hash-agg for the modal token —
    no cross-document traffic at all; embarrassingly parallel at any
    corpus size."""
    d = table(spark, sf_dir, "documents")
    # r13 (guide §1.1): token array BOUND as a projected column before
    # the trigram lambda references it — the inlined split form
    # re-split the document once per trigram element (O(tokens^2)
    # per doc; the dedup_substring_spans lesson, measured ~3x there).
    dt = d.select("doc_id", F.split("text", " ").alias("ts"))
    ts = F.col("ts")
    n_tok = F.size(ts)
    tri = F.transform(
        F.sequence(F.lit(1), n_tok - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ts, i),
            F.element_at(ts, i + 1),
            F.element_at(ts, i + 2),
        ),
    )
    base = dt.where(n_tok >= 3).select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (n_tok - 2).alias("n_trigrams"),
        F.size(F.array_distinct(tri)).alias("n_uniq_tri"),
        F.size(F.array_distinct(ts)).alias("n_uniq_tok"),
    )
    toptok = (
        dt.select("doc_id", F.explode(ts).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_n"))
    )
    dup_tri = 1.0 - F.col("n_uniq_tri").cast("double") / F.col("n_trigrams")
    top_share = F.col("top_tok_n").cast("double") / F.col("n_tokens")
    return base.join(toptok, "doc_id").select(
        "doc_id",
        "n_tokens",
        dup_tri.alias("dup_trigram_frac"),
        (1.0 - F.col("n_uniq_tok").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        top_share.alias("top_token_share"),
        ((dup_tri <= 0.30) & (top_share <= 0.20)).alias("keep"),
    )


@query(
    "text_code_detect",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         length(text) AS n_chars_t,
         length(text) - length(regexp_replace(text, '[{}();=\\[\\]<>]', '', 'g'))
           AS n_sym
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(n_sym AS BIGINT) AS n_code_chars,
         CAST(len(list_filter(toks,
              x -> x IN ('def', 'return', 'if', 'else', 'for', 'while',
                         'class', 'import', 'function', 'var', 'const')))
              AS BIGINT) AS n_keywords,
         CAST(n_chars_t AS BIGINT) AS n_chars_t
  FROM t
)
SELECT doc_id, n_tokens, n_code_chars, n_keywords,
       CAST(n_code_chars AS DOUBLE) / n_chars_t AS sym_ratio,
       CAST(n_keywords AS DOUBLE) / n_tokens AS kw_ratio,
       (CAST(n_code_chars AS DOUBLE) / n_chars_t) >= 0.02
         OR (CAST(n_keywords AS DOUBLE) / n_tokens) >= 0.05 AS looks_like_code
FROM m
""",
    category="text",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-prose detection — the training-mix splitter every LLM
    corpus pipeline runs before applying per-domain quality rules
    (prose heuristics destroy code and vice versa): structural-symbol
    character ratio ({}();=[]<>), programming-keyword token ratio,
    and a disjunctive flag at the standard thresholds. Exact integer
    counts, one double division per ratio — cheap enough to run
    inline with ingest.

    Shape: pure map stage (regex strip + array filter per row), no
    shuffle, embarrassingly parallel at any corpus size."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chars_t = F.length("text")
    n_sym = n_chars_t - F.length(
        F.regexp_replace(F.col("text"), r"[{}();=\[\]<>]", "")
    )
    kw = F.array(
        *[
            F.lit(k)
            for k in (
                "def", "return", "if", "else", "for", "while",
                "class", "import", "function", "var", "const",
            )
        ]
    )
    n_kw = F.size(F.filter(toks, lambda x: F.array_contains(kw, x)))
    m = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_sym.cast("long").alias("n_code_chars"),
        n_kw.cast("long").alias("n_keywords"),
        n_chars_t.cast("long").alias("n_chars_t"),
    )
    sym_ratio = F.col("n_code_chars").cast("double") / F.col("n_chars_t")
    kw_ratio = F.col("n_keywords").cast("double") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        "n_code_chars",
        "n_keywords",
        sym_ratio.alias("sym_ratio"),
        kw_ratio.alias("kw_ratio"),
        ((sym_ratio >= 0.02) | (kw_ratio >= 0.05)).alias("looks_like_code"),
    )


@query(
    "text_pmi_collocations",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, CAST(len(toks) - 1 AS INT)),
           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
),
uni AS (
  SELECT unnest(toks) AS tok FROM t
),
cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM uni),
cb AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM bg GROUP BY bigram
)
SELECT cb.bigram, cb.c_ab, cb.df,
       ca.c AS c_a, cc.c AS c_b,
       CAST(cb.c_ab * n1.n_uni AS DOUBLE) / (ca.c * cc.c) AS lift
FROM cb
JOIN cu ca ON ca.tok = string_split(cb.bigram, ' ')[1]
JOIN cu cc ON cc.tok = string_split(cb.bigram, ' ')[2]
CROSS JOIN n1
WHERE cb.c_ab >= 5
""",
    category="text",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the PMI/lift family behind phrase
    detection (word2vec-style 'new_york' merging) in a pretraining
    tokenizer pipeline: for every bigram seen >= 5 times, the
    association lift p(ab)/(p(a)p(b)) computed as the EXACT integer
    cross-ratio c_ab*N / (c_a*c_b) with ONE final double division —
    no logarithms, so the score is bit-identical across engines
    (take ln for literal PMI offline).  Execution: one bigram
    explode + hash agg, one unigram hash agg, then two
    BROADCAST-able joins of the bigram table against the unigram
    counts (vocab ≪ corpus) — at 100 TB the corpus-sized side
    shuffles once on the bigram key and the stop-gram df cap from
    dedup_ngram_jaccard applies verbatim if the vocab is heavy."""
    d = table(spark, sf_dir, "documents")
    return api.collocations(d, "text", "doc_id", min_count=5)


_FK_SENT_LEN = 15  # pseudo-sentence length (corpus has no punctuation)


@query(
    "text_readability",
    oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words,
         len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables,
         CAST((len(string_split(text, ' ')) + {_FK_SENT_LEN - 1})
              // {_FK_SENT_LEN} AS BIGINT) AS n_sentences
  FROM documents
)
SELECT doc_id, lang,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       n_sentences,
       206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch,
       0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
         + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59 AS fk_grade
FROM s
""",
    category="text",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic readability gates an LLM data pipeline uses to bucket
    prose difficulty (and the curriculum signal pipeline_curriculum
    could consume). Syllables are the standard vowel-group count
    ([aeiouy]+ runs, identical leftmost non-overlapping regex
    semantics in both engines); the fixture corpus has no sentence
    punctuation, so sentences are fixed {_FK_SENT_LEN}-word
    pseudo-sentences (ceil division — documented stand-in, the
    formula shape is the deliverable). Both scores combine exact
    integer counts through one fixed float expression shape, so they
    are bit-reproducible. Pure map stage — zero shuffles."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(_tokens())
    n_syll = F.regexp_count(F.col("text"), F.lit("[aeiouy]+"))
    n_sent = F.expr(f"CAST((size(split(text, ' ')) + {_FK_SENT_LEN - 1}) DIV {_FK_SENT_LEN} AS BIGINT)")
    s = d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        n_sent.alias("n_sentences"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return s.select(
        "doc_id",
        "lang",
        "n_words",
        "n_syllables",
        "n_sentences",
        (F.lit(206.835) - 1.015 * wps - 84.6 * spw).alias("flesch"),
        (0.39 * wps + 11.8 * spw - 15.59).alias("fk_grade"),
    )


@query(
    "text_html_extract",
    oracle="""
WITH wrapped AS (
  SELECT doc_id, lang,
         '<html><body class="c' || CAST(doc_id % 7 AS VARCHAR)
           || '"><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
           || replace(text, ' ', '</p><p>') || '</p><script>var x='
           || CAST(doc_id AS VARCHAR) || ';</script></body></html>'
           AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, lang, html,
         trim(regexp_replace(
           regexp_replace(html, '<script.*?</script>', ' ', 'g'),
           '<[^>]+>', ' ', 'g')) AS flat
  FROM wrapped
)
SELECT doc_id, lang,
       CAST(len(html) AS BIGINT) AS html_chars,
       CAST(len(regexp_extract_all(html, '<[a-zA-Z][^>]*>')) AS BIGINT)
         AS n_open_tags,
       md5(regexp_replace(flat, ' +', ' ', 'g')) AS text_md5,
       CAST(len(regexp_replace(flat, ' +', ' ', 'g')) AS BIGINT)
         AS text_chars
FROM stripped
""",
    category="text",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text extraction — the first stage of every web-corpus
    ingest: documents are wrapped in a deterministic HTML shell
    (attributes, headline, per-token <p> structure, a <script> block
    that MUST be dropped wholly — tag stripping alone would leak
    'var x=…' into the text), then the text is recovered by
    script-block removal -> tag removal -> whitespace normalization,
    all in JVM regexp codegen (non-greedy and global-replace
    semantics agree across engines on this subset). The md5 of the
    recovered text proves exact extraction without shipping the
    strings. Pure map stage, zero shuffles, zero Python — at 100 TB
    this runs at scan speed, which is why the regex subset (no
    backtracking blowups) is part of the contract."""
    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body class="c'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('"><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.regexp_replace(F.col("text"), " ", "</p><p>"),
        F.lit("</p><script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></body></html>"),
    )
    w = d.select("doc_id", "lang", html.alias("html"))
    flat = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("html"), "<script.*?</script>", " "),
            "<[^>]+>",
            " ",
        )
    )
    norm = F.regexp_replace(flat, " +", " ")
    return w.select(
        "doc_id",
        "lang",
        F.length("html").cast("long").alias("html_chars"),
        F.regexp_count(F.col("html"), F.lit("<[a-zA-Z][^>]*>"))
        .cast("long")
        .alias("n_open_tags"),
        F.md5(F.encode(norm, "utf-8")).alias("text_md5"),
        F.length(norm).cast("long").alias("text_chars"),
    )


@query(
    "text_encoding_guard",
    oracle="""
WITH corrupted AS (
  SELECT doc_id, lang,
         CASE doc_id % 5
           WHEN 0 THEN chr(7) || text                 -- control char (BEL)
           WHEN 1 THEN text || chr(65533)             -- U+FFFD replacement
           WHEN 2 THEN substr(text, 1, 10) || chr(8203)
                       || substr(text, 11)            -- zero-width space
           WHEN 3 THEN chr(65279) || text             -- BOM in content
           ELSE text
         END AS t
  FROM documents
),
flagged AS (
  SELECT doc_id, lang, t,
         len(regexp_extract_all(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))
           AS n_control,
         len(regexp_extract_all(t, '\\x{FFFD}')) AS n_replacement,
         len(regexp_extract_all(t, '[\\x{200B}\\x{FEFF}]')) AS n_invisible
  FROM corrupted
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_control + n_replacement + n_invisible > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(n_control) AS BIGINT) AS total_control,
       CAST(SUM(n_replacement) AS BIGINT) AS total_replacement,
       CAST(SUM(n_invisible) AS BIGINT) AS total_invisible
FROM flagged
GROUP BY lang
""",
    category="text",
)
def text_encoding_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-damage triage — the guard every web-scale
    text ingest runs before tokenization: counts of C0 control
    characters (minus tab/newline/CR, which are legitimate), U+FFFD
    replacement characters (the fingerprint of a bad decode), and
    invisible layout characters (zero-width space, in-content BOM —
    the ones that silently split tokens and poison dedup keys).
    Corruption is INJECTED deterministically by doc_id class so the
    oracle knows exactly what each document should flag — the
    detector cannot pass by matching nothing. Single JVM-regexp map
    + one rollup; the character-class regexes use explicit code
    points, identical under Java regex and RE2."""
    d = table(spark, sf_dir, "documents")
    # literal unicode chars (NOT Spark's char(): it wraps code points
    # mod 256, silently turning U+200B into 0x0B — caught live)
    t = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\x07"), F.col("text")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit("\uFFFD")))
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.substring(F.col("text"), 1, 10),
                F.lit("\u200B"),
                F.expr("substring(text, 11)"),
            ),
        )
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("\uFEFF"), F.col("text")))
        .otherwise(F.col("text"))
    )
    c = d.select("doc_id", "lang", t.alias("t"))
    n_control = F.regexp_count(
        F.col("t"), F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    )
    n_repl = F.regexp_count(F.col("t"), F.lit("\\uFFFD"))
    n_invis = F.regexp_count(F.col("t"), F.lit("[\\u200B\\uFEFF]"))
    f = c.select(
        "lang",
        n_control.alias("n_control"),
        n_repl.alias("n_replacement"),
        n_invis.alias("n_invisible"),
    )
    bad = (F.col("n_control") + F.col("n_replacement") + F.col("n_invisible")) > 0
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.sum("n_control").cast("long").alias("total_control"),
        F.sum("n_replacement").cast("long").alias("total_replacement"),
        F.sum("n_invisible").cast("long").alias("total_invisible"),
    )


@query(
    "text_hapax_ratio",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY lang, tok
)
SELECT lang,
       CAST(SUM(f) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dis_legomena,
       CAST(COUNT(*) * 10000 // SUM(f) AS BIGINT) AS type_token_bp,
       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS hapax_type_bp
FROM freq GROUP BY lang
""",
    category="text",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per language — hapax legomena
    (once-only tokens) and dis legomena shares plus the type-token
    ratio, the lexical-diversity screens corpus linguists and data
    curators read before training (a synthetic or templated corpus
    shows an unnaturally LOW hapax share; scraped boilerplate shows
    a low type-token ratio): per-(lang, token) frequencies from one
    explode + hash-agg, every readout an exact integer count or
    floor-division basis points.  Scale: the (lang, token) grid is
    vocabulary-bounded — it saturates while tokens grow, the same
    value-domain argument as the cents grids."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freq = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    return freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dis_legomena"),
        F.expr("CAST(COUNT(*) * 10000 DIV SUM(f) AS BIGINT)").alias(
            "type_token_bp"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("hapax_type_bp"),
    )


_RAKE_N_STOPS = 2  # corpus-derived delimiter budget
_RAKE_MIN_FREQ = 3


@query(
    "text_rake_keywords",
    oracle=f"""
WITH stopw AS (
  SELECT tok FROM (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
    GROUP BY tok
  ) c ORDER BY n DESC, tok LIMIT {_RAKE_N_STOPS}
),
tk AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
m AS (
  SELECT doc_id, pos, tok,
         CASE WHEN tok IN (SELECT tok FROM stopw) THEN 1 ELSE 0 END
           AS is_stop
  FROM tk
),
ph AS (
  SELECT doc_id, pos, tok, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS phrase_id
  FROM m
),
pl AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM ph WHERE is_stop = 0 GROUP BY doc_id, phrase_id
),
wo AS (
  SELECT p.tok, pl.plen
  FROM ph p JOIN pl ON p.doc_id = pl.doc_id AND p.phrase_id = pl.phrase_id
  WHERE p.is_stop = 0
)
SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(SUM(plen) AS BIGINT) AS degree,
       CAST(SUM(plen) * 1000000 // COUNT(*) AS BIGINT) AS rake_ppm
FROM wo GROUP BY tok
HAVING COUNT(*) >= {_RAKE_MIN_FREQ}
""",
    category="text",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010) — the classic
    unsupervised keyword extractor: text splits into candidate
    phrases at delimiter words, every non-delimiter occurrence
    contributes its PHRASE LENGTH to the word's degree (within-phrase
    co-occurrence incl. self), and score = degree/freq favors words
    living in long phrases. The delimiter set is CORPUS-DERIVED (the
    top-2 most frequent tokens, ties lexicographic — on real corpora
    that is 'the'/'and'; deriving it keeps the query a pure function
    of the data, no hand list to desync the twins), and the score
    ships as the exact integer degree*1e6 // freq (both engines'
    floor division agrees on positives — the _DENSITY_SQL lesson).
    Scale shape: delimiter discovery is one token-domain-bounded
    aggregation (TakeOrdered top-2, broadcast back); phrase ids come
    from a running sum KEY-PARTITIONED on doc_id; the phrase-length
    fan-back join is key-partitioned on (doc_id, phrase_id); the
    final rollup lands on the bounded vocabulary domain."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    stopw = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_RAKE_N_STOPS)
        .select("tok", F.lit(1).alias("is_stop"))
    )
    m = toks.join(F.broadcast(stopw), "tok", "left").select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.col("is_stop"), F.lit(0)).alias("is_stop"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = m.select(
        "doc_id",
        "pos",
        "tok",
        "is_stop",
        F.sum("is_stop").over(w).alias("phrase_id"),
    )
    body = ph.where(F.col("is_stop") == 0)
    pl = body.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    wo = body.join(pl, ["doc_id", "phrase_id"]).select("tok", "plen")
    return (
        wo.groupBy(F.col("tok").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
        .where(F.col("freq") >= _RAKE_MIN_FREQ)
        .select(
            "word",
            "freq",
            "degree",
            F.expr("degree * 1000000 DIV freq").cast("long").alias("rake_ppm"),
        )
    )


@query(
    "text_kneser_ney",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i])) AS v,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i + 1])) AS w
  FROM d WHERE len(toks) >= 2
),
c AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw FROM bg GROUP BY v, w),
cv AS (SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v,
              CAST(COUNT(*) AS BIGINT) AS n1_fwd
       FROM c GROUP BY v),
cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1_back FROM c GROUP BY w),
b AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM c)
SELECT c.v, c.w, c.c_vw, cv.c_v, cv.n1_fwd, cw.n1_back, b.bt,
       CAST(b.bt * (4 * c.c_vw - 3) + 3 * cv.n1_fwd * cw.n1_back
            AS BIGINT) AS p4_num,
       CAST(4 * cv.c_v * b.bt AS BIGINT) AS d4_den,
       CAST(b.bt * (4 * c.c_vw - 3) + 3 * cv.n1_fwd * cw.n1_back AS DOUBLE)
         / (4 * cv.c_v * b.bt) AS p_kn
FROM c JOIN cv ON cv.v = c.v JOIN cw ON cw.w = c.w CROSS JOIN b
""",
    category="text",
)
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (d = 0.75) — the
    n-gram LM smoothing that defined pre-neural language modeling and
    still powers fast contamination/novelty scoring: p(w|v) =
    (c(v,w)-d)+/c(v) + d*N1+(v.)/c(v) * N1+(.w)/N1+(..). The
    absolute discount 3/4 is cleared by 4x scaling so the whole
    probability ships as the exact integer pair p4_num =
    B*(4c-3) + 3*N1fwd*N1back over d4_den = 4*c(v)*B (observed
    bigrams always have c >= 1, so the (.)+ never clips) — the ONE
    double division is display-only, and the defining property
    sum_w p(w|v) = 1 over the full vocab (unseen words get the pure
    continuation backoff) is replayed exactly in the tests with
    Fraction arithmetic. Scale shape: one corpus explode to bigrams,
    then every aggregate lands on the bounded vocabulary / bigram-
    type domain; the three context tables broadcast back.

    r13 (guide §2.4): the bigram-TYPE count table c is consumed four
    times (cv, cw, the type total, and the join spine); without a
    materialization each consumer re-ran the whole corpus scan →
    explode → groupBy subtree (Exchange reuse does not survive the
    broadcast sides).  c is bounded by the bigram-type domain — the
    vocabulary-bounded table the docstring already argues — so it is
    localCheckpoint'ed once, inside the timed region.  r14 A/B (this
    edit shipped unverified in r13): 0.68 s with vs 1.06 s without,
    isolated 32c medians — kept."""
    d = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    ).where(F.size("toks") >= 2)
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS v,"
                " element_at(toks, i + 1) AS w))"
            )
        ).alias("p")
    ).select("p.v", "p.w")
    c = lifecycle.checkpoint(
        bg.groupBy("v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_vw"))
    )
    cv = c.groupBy("v").agg(
        F.sum("c_vw").cast("long").alias("c_v"),
        F.count(F.lit(1)).cast("long").alias("n1_fwd"),
    )
    cw = c.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1_back"))
    b = c.agg(F.count(F.lit(1)).cast("long").alias("bt"))
    j = (
        c.join(F.broadcast(cv), "v")
        .join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(b))
    )
    p4 = F.col("bt") * (4 * F.col("c_vw") - 3) + 3 * F.col("n1_fwd") * F.col(
        "n1_back"
    )
    d4 = 4 * F.col("c_v") * F.col("bt")
    return j.select(
        "v",
        "w",
        "c_vw",
        "c_v",
        "n1_fwd",
        "n1_back",
        "bt",
        p4.cast("long").alias("p4_num"),
        d4.cast("long").alias("d4_den"),
        (p4.cast("double") / d4).alias("p_kn"),
    )


# ------------------------------------------------------------------ #
# r10 wave 7: corpus-linguistics tier — Heaps' law, Zipf rank table,
# KWIC concordance
# ------------------------------------------------------------------ #


@query(
    "text_heaps_law",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
),
firsts AS (
  SELECT tk, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY tk
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM tok GROUP BY doc_id
),
dom AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs FROM documents),
deciles AS (
  SELECT UNNEST(generate_series(1, 10)) AS decile
),
cuts AS (
  SELECT d.decile,
         (d.decile * dom.n_docs) // 10 - 1 AS cut_doc
  FROM deciles d CROSS JOIN dom
)
SELECT c.decile, c.cut_doc,
       (SELECT CAST(SUM(n_toks) AS BIGINT) FROM counts
        WHERE doc_id <= c.cut_doc) AS n_tokens_cum,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
        WHERE first_doc <= c.cut_doc) AS vocab_cum
FROM cuts c
""",
    category="text",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — V(n) vs N(n) after each
    decile of the corpus (docs in doc_id order): the diagnostic that
    tells a tokenizer/dedup pipeline whether vocabulary is still
    growing (natural text: V ~ K*N^b, b in 0.4-0.6) or the corpus
    has saturated (templated/duplicated content flattens the curve).
    Both curves are exact integers: each token type is reduced to
    its FIRST document (one hash-agg over the exploded corpus — the
    only data-proportional shuffle), and every decile checkpoint is
    then a count over that bounded first-occurrence table, NOT a
    rescan — the corpus is exploded exactly once at any scale."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tk")
    )
    firsts = tok.groupBy("tk").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    counts = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    n_docs = d.agg((F.max("doc_id") + 1).cast("long").alias("n")).collect()[
        0
    ]["n"]
    cuts = spark.range(1, 11).select(
        F.col("id").alias("decile"),
        # integer floor division (DIV), matching the oracle's `//` —
        # float `/` + cast truncates toward zero, which diverges on
        # corpora of <10 docs (cut_doc 0 vs -1) [ADVICE r10]
        F.expr(f"(id * {n_docs}) DIV 10 - 1").cast("long").alias("cut_doc"),
    )
    tok_cum = (
        cuts.join(counts, counts["doc_id"] <= cuts["cut_doc"], "left")
        .groupBy("decile", "cut_doc")
        .agg(F.sum("n_toks").cast("long").alias("n_tokens_cum"))
    )
    voc_cum = (
        cuts.join(
            firsts, firsts["first_doc"] <= cuts["cut_doc"], "left"
        )
        .groupBy("decile")
        .agg(F.count("tk").cast("long").alias("vocab_cum"))
    )
    return tok_cum.join(voc_cum, "decile").select(
        "decile", "cut_doc", "n_tokens_cum", "vocab_cum"
    )


@query(
    "text_zipf_rank",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tk FROM documents
),
tf AS (
  SELECT tk, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tk
),
ranked AS (
  SELECT tk, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, tk) AS BIGINT) AS rnk
  FROM tf
),
top1 AS (SELECT MAX(freq) AS f1 FROM tf)
SELECT rnk, tk, freq,
       rnk * freq AS rank_freq_product,
       CAST(freq AS DOUBLE) / (SELECT f1 FROM top1) AS freq_ratio
FROM ranked WHERE rnk <= 20
""",
    category="text",
)
def text_zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency table — the top-20 terms with their
    rank x frequency product (Zipf's law predicts it near-constant:
    f_r ~ f_1/r) and the frequency ratio to the top term.  The
    corpus-wide term-frequency aggregate is the one shuffle; the
    top-20 cut is a bounded window with a deterministic (freq DESC,
    term) tie-break, and the product/ratio columns are exact integer
    / one-division outputs.  The report a corpus card
    (pipeline_dataset_card) embeds to show vocabulary shape."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tk"))
    ranked = tf.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).where(F.col("rnk") <= 20)
    top1 = tf.agg(F.max("freq").alias("f1"))
    return ranked.crossJoin(F.broadcast(top1)).select(
        "rnk",
        "tk",
        "freq",
        (F.col("rnk") * F.col("freq")).alias("rank_freq_product"),
        (F.col("freq").cast("double") / F.col("f1")).alias("freq_ratio"),
    )


_KWIC_TERM = "spark"


@query(
    "text_kwic",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks,
         unnest(toks) AS tk,
         generate_subscripts(toks, 1) AS p
  FROM t
)
SELECT doc_id, CAST(p AS BIGINT) AS pos,
       COALESCE(array_to_string(
         list_slice(toks, GREATEST(p - 3, 1), p - 1), ' '), '')
         AS left_ctx,
       COALESCE(array_to_string(
         list_slice(toks, p + 1, LEAST(p + 3, len(toks))), ' '), '')
         AS right_ctx
FROM pos WHERE tk = '{_KWIC_TERM}'
""",
    category="text",
)
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance — the corpus-linguistics
    view every annotation/QA tool renders: every occurrence of the
    keyword with 3 tokens of left and right context, addressed by
    (doc, position).  One posexplode (the only fanout — positions
    per doc), a predicate on the keyword that prunes before any
    string assembly, and per-row array slicing for the context
    windows; exact strings end-to-end.  At 100 TB the keyword
    predicate makes this scan-bound — context assembly only runs on
    the matching positions."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pos = t.select(
        "doc_id",
        "toks",
        F.posexplode("toks").alias("p0", "tk"),
    ).where(F.col("tk") == _KWIC_TERM)
    p = F.col("p0") + 1  # 1-based position
    return pos.select(
        "doc_id",
        p.cast("long").alias("pos"),
        F.array_join(
            F.slice(
                "toks",
                F.greatest(p - 3, F.lit(1)),
                F.greatest(p - F.greatest(p - 3, F.lit(1)), F.lit(0)),
            ),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.slice(
                "toks",
                p + 1,
                F.greatest(
                    F.least(p + 3, F.size("toks")) - p, F.lit(0)
                ),
            ),
            " ",
        ).alias("right_ctx"),
    )


@query(
    "text_burstiness",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM d),
tok AS (
  SELECT doc_id, unnest(toks) AS token FROM d
),
per_doc AS (
  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS k
  FROM tok GROUP BY token, doc_id
),
agg AS (
  SELECT token, CAST(SUM(k) AS BIGINT) AS tot,
         CAST(SUM(k * k) AS BIGINT) AS sumsq,
         CAST(COUNT(*) AS BIGINT) AS df
  FROM per_doc GROUP BY token
)
SELECT token, tot, sumsq, df, ndocs.nd AS n_docs,
       (CAST(sumsq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / ndocs.nd)
         / (ndocs.nd - 1)
         / (CAST(tot AS DOUBLE) / ndocs.nd) AS vmr
FROM agg CROSS JOIN ndocs
""",
    category="text",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church-Gale variance-to-mean ratio) — the
    corpus statistic separating bursty content words (a word that
    appears once in a doc tends to appear again) from evenly-spread
    function words; VMR = 1 is the Poisson baseline, the quantity
    deduplication and topicality heuristics key off. Per-doc counts
    include the zero-count docs ANALYTICALLY (zeros contribute
    nothing to sum or sumsq, so sum over present docs + the exact
    total doc count give the full-population moments), every sum is
    an exact BIGINT, and VMR is one fixed-order double chain. Scale:
    one corpus explode, a (token, doc) rollup, then a
    vocabulary-domain-bounded aggregate with the 1-row doc-count
    broadcast."""
    docs = table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    per_doc = tok.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    agg = per_doc.groupBy("token").agg(
        F.sum("k").cast("long").alias("tot"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sumsq"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    j = agg.crossJoin(F.broadcast(nd))
    totd = F.col("tot").cast("double")
    return j.select(
        "token",
        "tot",
        "sumsq",
        "df",
        F.col("nd").alias("n_docs"),
        (
            (F.col("sumsq").cast("double") - totd * F.col("tot") / F.col("nd"))
            / (F.col("nd") - 1)
            / (totd / F.col("nd"))
        ).alias("vmr"),
    )

@query(
    "text_yule_k",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS m
  FROM tok GROUP BY lang, token
),
fof AS (
  SELECT lang, m, CAST(COUNT(*) AS BIGINT) AS vm
  FROM tf GROUP BY lang, m
),
agg AS (
  SELECT lang,
         CAST(SUM(m * vm) AS BIGINT) AS n_tokens,
         CAST(SUM(vm) AS BIGINT) AS n_types,
         CAST(SUM(m * m * vm) AS BIGINT) AS s2
  FROM fof GROUP BY lang
)
SELECT lang, n_tokens, n_types,
       CAST(10000 * (s2 - n_tokens) AS BIGINT) AS k_num,
       CAST(n_tokens * n_tokens AS BIGINT) AS k_den,
       CAST(10000 * (s2 - n_tokens) AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * n_tokens) AS yule_k
FROM agg
""",
    category="text",
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language — the classic lexical-
    diversity constant (author-attribution era) that, unlike TTR or
    hapax ratio (text_hapax_ratio), is length-invariant: K = 10^4 *
    (sum_m m^2*V_m - N) / N^2 over the frequency-of-frequencies
    spectrum V_m (how many types occur exactly m times). Every
    quantity is an exact BIGINT off two nested rollups (type
    frequencies, then the frequency spectrum), K ships as an exact
    num/den pair with the double display-only. Scale: one corpus
    explode, then everything lands on the bounded (lang, frequency)
    spectrum domain."""
    tok = table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    fof = tf.groupBy("lang", "m").agg(
        F.count(F.lit(1)).cast("long").alias("vm")
    )
    agg = fof.groupBy("lang").agg(
        F.sum(F.col("m") * F.col("vm")).cast("long").alias("n_tokens"),
        F.sum("vm").cast("long").alias("n_types"),
        F.sum(F.col("m") * F.col("m") * F.col("vm"))
        .cast("long")
        .alias("s2"),
    )
    k_num = 10000 * (F.col("s2") - F.col("n_tokens"))
    return agg.select(
        "lang",
        "n_tokens",
        "n_types",
        k_num.cast("long").alias("k_num"),
        (F.col("n_tokens") * F.col("n_tokens")).cast("long").alias("k_den"),
        (
            k_num.cast("double")
            / (F.col("n_tokens").cast("double") * F.col("n_tokens"))
        ).alias("yule_k"),
    )


# ------------------------------------------------------------------ #
# PMI collocation mining (r11 wave 1)
# ------------------------------------------------------------------ #

_PMI_MIN_PAIR = 5  # minimum bigram frequency
_PMI_TOP = 30


@query(
    "pipeline_pmi_collocations",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT unnest(toks) AS w FROM tok
),
uc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w
),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
bi AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, UNNEST(range(1, greatest(len(toks), 1))) AS t(i)
  WHERE len(toks) >= 2
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM bi GROUP BY w1, w2
),
nb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bc),
scored AS (
  SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
         CAST(b.c_xy * nt.n_tok * nt.n_tok AS DOUBLE)
           / (nb.n_bi * u1.c * u2.c) AS pmi_ratio
  FROM bc b
  JOIN uc u1 ON u1.w = b.w1
  JOIN uc u2 ON u2.w = b.w2
  CROSS JOIN nt CROSS JOIN nb
  WHERE b.c_xy >= {_PMI_MIN_PAIR}
)
SELECT w1, w2, c_xy, c_x, c_y, pmi_ratio
FROM scored
ORDER BY pmi_ratio DESC, w1, w2
LIMIT {_PMI_TOP}
""",
    category="text",
)
def pipeline_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — the pointwise-mutual-information
    ratio p(xy)/(p(x)p(y)) per adjacent bigram, the classic
    phrase-detection signal a tokenizer-training pipeline uses to
    promote multi-word units (Mikolov et al.'s phrase pass).  The
    ratio is emitted as ONE division of exact integers (c_xy *
    N_tok^2 as numerator lattice, N_bi * c_x * c_y as denominator —
    both < 2^63 through sf0.1) and the top-30 ranking orders by
    that double (bit-identical cross-engine because division of
    identical exact operands is correctly rounded in both) with the
    word pair as total-order tiebreak.

    Execution shape: one token explode feeding both the unigram
    groupBy and the position-paired bigram groupBy (two hash aggs);
    the corpus totals are SUMs over those vocabulary-bounded count
    tables, so the corpus is scanned exactly twice (once per gram
    order), with two broadcast-joined count lookups and one bounded
    top-k.  At 100 TB: explode + two partial-agg shuffles over the
    vocabulary, never doc x doc."""
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    uni = toks.select(F.explode("toks").alias("w"))
    # the count tables are vocabulary-bounded: checkpoint them so
    # their three consumers each (two lookup joins + the total) reuse
    # the materialized rows instead of re-deriving the corpus explode
    # — the corpus is scanned exactly twice (once per gram order)
    uc = lifecycle.checkpoint(
        uni.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tok = uc.agg(F.sum("c").cast("long").alias("n_tok"))
    bi = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = lifecycle.checkpoint(
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    n_bi = bc.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    return (
        bc.where(F.col("c_xy") >= _PMI_MIN_PAIR)
        .join(F.broadcast(uc.selectExpr("w AS w1", "c AS c_x")), "w1")
        .join(F.broadcast(uc.selectExpr("w AS w2", "c AS c_y")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("n_tok") * F.col("n_tok")).cast(
                    "double"
                )
                / (F.col("n_bi") * F.col("c_x") * F.col("c_y"))
            ).alias("pmi_ratio"),
        )
        .orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )
