"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.10): exact text, canonical token-set, MinHash-LSH,
SimHash, n-gram Jaccard.

Scale ladder (how each behaves at 100 TB):
- exact / token-set / fingerprint dedup: one shuffle on the dedup
  key (hash-groupBy) — embarrassingly scalable.
- n-gram Jaccard: candidate pairs via shared-gram equi-join; the
  gram key is the shuffle key and stop-gram skew is the risk —
  frequent grams are dropped (document-frequency cap) exactly like
  stop-words in production MinHash pipelines.
- MinHash-LSH / SimHash: signatures are fixed-width per doc (O(1)
  state), candidate generation is a band-bucket equi-join — the
  standard sub-quadratic near-dup path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import api
from ..api_lsh import (
    _minhash_token_pairs,
    _shingle_rows,
    lsh_candidates,
    lsh_cells,
    minhash_band_keys,
    pair_overlap,
)
from ..io import spread_table, table
from ..registry import query

def _tokens():
    # lazy: building a Column requires an active SparkContext
    return F.split(F.col("text"), " ")

# Canonical order-free dedup key: sorted distinct token set.
def _tokenset_key():
    return F.array_join(F.array_sort(F.array_distinct(_tokens())), " ")


_SQL_TOKENSET_KEY = (
    "array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')"
)


@query(
    "dedup_exact_text",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
""",
    category="dedup",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-text dedup keeping the lowest doc_id per text —
    deterministic window variant (dropDuplicates keeps an arbitrary
    row under parallelism). One shuffle on hash(text); at scale the
    key would be md5(text) to shrink shuffle width."""
    d = table(spark, sf_dir, "documents")
    return api.dedup_exact(d, ["text"], "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "dedup_tokenset",
    oracle=f"""
SELECT {_SQL_TOKENSET_KEY} AS cluster_key,
       COUNT(*) AS cluster_size,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY cluster_key
HAVING COUNT(*) > 1
""",
    category="dedup",
)
def dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set near-dup clusters: docs that are token-order
    shuffles / repetition variants of each other share a canonical
    sorted-distinct-token key (catches the fixtures' 25 clusters).
    Keep-one policy = min doc_id per cluster."""
    d = table(spark, sf_dir, "documents")
    return api.keyed_clusters(d, _tokenset_key(), "doc_id", min_size=2)


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token-trigrams per doc, built ARRAY-NATIVELY in one
    projection (element_at over the token array) — zero joins, zero
    shuffles; the relational 3-way self-join formulation shuffles the
    token table three times. The token array is materialized as a
    column FIRST: referencing the split() expression inside the
    transform lambda would re-split the text for every element_at
    (O(tokens^2) per doc).

    The gram table feeds FOUR consumers inside one query (doc sizes,
    gram df, both pair-join sides), so it is persisted — but built
    and registered PER CALL with the kernel-persist registry
    (released between bench queries, like every other kernel
    intermediate), not memoized at module level keyed on sf_dir:
    a cross-query module cache would let later queries skip the
    corpus explode entirely, which the bench protocol counts as
    result caching, not optimization.  Runs 2-3 of the SAME query
    still reuse run 1's blocks via CacheManager canonicalized-plan
    matching, the documented bench policy.  (At 100 TB:
    MEMORY_AND_DISK, or a checkpointed table shared by the whole
    dedup stage.)"""
    from .windows import _register_persist

    d = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("toks")
    )
    toks = F.col("toks")
    n_toks = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(1), n_toks - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    grams_arr = F.when(n_toks >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )
    return _register_persist(
        d.select("doc_id", F.explode(grams_arr).alias("gram")).persist()
    )


def _gram_pair_counts(grams: DataFrame, df_cap: int) -> DataFrame:
    """Shared-gram candidate pair counts (doc_a < doc_b, n_common)
    with the stop-gram df-cap applied to the pair join — the common
    candidate stage of dedup_ngram_jaccard / dedup_containment /
    dedup_threshold_sweep.

    r13 (guide §3.1/§3.3, measured with tools/opt_measure.py):
    Catalyst picked a BROADCAST join for the gram self-join (the
    capped gram table fits the 64 MB threshold at bench scale),
    which (a) re-planned the anti-join + hot-gram aggregation
    subtree on BOTH sides — no Exchange reuse under a
    BroadcastExchange — and (b) serialized the corpus-wide gram
    table into a driver-built HashedRelation; measured 3x slower
    than a shuffled-hash join, and at 100 TB a corpus-sized
    broadcast is impossible outright.  `kept` is localCheckpoint'ed
    (recomputed per run, inside the timed region) so both join sides
    read ONE materialization, and the explicit SHUFFLE_HASH hint
    keeps the join a hash-partitioned equi-join with no driver-side
    build and no sort: 2.5 s -> 0.8 s for the pair stage in
    isolation at sf0.1."""
    hot_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("gram")
    )
    kept = grams.join(
        F.broadcast(hot_grams), "gram", "left_anti"
    ).localCheckpoint(eager=True)
    g1, g2 = kept.alias("g1"), kept.hint("shuffle_hash").alias("g2")
    return (
        g1.join(
            g2,
            (F.col("g1.gram") == F.col("g2.gram"))
            & (F.col("g1.doc_id") < F.col("g2.doc_id")),
        )
        .groupBy(
            F.col("g1.doc_id").alias("doc_a"), F.col("g2.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


# Jaccard-pair SQL shared by the pair query's oracle and the
# connected-components oracle below (which closes over these pairs).
_SQL_JACCARD_PAIRS = """
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT g1.doc_id AS doc_a, g2.doc_id AS doc_b, COUNT(*) AS n_common
  FROM grams g1 JOIN grams g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
  GROUP BY doc_a, doc_b
),
jpairs AS (
  SELECT doc_a, doc_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
)
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SQL_JACCARD_PAIRS}
SELECT doc_a, doc_b, jaccard FROM jpairs
""",
    category="dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-trigram Jaccard near-dup pairs (>= 0.5).

    Candidate pairs come from a shared-gram equi-join (only pairs
    with >= 1 common trigram are ever materialized — never the n^2
    cross product). Jaccard = |∩| / (|A|+|B|-|∩|) in exact integer
    arithmetic.

    Stop-gram document-frequency cap: a gram appearing in df docs
    contributes df*(df-1)/2 join pairs, so ONE corpus-scale
    stop-gram quadratically explodes the equi-join. Grams with
    df > _NGRAM_DF_CAP are dropped from the PAIR join (hot grams
    are few by definition -> broadcast anti-join; set sizes stay
    exact, so jaccard is only ever underestimated for pairs whose
    overlap rides a stop-gram — the standard stop-word trade-off).
    The cap (default 1000, env SPARK_GRAFT_NGRAM_DF_CAP) is ~40x
    the fixtures' max df of 25, so graded results are unchanged;
    per-gram fan-out is bounded at cap^2/2 regardless of corpus
    size. The MinHash variant below replaces the exact
    intersection entirely."""
    import os

    df_cap = int(os.environ.get("SPARK_GRAFT_NGRAM_DF_CAP", "1000"))
    grams = _grams(spark, sf_dir)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # stop-gram cap + candidate pair stage: see _gram_pair_counts
    inter = _gram_pair_counts(grams, df_cap)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


@query("dedup_simhash", oracle=None, category="dedup")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over the distinct token set, computed entirely
    JVM-side: per-token xxhash64 -> per-bit +/-1 votes -> sign
    reassembly. Token-shuffle near-dups hash identically (order-free
    token set), lightly edited docs land at small Hamming distance.

    No DuckDB xxhash64 -> rows-only; unit tests assert (a) cluster
    members share a simhash, (b) stability across runs. At scale:
    one explode + one groupBy(doc_id) shuffle.

    Shape notes (this replaced a 64-column +/-1 vote aggregate that
    benchmarked 5-6x slower — the cost was Catalyst re-optimizing a
    64-term nested when() projection every run, not execution):
    - The set-bit COUNTS for 4 bit positions pack into one long as
      16-bit lanes — 17 aggregate columns (16 lane sums + the
      distinct-token count n_tok) instead of 64, so the shuffle/agg
      buffer is 4x narrower too.
    - Reassembly is ONE higher-order aggregate() over sequence(0,63)
      reading the lanes array — a single expression node, so the
      optimizer cost stays flat. shiftleft(1L, 63) lands the sign
      bit with correct two's-complement semantics.
    - Majority rule "2*cnt > n_tok" is algebraically identical to
      the old "sum(+/-1) > 0" (votes = 2*cnt - n): simhash values
      are bit-identical. Lane arithmetic caps distinct tokens per
      doc at 32767 (top 16-bit field times n must stay under 2^63)
      — far beyond any natural-language document."""
    d = table(spark, sf_dir, "documents")
    tok_hash = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    # lane j accumulates set-bit counts for bit positions 4j..4j+3,
    # one count per 16-bit field of a single long; each lane is ONE
    # F.expr SQL string — the 64-term Column-by-Column build cost
    # ~0.8 s of py4j round trips per construction (r8 audit, the
    # multimodal_audio_rms lesson). Identical expression.
    lanes = [
        F.expr(
            "SUM("
            + " + ".join(
                f"(shiftrightunsigned(h, {4 * j + k}) & 1)"
                f" * CAST({1 << (16 * k)} AS BIGINT)"
                for k in range(4)
            )
            + ")"
        ).alias(f"lane{j}")
        for j in range(16)
    ]
    votes = tok_hash.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"), *lanes
    )
    packed = votes.select(
        "doc_id",
        "n_tok",
        F.array(*[f"lane{j}" for j in range(16)]).alias("lanes"),
    )
    sim = F.expr(
        """
aggregate(sequence(0, 63), 0L, (acc, b) -> acc + IF(
  ((lanes[CAST(b / 4 AS INT)] >> (16 * (b % 4))) & 65535) * 2 > n_tok,
  shiftleft(1L, b), 0L))
"""
    )
    return packed.select("doc_id", sim.alias("simhash"))


@query("dedup_minhash", oracle=None, category="dedup")
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (Jaccard >= 0.9) via pyspark.ml
    MinHashLSH over binarized HashingTF token vectors — the
    sub-quadratic scale path for dedup_ngram_jaccard/tokenset.
    Candidate generation is the approximate part; the emitted
    jaccard is MLlib keyDistance's complement = exact Jaccard on the
    feature vectors (modulo HashingTF feature collisions), and the
    pairs equal approxSimilarityJoin's (api.minhash_pairs).

    Sketch internals are engine-specific -> rows-only; the unit test
    cross-checks recall against exact token-set clusters. Seeded for
    determinism across runs."""
    d = table(spark, sf_dir, "documents")
    return api.minhash_pairs(
        d, "text", "doc_id", threshold=0.9, num_tables=8, seed=42
    ).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "jaccard",
    )


# Wide-vocab synthetic corpus parameters (dedup_minhash_widevocab):
# every doc gets _WV_LEN tokens; docs in the same 4-doc cluster share
# a hash-derived base vocabulary drawn from _WV_VOCAB words, with
# every 10th position mutated to a doc-unique token (within-cluster
# Jaccard ~ 0.67, cross-cluster ~ 0.001).
_WV_LEN = 60
_WV_VOCAB = 50_000
_WV_CLUSTER = 4


def _widevocab_tokens() -> Column:
    """Deterministic wide-vocab token array for a doc_id column —
    pure JVM expressions (sequence/transform/xxhash64), no RNG, no
    Python, so the synthetic corpus is a zero-cost map stage."""
    cluster = F.expr(f"doc_id div {_WV_CLUSTER}")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(_WV_LEN - 1)),
            lambda j: F.when(
                (j + F.col("doc_id")) % 10 != 0,
                F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(F.concat_ws("_", cluster, j)), F.lit(_WV_VOCAB)
                    ).cast("string"),
                ),
            ).otherwise(F.concat_ws("_", F.lit("u"), F.col("doc_id"), j)),
        )
    )


@query("dedup_minhash_widevocab", oracle=None, category="dedup")
def dedup_minhash_widevocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection on a realistic-vocabulary
    corpus — the bench-viable demonstration that the banding path is
    sub-quadratic. The fixture documents draw from a 31-word
    vocabulary where EVERY doc pair is a MinHash candidate (that
    adversarial case keeps plain dedup_minhash out of the bench
    suite, BASELINE.md); this variant derives a deterministic
    wide-vocab corpus from the same doc_ids (50k-word vocabulary,
    planted 4-doc near-dup clusters at Jaccard ~0.67) so candidate
    volume stays ~1% of n^2 while planted pairs are recovered.

    Rows-only (sketch internals are engine-specific); the property
    test asserts recall >= 0.9 and precision >= 0.95 on the planted
    clusters AND re-derives the banding self-join to bound candidate
    pairs << n^2. Seeded for determinism. At 100 TB this is the
    dedup path you actually run: fit samples hash coefficients only,
    candidate generation is one explode + equi-join on (table,
    hash), and verify touches candidates, never all pairs.

    Approximation lives ONLY in candidate generation (a true pair
    must collide in >=1 of 8 tables: P = 1-(1-J)^8 ~ 0.9996 at the
    planted J=2/3); the verify Jaccard is EXACT over the HashingTF
    bucket index sets (= MLlib keyDistance), so the <0.5-distance
    filter is an exact verify, not a sketch estimate."""
    # r14 (guide §2.5): the synthetic-token transform + HashingTF run
    # before any Exchange — on the fixture's single-row-group file
    # that whole pipeline was ONE task; spread_table parallelizes it
    # (piece-profiled: feats checkpoint 0.98 -> 0.60 s, bucket join
    # 1.40 -> 0.92 s; layout-guarded no-op at scale).
    d = spread_table(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", _widevocab_tokens().alias("toks")
    )
    # the api.minhash_pairs path (= MLlib approxSimilarityJoin, id-only
    # candidate shuffle, candidate-bounded bucket verify)
    return _minhash_token_pairs(
        d, threshold=0.5, num_tables=8, num_features=1 << 18, seed=42
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


@query(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE {_SQL_JACCARD_PAIRS},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
""",
    category="dedup",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    near-dup pair graph (trigram Jaccard >= 0.5 edges), so
    transitively-linked docs A~B~C land in ONE cluster even when
    A and C share nothing directly — the keep-one-per-component
    step every production dedup pipeline ends with. cluster_id =
    min doc_id in the component; docs in no pair are singletons and
    omitted (they keep themselves).

    Algorithm: api.connected_components (shared with dedup_embedding).
    Oracle: DuckDB recursive-CTE reachability closure + min over
    reached nodes."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = api.connected_components(pairs, "doc_id")
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


@query("dedup_simhash_pairs", oracle=None, category="dedup")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CANDIDATE PAIRS from SimHash banding: the 64-bit
    signature splits into 4 x 16-bit bands; docs colliding in any
    band are candidates (by pigeonhole, any pair within Hamming
    distance 3 shares at least one exact band), then the full
    Hamming distance (bit_count of XOR) filters to <= 6. Entirely
    JVM-side bit arithmetic; the band equi-join is the shuffle key,
    so cost is per-bucket quadratic only — the SimHash twin of
    MinHash banding. xxhash64 has no DuckDB twin -> rows-only; unit
    test asserts token-set cluster members appear at distance 0."""
    sim = dedup_simhash(spark, sf_dir)  # (doc_id, simhash)
    bands = [
        F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
        for b in range(4)
    ]
    cand = lsh_candidates(lsh_cells(sim, "doc_id", bands, ["simhash"]))
    return cand.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias(
            "hamming"
        ),
    ).where(F.col("hamming") <= 6)


@query(
    "dedup_embedding",
    oracle="""
WITH RECURSIVE ev AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
epairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ev a JOIN ev b ON b.i = a.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
  HAVING (CAST(SUM(CAST(round(CAST(a.v AS DOUBLE) * 1000000) AS BIGINT) *
               CAST(round(CAST(b.v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
          / 1e12) >= 0.4
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM epairs
  UNION ALL
  SELECT vec_b, vec_a FROM epairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id,
       src = LEAST(src, MIN(dst)) AS is_rep
FROM reach GROUP BY src
""",
    category="dedup",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate clustering — the semantic-dedup
    stage of an LLM data pipeline (exact-text / MinHash / SimHash
    catch lexical copies; embedding cosine catches paraphrases).

    Edges = exact cosine >= 0.4 pairs from the block-partitioned
    both-sides GEMM (sim_threshold_pairs — no driver-side
    materialization, no all-pairs shuffle), then the same distributed
    min-label-propagation kernel as dedup_cluster_cc assigns each
    vector to its connected component; the component's min vec_id is
    the kept representative. Vectors with no near-dup edge keep
    themselves and are omitted (same contract as dedup_cluster_cc).

    At scale the edge stage is the bounded-block GEMM (swap in the
    LSH candidate path for recall<1 speed), and label propagation
    runs O(diameter) join+groupBy rounds — near-dup clusters are
    shallow (diameter ~2-4), so convergence is a handful of scans."""
    from .similarity import sim_threshold_pairs

    pairs = sim_threshold_pairs(spark, sf_dir).select("vec_a", "vec_b")
    labels = api.connected_components(pairs, "vec_id")
    return labels.select(
        "vec_id",
        F.col("label").alias("cluster_id"),
        (F.col("vec_id") == F.col("label")).alias("is_rep"),
    )


@query(
    "dedup_audit_report",
    oracle=f"""
WITH {_SQL_JACCARD_PAIRS},
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_exact_dup_docs
  FROM documents
),
ts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokenset_clusters,
         CAST(SUM(cnt - 1) AS BIGINT) AS n_tokenset_dup_docs
  FROM (
    SELECT COUNT(*) AS cnt
    FROM documents
    GROUP BY {_SQL_TOKENSET_KEY}
    HAVING COUNT(*) > 1
  )
),
ng AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ngram_pairs FROM jpairs
)
SELECT exact.n_docs, exact.n_exact_dup_docs,
       ts.n_tokenset_clusters, ts.n_tokenset_dup_docs, ng.n_ngram_pairs,
       CAST(exact.n_exact_dup_docs AS DOUBLE)
         / CAST(exact.n_docs AS DOUBLE) AS exact_dup_rate,
       CAST(ts.n_tokenset_dup_docs AS DOUBLE)
         / CAST(exact.n_docs AS DOUBLE) AS tokenset_dup_rate
FROM exact CROSS JOIN ts CROSS JOIN ng
""",
    category="dedup",
)
def dedup_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit — the one-row report a corpus owner reads before
    choosing a dedup policy: how much each tier would remove. Exact
    byte-duplicates (count minus distinct texts), token-set near-dup
    clusters and the docs they'd drop, and the n-gram Jaccard>=0.5
    pair count from the shared gram kernel — each rate an exact
    count ratio. The approximate tiers (MinHash/SimHash) are
    deliberately absent: this is the ground-truth ledger their
    recall is measured against (tests/test_quality.py), and their
    candidate counts are run-shaped rather than corpus-shaped.

    Composes three already-verified kernels over ONE session-cached
    gram table; the final assembly is a 1-row crossJoin chain."""
    d = table(spark, sf_dir, "documents")
    exact = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dup_docs"),
    )
    ts = (
        api.keyed_clusters(d, _tokenset_key(), "doc_id", min_size=2)
        .agg(
            F.count(F.lit(1)).alias("n_tokenset_clusters"),
            F.coalesce(
                F.sum(F.col("cluster_size") - 1), F.lit(0)
            ).cast("long").alias("n_tokenset_dup_docs"),
        )
    )
    ng = dedup_ngram_jaccard(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_ngram_pairs")
    )
    return (
        exact.crossJoin(ts)
        .crossJoin(ng)
        .select(
            "n_docs",
            "n_exact_dup_docs",
            "n_tokenset_clusters",
            "n_tokenset_dup_docs",
            "n_ngram_pairs",
            (
                F.col("n_exact_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_rate"),
            (
                F.col("n_tokenset_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("tokenset_dup_rate"),
        )
    )


@query(
    "dedup_containment",
    oracle=f"""
WITH {_SQL_JACCARD_PAIRS}
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS DOUBLE) / sa.n AS contain_a_in_b,
       CAST(i.n_common AS DOUBLE) / sb.n AS contain_b_in_a
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / sa.n >= 0.8
   OR CAST(i.n_common AS DOUBLE) / sb.n >= 0.8
""",
    category="dedup",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — the subset-duplicate
    detector Jaccard misses: a short document wrapped inside a long
    one scores low Jaccard (union is large) but high containment
    |A∩B|/|A|. This is how boilerplate-wrapped training documents
    (same article + different site chrome) are actually caught.
    Emits both directions for every shared-gram candidate pair where
    either containment >= 0.8; counts exact, one double division per
    direction.

    Shape: identical to dedup_ngram_jaccard (shared-trigram
    candidate equi-join off the cached gram frame, broadcast size
    dims) — the candidate generation, df-cap scale guard and its
    bound-analysis carry over unchanged; only the scoring formula
    differs. Set sizes stay uncapped (exact denominators); only the
    PAIR join drops hot grams, so containment is underestimated
    only for pairs whose overlap rides a stop-gram — same trade-off,
    same 40x headroom over the fixtures' max df."""
    import os

    df_cap = int(os.environ.get("SPARK_GRAFT_NGRAM_DF_CAP", "1000"))
    grams = _grams(spark, sf_dir)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # stop-gram cap + candidate pair stage: see _gram_pair_counts
    inter = _gram_pair_counts(grams, df_cap)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    c_ab = F.col("n_common").cast("double") / F.col("sa.n")
    c_ba = F.col("n_common").cast("double") / F.col("sb.n")
    return (
        inter.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            c_ab.alias("contain_a_in_b"),
            c_ba.alias("contain_b_in_a"),
        )
        .where(
            (F.col("contain_a_in_b") >= 0.8) | (F.col("contain_b_in_a") >= 0.8)
        )
    )


@query(
    "dedup_paragraph",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST((len(toks) + 3) // 4 AS INT) - 1),
           i -> array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')))
           AS chunk_text,
         generate_subscripts(
           generate_series(0, CAST((len(toks) + 3) // 4 AS INT) - 1), 1) - 1
           AS chunk_id
  FROM d
),
r AS (
  SELECT doc_id, chunk_id, chunk_text,
         row_number() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_id) AS rn
  FROM c
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
       CAST(count_if(rn > 1) AS BIGINT) AS n_dropped,
       CAST(count_if(rn = 1) AS DOUBLE) / COUNT(*) AS kept_ratio,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                           ORDER BY chunk_id), '') AS dedup_text
FROM r
GROUP BY doc_id
""",
    category="dedup",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet/RefinedWeb line-dedup
    tier that document-level dedup (dedup_exact_text) cannot see:
    boilerplate paragraphs repeated ACROSS distinct documents.  Docs
    are chunked into 4-token "paragraphs" (api.chunk — pure map);
    corpus-wide, only the FIRST occurrence of each paragraph (by
    (doc_id, chunk_id)) survives; each doc is then reassembled from
    its surviving paragraphs with per-doc retention stats.  Two
    shuffles, both on data-proportional keys: a paragraph-partitioned
    window (first-occurrence rank — never a global sort; at 100 TB
    the partition key is the paragraph hash, so the state per key is
    the duplicate cluster, not the corpus) and the per-doc rollup.
    Unlike text_boilerplate_scrub (drops high-df chunks everywhere)
    this KEEPS one canonical copy — the dedup contract.  Thin
    adapter over the public api.dedup_paragraphs kernel."""
    d = table(spark, sf_dir, "documents")
    return api.dedup_paragraphs(d, "text", "doc_id", chunk_tokens=4)


@query(
    "dedup_substring_spans",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(toks, i + 1, i + 8), ' ') AS gram
  FROM d, LATERAL unnest(generate_series(0, len(toks) - 8)) t(i)
  WHERE len(toks) >= 8
),
m AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
),
mk AS (SELECT doc_id, pos FROM m WHERE cnt >= 2),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS brk
  FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
sp AS (
  SELECT doc_id, island, MAX(pos) + 8 - MIN(pos) AS span_tokens
  FROM isl2 GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(span_tokens) AS dup_tokens
  FROM sp GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(agg.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE) / len(d.toks) AS dup_ratio
FROM d LEFT JOIN agg USING (doc_id)
""",
    category="dedup",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 tier) over
    the documents corpus at 8-token resolution — the dedup-ladder
    rung between chunk-level dedup_paragraph (fixed 4-token
    alignment) and document-level dedup_exact_text: a repeated span
    is found at ANY offset, mid-document included, because every
    sliding 8-gram is examined, then merged gaps-and-islands style
    into maximal spans. Per-doc output: token count, number of
    maximal duplicated spans, duplicated-token total, duplicated
    fraction. Thin adapter over api.duplicated_spans (see its
    docstring for the two-shuffle scale contract)."""
    d = table(spark, sf_dir, "documents")
    return api.duplicated_spans(d, "text", "doc_id", gram_tokens=8)


_EDIT_PREFIX = 24   # chars of lowered text that form the compare key
_EDIT_BLOCK_PRE = 6  # chars of shared prefix that form the block key
_EDIT_BLOCK_CAP = 64  # max docs per block before it is skipped
_EDIT_MAX_DIST = 6   # accepted edit distance


@query(
    "dedup_edit_distance",
    oracle=f"""
WITH k AS (
  SELECT doc_id, lang, lower(substring(text, 1, {_EDIT_PREFIX})) AS key,
         length(lower(substring(text, 1, {_EDIT_PREFIX}))) AS klen
  FROM documents
),
b AS (
  SELECT k.*, substring(key, 1, {_EDIT_BLOCK_PRE}) AS pre,
         klen // 4 AS lenband
  FROM k
),
sz AS (
  SELECT lang, pre, lenband, COUNT(*) AS c
  FROM b GROUP BY lang, pre, lenband
),
ok AS (
  SELECT b.* FROM b
  JOIN sz ON sz.lang = b.lang AND sz.pre = b.pre AND sz.lenband = b.lenband
  WHERE sz.c <= {_EDIT_BLOCK_CAP}
),
p AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST(levenshtein(x.key, y.key) AS BIGINT) AS edit_distance
  FROM ok x JOIN ok y
    ON x.lang = y.lang AND x.pre = y.pre AND x.lenband = y.lenband
   AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, edit_distance
FROM p WHERE edit_distance <= {_EDIT_MAX_DIST}
""",
    category="dedup",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the dedup-ladder rung for
    SMALL SURFACE EDITS (typo fixes, re-punctuated titles, truncated
    re-crawls) that token-set and n-gram Jaccard both miss when the
    strings are short: exact Levenshtein distance (built into BOTH
    engines, verified character-identical on this corpus including
    the zh documents) over the lowered 24-char document prefix,
    restricted to blocked candidates — same language, shared 6-char
    prefix, same length band — with a per-block cap of 64 docs (the
    document-frequency-cap discipline of dedup_ngram_jaccard: hot
    boilerplate prefixes are skipped BY DESIGN rather than allowed
    to go quadratic; the cap is computed identically in both
    engines, so parity is exact).  Output: accepted pairs with their
    distance (<= 6).

    Scale shape: one groupBy sizes the blocks, one equi-join on the
    (lang, prefix, band) block key generates candidates (bounded at
    cap^2/2 pairs per block), and the O(len^2) Levenshtein kernel
    runs on 24-char keys only — never on full documents. All
    key-partitioned; no global operation."""
    d = table(spark, sf_dir, "documents")
    key = F.lower(F.substring(F.col("text"), 1, _EDIT_PREFIX))
    b = d.select(
        "doc_id",
        "lang",
        key.alias("key"),
        F.substring(key, 1, _EDIT_BLOCK_PRE).alias("pre"),
        F.expr(
            f"length(lower(substring(text, 1, {_EDIT_PREFIX}))) DIV 4"
        ).alias("lenband"),
    )
    sz = b.groupBy("lang", "pre", "lenband").agg(
        F.count(F.lit(1)).alias("c")
    )
    # r14: the r13 localCheckpoint of this block table was REVERTED —
    # both the driver (0.96 s vs r12's 0.78 s) and the r14 isolated
    # A/B (0.80 s with vs 0.75 s without, 32c medians) measured it a
    # loss: the keyed projection is cheap enough that re-deriving it
    # per join side beats materializing + reading back the blocks.
    ok = b.join(
        sz.where(F.col("c") <= _EDIT_BLOCK_CAP), ["lang", "pre", "lenband"]
    )
    x = ok.select(
        "lang", "pre", "lenband",
        F.col("doc_id").alias("doc_a"), F.col("key").alias("key_a"),
    )
    y = ok.select(
        F.col("lang").alias("lang_y"), F.col("pre").alias("pre_y"),
        F.col("lenband").alias("lenband_y"),
        F.col("doc_id").alias("doc_b"), F.col("key").alias("key_b"),
    )
    p = x.join(
        y,
        (F.col("lang") == F.col("lang_y"))
        & (F.col("pre") == F.col("pre_y"))
        & (F.col("lenband") == F.col("lenband_y"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).select(
        "doc_a",
        "doc_b",
        F.levenshtein("key_a", "key_b").cast("long").alias("edit_distance"),
    )
    return p.where(F.col("edit_distance") <= _EDIT_MAX_DIST)


_SWEEP_THRESHOLDS = [50, 60, 70, 80, 90]


@query(
    "dedup_threshold_sweep",
    oracle=f"""
WITH {_SQL_JACCARD_PAIRS},
th AS (
  SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS threshold
)
SELECT CAST(th.threshold AS BIGINT) AS threshold,
       CAST(COUNT(CASE WHEN j.jaccard * 100.0 >= th.threshold
                       THEN 1 END) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN j.jaccard * 100.0 >= th.threshold
                                THEN j.doc_b END) AS BIGINT) AS n_docs_dropped
FROM th CROSS JOIN jpairs j
GROUP BY th.threshold
""",
    category="dedup",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve — the tuning report run
    before committing a near-dup threshold to a corpus sweep: for
    Jaccard cutoffs 0.5..0.9, how many candidate pairs survive and
    how many documents would be dropped under keep-the-lower-id
    (doc_b is always the higher id, so distinct doc_b = drops).  The
    pair set is computed ONCE (dedup_ngram_jaccard's shared-gram
    blocking + df-cap machinery — never the n^2 cross product) and
    the 5-row threshold table fans out over it; jaccard * 100 >=
    threshold compares the identical double in both engines, so the
    curve is bit-stable.  Scale: pair volume is the blocked
    candidate set; the sweep adds a broadcast 5-row join, nothing
    data-proportional."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    th = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold long"
    )
    j = F.broadcast(th).crossJoin(pairs)
    keep = F.col("jaccard") * 100.0 >= F.col("threshold")
    return j.groupBy("threshold").agg(
        F.count(F.when(keep, 1)).cast("long").alias("n_pairs"),
        F.countDistinct(F.when(keep, F.col("doc_b")))
        .cast("long")
        .alias("n_docs_dropped"),
    )


@query(
    "dedup_shingle_profile",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams AS (
  SELECT a.doc_id, a.lang, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct
  FROM grams GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
       CAST(SUM(n_distinct) AS BIGINT) AS distinct_shingles,
       CAST(SUM(CASE WHEN n_distinct < n_shingles THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_internal_dup,
       CAST((SUM(n_shingles) - SUM(n_distinct)) * 10000
            // SUM(n_shingles) AS BIGINT) AS internal_dup_bp
FROM per_doc GROUP BY lang
""",
    category="dedup",
)
def dedup_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document shingle duplication profile — the pre-dedup
    census read before tuning MinHash/Jaccard thresholds (a corpus
    whose documents internally repeat their own trigrams both
    inflates shingle-set sizes and deflates Jaccard denominators):
    per-document trigram totals vs distinct counts from one shingle
    pass, rolled up per language with the internal-duplication rate
    in exact integer basis points.  Scale: the same explode +
    per-doc aggregation shape as dedup_ngram_jaccard's gram stage —
    one shuffle on doc_id, never any pair join."""
    d = table(spark, sf_dir, "documents")
    # r13 (guide §1.1): token array BOUND as a projected column —
    # the inlined split re-split the doc per trigram element
    # (O(tokens^2) per doc; the dedup_substring_spans lesson).
    dt = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    toks = F.col("toks")
    tri = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    )
    per_doc = dt.select(
        "doc_id",
        "lang",
        F.size(tri).alias("n_shingles"),
        F.size(F.array_distinct(tri)).alias("n_distinct"),
    ).where(F.col("n_shingles") > 0)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_shingles").cast("long").alias("total_shingles"),
        F.sum("n_distinct").cast("long").alias("distinct_shingles"),
        F.sum(
            F.when(F.col("n_distinct") < F.col("n_shingles"), 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_internal_dup"),
        F.expr(
            "CAST((SUM(n_shingles) - SUM(n_distinct)) * 10000"
            " DIV SUM(n_shingles) AS BIGINT)"
        ).alias("internal_dup_bp"),
    )


# ------------------------------------------------------------------ #
# r10 wave 2: Bloom-filter membership prefilter
# ------------------------------------------------------------------ #

_BLOOM_HEX = "0123456789abcdef"


def _bloom_pos_spark(h: str, off: int) -> str:
    """16-bit bucket from 4 md5-hex chars at 1-based offset `off` —
    pure digit arithmetic (instr into the hex alphabet), identical
    semantics in both engines; no engine-native hex parse needed."""
    terms = " + ".join(
        f"(instr('{_BLOOM_HEX}', substr(h, {off + j}, 1)) - 1)"
        f" * {16 ** (3 - j)}"
        for j in range(4)
    )
    return f"CAST({terms} AS BIGINT)"


def _bloom_pos_duck(h: str, off: int) -> str:
    terms = " + ".join(
        f"(strpos('{_BLOOM_HEX}', substr(h, {off + j}, 1)) - 1)"
        f" * {16 ** (3 - j)}"
        for j in range(4)
    )
    return f"CAST({terms} AS BIGINT)"


def _bloom_oracle() -> str:
    a_pos = ", ".join(_bloom_pos_duck("h", 1 + 4 * k) for k in range(4))
    return f"""
WITH a AS (
  SELECT md5(text) AS h, text FROM documents WHERE doc_id % 2 = 0
),
bits AS (
  SELECT DISTINCT UNNEST([{a_pos}]) AS pos
  FROM a
),
b AS (
  SELECT doc_id, text, md5(text) AS h
  FROM documents WHERE doc_id % 2 = 1
),
bp AS (
  SELECT doc_id, UNNEST([{a_pos}]) AS pos FROM b
),
hits AS (
  SELECT bp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM bp JOIN bits ON bits.pos = bp.pos
  GROUP BY bp.doc_id
)
SELECT b.doc_id,
       COALESCE(hits.n_hits, 0) AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) = 4 AS INT) AS maybe_member,
       CAST(EXISTS (SELECT 1 FROM a WHERE a.text = b.text) AS INT)
         AS is_member
FROM b LEFT JOIN hits ON hits.doc_id = b.doc_id
"""


@query("dedup_bloom_prefilter", oracle=_bloom_oracle(), category="dedup")
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership PREFILTER — the cheap gate in front of
    an exact dedup join (the incremental-ingest pattern: probe each
    arriving document against the bit set of the persisted corpus,
    and only maybe-members pay the exact text join): k=4 hash
    functions are four disjoint 16-bit slices of the md5 hex digest,
    decoded by pure digit arithmetic (instr into the hex alphabet —
    identical cross-engine, no native hex parse), over a 2^16-bit
    space.  Emitted per probe doc: the hit count, the Bloom verdict
    (all 4 bits set), and ground truth from the exact join — the
    test asserts the filter's defining guarantee, ZERO false
    negatives, and measures the false-positive count.

    Execution shape: the bit set is a bounded DISTINCT (<= 4 bits
    per build doc, capped by the 65,536-bit space) broadcast to the
    probe side; the probe is a per-row map + one broadcast join +
    one key-local count — the corpus crosses the wire as bit
    positions, never as text.  At 100 TB the same plan stands with
    the space parameter scaled (or Spark's native bloom_filter_agg /
    DataFrame.stat.bloomFilter building the bitmap as one
    aggregate); the prefilter is what keeps the exact join's shuffle
    proportional to the MAYBE set, not the corpus."""
    d = table(spark, sf_dir, "documents")
    pos_arr = F.expr(
        "array("
        + ", ".join(_bloom_pos_spark("h", 1 + 4 * k) for k in range(4))
        + ")"
    )
    a = d.where(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("h"), "text"
    )
    bits = (
        a.select(F.explode(pos_arr).alias("pos")).distinct()
    )
    b = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", F.md5("text").alias("h")
    )
    bp = b.select("doc_id", F.explode(pos_arr).alias("pos"))
    hits = (
        bp.join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    a_texts = a.select("text").distinct().withColumn("im", F.lit(1))
    return (
        b.join(hits, "doc_id", "left")
        .join(F.broadcast(a_texts), "text", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) == 4).cast("int").alias(
                "maybe_member"
            ),
            F.coalesce("im", F.lit(0)).cast("int").alias("is_member"),
        )
    )


# ------------------------------------------------------------------ #
# deterministic (md5-keyed) MinHash-LSH and SimHash near-dup pairs —
# the hash-exact twins of the pyspark.ml dedup_minhash / the rows-only
# dedup_simhash: every signature bit derives from md5 hex (identical
# in both engines), so banding, candidate generation AND verification
# grade hash-exact against the DuckDB oracle.  r11 wave 1.
# ------------------------------------------------------------------ #

_MHX_K = 8  # minhash functions (4 bands x 2 rows)
_MHX_BANDS = 4
_SHX_BITS = 32  # simhash signature width
_SHX_HAM = 3  # max hamming distance reported


def _mhx_hash_spark(i: int) -> str:
    """60-bit integer: hash i rides slice (i % 2) of md5 digest
    (i DIV 2) — two independent 60-bit lanes per digest, so k=8
    minhashes cost 4 md5 evaluations per shingle, not 8."""
    salt, lo = i // 2, 1 + 16 * (i % 2)
    return (
        f"CAST(conv(substring(md5(concat('{salt}|', shingle)), {lo}, 15),"
        f" 16, 10) AS BIGINT)"
    )


def _mhx_hash_duck(i: int) -> str:
    """Same sliced 60-bit md5 integer — DuckDB dialect."""
    salt, lo = i // 2, 1 + 16 * (i % 2)
    return (
        f"CAST(('0x' || substring(md5('{salt}|' || shingle), {lo}, 15))"
        f" AS BIGINT)"
    )


def _mhx_oracle() -> str:
    hashes = ",\n         ".join(
        f"{_mhx_hash_duck(i)} AS h{i}" for i in range(_MHX_K)
    )
    mins = ", ".join(f"MIN(h{i}) AS m{i}" for i in range(_MHX_K))
    bands = ", ".join(
        f"({b}, CAST(m{2 * b} AS VARCHAR) || '|' || CAST(m{2 * b + 1} AS VARCHAR))"
        for b in range(_MHX_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM tok, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS t(i)
  WHERE len(toks) >= 3
),
hashed AS (
  SELECT doc_id, shingle,
         {hashes}
  FROM sh
),
sig AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh, {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band_id, band_key
  FROM sig, (VALUES {', '.join(f'({b})' for b in range(_MHX_BANDS))}) AS v(band_id),
  LATERAL (SELECT CASE band_id
       {' '.join(f"WHEN {b} THEN CAST(m{2*b} AS VARCHAR) || '|' || CAST(m{2*b+1} AS VARCHAR)" for b in range(_MHX_BANDS))}
       END AS band_key) l
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter_cnt
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.inter_cnt,
       na.n_sh AS n_sh_a, nb.n_sh AS n_sh_b,
       CAST(i.inter_cnt AS DOUBLE) / (na.n_sh + nb.n_sh - i.inter_cnt)
         AS jaccard
FROM inter i
JOIN sig na ON na.doc_id = i.doc_a
JOIN sig nb ON nb.doc_id = i.doc_b
WHERE 3 * i.inter_cnt >= na.n_sh + nb.n_sh
ORDER BY doc_a, doc_b
"""


def _mhx_signatures(d: DataFrame) -> DataFrame:
    """Per-doc MinHash signature row: (doc_id, n_sh, m0..m7).
    One shingle explode + distinct, 8 map-side mins in one groupBy."""
    hashed = _shingle_rows(d, "doc_id", "text", 3, "doc_id").select(
        "doc_id",
        *[F.expr(_mhx_hash_spark(i)).alias(f"h{i}") for i in range(_MHX_K)],
    )
    return hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh"),
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(_MHX_K)],
    )


@query("dedup_minhash_exact", oracle=_mhx_oracle(), category="dedup")
def dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection that is HASH-EXACT
    cross-engine: 3-token shingles, k=8 minhashes from salted md5
    (identical hex in Spark and DuckDB — no engine-private RNG, the
    determinism trick fn_surrogate_key established), 4 bands x 2
    rows for candidate generation, then exact shingle-Jaccard
    verification at tau = 1/2 decided by the cross-multiplied
    integer rule 3*inter >= |A| + |B| (never a float).  The banded
    twin of the pyspark.ml `dedup_minhash` (which stays rows-only:
    its hash family is engine-private), and on the fixture corpus it
    recovers exactly the 25 planted near-dup pairs from 29
    candidates out of 124,750 possible pairs — the banding, not a
    quadratic scan, does the work even here.

    Execution shape (r13 optimization, guide §1.1/§2.4/§3.3): the
    r12 plan re-executed the scan→shingle-explode→distinct→md5→
    groupBy signature chain EIGHT times — once per reference to
    `sig`/`sh` in the DAG (50 Exchanges, 8 parquet scans; see
    plans/r13/dedup_minhash_exact_before.txt — the band self-join
    planned as a BroadcastHashJoin, so no two subtrees shared a
    reusable Exchange).  This shape runs it ONCE: the per-doc
    signature table (~100 bytes/doc) and the candidate PAIR table
    (tiny by banding construction) are localCheckpoint'ed —
    recomputed per run, inside the timed region — and n_sh rides
    the band cells (api_lsh.lsh_cells / lsh_candidates) so the old
    plan's two post-verify sig re-joins disappear.  Verification
    (api_lsh.pair_overlap) re-derives shingles ONLY for candidate
    docs (broadcast semi-filter BEFORE the explode).  A first r13
    attempt instead computed the signatures shuffle-free with
    array higher-order functions (array_distinct + transform +
    array_min): bit-identical but 2.5x SLOWER — HOF lambdas
    evaluate outside whole-stage codegen and projection collapse
    re-inlines the md5 transform per consumer — so the codegen'd
    explode pipeline stays (the guide §1.1 'ideal plan gotcha').
    At 100 TB this is the Lee-et-al web-dedup shape: one
    data-proportional shingle shuffle, band join fan-in bounded by
    bucket occupancy, checkpoints bounded by doc count / candidate
    count, and no stage ever materializes doc x doc.

    The SIGNATURE scan is spread_table'd (guide §2.5): the fixture's
    single-row-group file otherwise generates every shingle on one
    task before the distinct Exchange; the verify scan stays plain —
    its broadcast-semi filter must reach the parquet scan, and a
    repartition between them would shuffle the whole corpus."""
    d = table(spark, sf_dir, "documents")
    sig = _mhx_signatures(
        spread_table(spark, sf_dir, "documents", "doc_id")
    ).localCheckpoint(eager=True)
    bands = minhash_band_keys(_MHX_K, _MHX_K // _MHX_BANDS)
    cand = lsh_candidates(
        lsh_cells(sig, "doc_id", bands, ["n_sh"])
    ).localCheckpoint(eager=True)
    # verification touches only candidate docs: broadcast-semi-filter
    # the document scan down to them BEFORE the shingle explode, so
    # the corpus-sized relation is neither re-hashed nor shuffled on
    # the pair keys (at 100 TB the candidate set is the tiny side by
    # construction)
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    sh_c = _shingle_rows(
        d.join(F.broadcast(cand_ids), "doc_id"), "doc_id", "text", 3, "doc_id"
    )
    inter = pair_overlap(F.broadcast(cand), sh_c)
    return (
        inter.where(3 * F.col("inter_cnt") >= F.col("n_sh_a") + F.col("n_sh_b"))
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "inter_cnt",
            "n_sh_a",
            "n_sh_b",
            (
                F.col("inter_cnt").cast("double")
                / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("inter_cnt"))
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _shx_oracle() -> str:
    bits = ",\n         ".join(
        f"CASE WHEN SUM(((h >> {b}) & 1) * 2 - 1) >= 0"
        f" THEN CAST(1 AS BIGINT) ELSE 0 END AS b{b}"
        for b in range(_SHX_BITS)
    )
    sig = " + ".join(f"b{b} * {1 << b}" for b in range(_SHX_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM tok, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS t(i)
  WHERE len(toks) >= 3
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('sh|' || shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
),
bitsum AS (
  SELECT doc_id,
         {bits}
  FROM hashed GROUP BY doc_id
),
sig AS (SELECT doc_id, {sig} AS simhash FROM bitsum),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
   AND ((a.simhash >> 24) = (b.simhash >> 24)
     OR ((a.simhash >> 16) & 255) = ((b.simhash >> 16) & 255)
     OR ((a.simhash >> 8) & 255) = ((b.simhash >> 8) & 255)
     OR (a.simhash & 255) = (b.simhash & 255))
)
SELECT doc_a, doc_b, sig_a, sig_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SHX_HAM}
ORDER BY doc_a, doc_b
"""


@query("dedup_simhash_exact", oracle=_shx_oracle(), category="dedup")
def dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar SimHash near-dup pairs, HASH-EXACT cross-engine: the
    32-bit signature's bit b is the sign of the +/-1 vote sum over
    the doc's DISTINCT 3-token shingles (each shingle's vote vector
    is bit b of its salted-md5 60-bit integer), candidates come from
    the classic 4x8-bit band split (hamming <= 3 guarantees at least
    one intact byte — the pigeonhole exactness of Manku et al.'s
    table construction), and pairs are kept at hamming <= 3 via
    bit_count over the integer XOR (both engines' bit_count on
    BIGINT).  The exact twin of the rows-only `dedup_simhash`
    (token-frequency SimHash): shingle features keep the signature
    discriminative even on the fixtures' 31-word vocabulary, where
    bag-of-words SimHash saturates (every doc looks alike).

    Execution shape (r13 optimization, guide §1.1/§3.3): the
    signature is api.simhash_signature — one shingle explode + one
    groupBy computing all 32 bit-votes map-side — and
    the per-doc signature table (8 bytes/doc) localCheckpoint'ed —
    recomputed per run, inside the timed region — so the r12 plan's
    re-execution of the whole scan→explode→distinct→md5→groupBy
    chain for the second self-join side disappears (see
    plans/r13/dedup_simhash_exact_before.txt: two full corpus
    subtrees, no Exchange reuse because the band join broadcasts).
    Candidates come from the byte-band cells + ONE self-equi-join
    on (band, byte) (api_lsh.lsh_candidates, simhash carried), so
    Catalyst hash-partitions on the byte
    value instead of nested-looping; verification is a per-pair
    popcount, no second corpus pass.  (A first r13 attempt computed
    the signature shuffle-free with array higher-order functions —
    bit-identical but ~3x slower: HOF lambdas run outside
    whole-stage codegen; the codegen'd explode pipeline stays.)

    The corpus scan is spread_table'd (guide §2.5): the fixture's
    single-row-group file otherwise generates every shingle on one
    task before the distinct Exchange (no-op on a splittable
    layout).  1.56 -> 0.85 s isolated."""
    d = spread_table(spark, sf_dir, "documents", "doc_id")
    sig = api.simhash_signature(d, "doc_id", "text", bits=_SHX_BITS).localCheckpoint(
        eager=True
    )
    bytes_ = [F.expr(f"(simhash >> {8 * i}) & 255") for i in range(4)]
    ham = F.expr("CAST(bit_count(simhash_a ^ simhash_b) AS BIGINT)")
    return (
        lsh_candidates(lsh_cells(sig, "doc_id", bytes_, ["simhash"]))
        .where(ham <= _SHX_HAM)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("simhash_a").alias("sig_a"),
            F.col("simhash_b").alias("sig_b"),
            ham.alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )
