"""Scalar function families (SURVEY.md §2.8) — one query per family
exercising several functions at once, all JVM-side built-ins (no
Python in the row path; these run inside whole-stage codegen).

Cross-engine gotchas baked into the choices below:
- day-of-week numbering differs (Spark weekday()=0-Mon ↔ DuckDB
  isodow-1); months_between has no DuckDB twin (excluded).
- double->int CAST truncates in Spark but ROUNDS in DuckDB — integer
  conversions go through floor/ceil/explicit decimal instead.
- round() on a 2-decimal double at 1 decimal sits exactly on the
  half-up/half-even fault line; round targets here are irrational
  (sqrt outputs), far from midpoints.
- xxhash64/crc32 have no DuckDB equivalent -> separate rows-only
  query (fn_hash_native).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import zorder_key
from ..io import register_views, table
from ..registry import query
from ..session import harden_session


@query(
    "fn_string",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       lower(p_brand) AS brand_lower,
       trim(concat(' ', p_name, ' ')) AS name_trimmed,
       substring(p_name, 1, 4) AS name_prefix,
       concat(p_name, '/', p_brand) AS name_brand,
       length(p_name) AS name_len,
       lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
       replace(p_name, ' ', '_') AS name_snake,
       string_split(p_name, ' ')[1] AS first_word,
       instr(p_name, 'widget') AS widget_pos
FROM part
""",
    category="functions",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, trim, substring, concat, length, pad,
    replace, split+index, instr."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.concat(F.col("p_name"), F.lit("/"), F.col("p_brand")).alias("name_brand"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.instr(F.col("p_name"), "widget").alias("widget_pos"),
    )


@query(
    "fn_regexp",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devoweled,
       regexp_matches(p_name, '^(cold|small) ') AS is_cold_or_small
FROM part
""",
    category="functions",
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp family (POSIX-simple patterns so Java regex and DuckDB
    RE2 agree). NOTE: Spark regexp_replace is global by default;
    DuckDB needs the 'g' flag."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), "Brand#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("name_devoweled"),
        F.col("p_name").rlike("^(cold|small) ").alias("is_cold_or_small"),
    )


@query(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(day(o_orderdate) AS INT) AS order_day,
       CAST(isodow(o_orderdate) - 1 AS INT) AS order_weekday,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS plus3m,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k
FROM orders
""",
    category="functions",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: parts, weekday (Spark weekday()=Mon0 == DuckDB
    isodow-1), truncation, month arithmetic, last_day, datediff."""
    o = table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).alias("order_year"),
        F.month(od).alias("order_month"),
        F.dayofmonth(od).alias("order_day"),
        F.weekday(od).alias("order_weekday"),
        F.date_trunc("month", od).alias("month_start"),
        F.add_months(od.cast("date"), 3).cast("timestamp").alias("plus3m"),
        F.last_day(od.cast("date")).cast("timestamp").alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("date"), od.cast("date")).alias(
            "days_to_y2k"
        ),
    )


@query(
    "fn_timestamp",
    oracle="""
SELECT event_id,
       CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS ts_rounded,
       make_timestamp(2024, 6, 1, 12, 0, 0) AS fixed_ts,
       CAST(hour(ts) AS INT) AS event_hour,
       CAST(minute(ts) AS INT) AS event_minute
FROM events
""",
    category="functions",
)
def fn_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp family: date cast, epoch seconds (floor == Spark's
    unix_timestamp truncation for post-1970 data), epoch round-trip,
    make_timestamp, clock parts."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("ts").cast("date").cast("timestamp").alias("event_date"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.from_unixtime(F.unix_timestamp("ts")).cast("timestamp").alias("ts_rounded"),
        F.make_timestamp(
            F.lit(2024), F.lit(6), F.lit(1), F.lit(12), F.lit(0), F.lit(0)
        ).alias("fixed_ts"),
        F.hour("ts").alias("event_hour"),
        F.minute("ts").alias("event_minute"),
    )


@query(
    "fn_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS qty_dev,
       CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
       CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
       sqrt(l_extendedprice) AS price_sqrt,
       round(sqrt(l_quantity), 3) AS qty_sqrt_3,
       CAST(sign(l_quantity - 25) AS DOUBLE) AS qty_sign,
       mod(CAST(l_quantity AS BIGINT), 7) AS qty_mod7,
       greatest(l_quantity, l_discount * 100) AS gr,
       least(l_quantity, l_discount * 100) AS ls,
       power(2, l_linenumber) AS pow2
FROM lineitem
""",
    category="functions",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt is IEEE-correctly-rounded (safe cross-engine
    on any double); round targets are irrational so no midpoint
    ambiguity; pmod on exact integers; exp/ln live in fn_math_libm
    (rows-only) because libm implementations may differ by 1 ulp."""
    l = table(spark, sf_dir, "lineitem")
    q, ep, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25).alias("qty_dev"),
        F.ceil(ep / 1000).alias("price_k_ceil"),
        F.floor(ep / 1000).alias("price_k_floor"),
        F.sqrt(ep).alias("price_sqrt"),
        F.round(F.sqrt(q), 3).alias("qty_sqrt_3"),
        F.signum(q - 25).alias("qty_sign"),
        F.pmod(q.cast("bigint"), F.lit(7)).alias("qty_mod7"),
        F.greatest(q, d * 100).alias("gr"),
        F.least(q, d * 100).alias("ls"),
        F.pow(F.lit(2), F.col("l_linenumber")).alias("pow2"),
    )


@query("fn_math_libm", oracle=None, category="functions")
def fn_math_libm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exp/ln/log10 — transcendental libm functions are not
    guaranteed correctly-rounded, so cross-engine bits may differ by
    1 ulp: rows-only check + unit test asserting 1e-12 closeness."""
    l = table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.exp(F.col("l_discount")).alias("disc_exp"),
        F.log(ep).alias("price_ln"),
        F.log10(ep).alias("price_log10"),
    )


@query(
    "fn_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'large'
            WHEN o_totalprice > 100000 THEN 'medium'
            ELSE 'small' END AS size_class,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       nullif(o_orderstatus, 'F') AS status_nullable,
       CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END AS pending_value
FROM orders
""",
    category="functions",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif chains."""
    o = table(spark, sf_dir, "orders")
    tp, st = F.col("o_totalprice"), F.col("o_orderstatus")
    return o.select(
        "o_orderkey",
        F.when(tp > 300000, "large")
        .when(tp > 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(st, F.lit("O")), F.lit("OPEN")).alias("status_or_open"),
        F.nullif(st, F.lit("F")).alias("status_nullable"),
        F.when(st == "P", tp).otherwise(F.lit(0.0)).alias("pending_value"),
    )


@query(
    "fn_cast",
    oracle="""
SELECT c_custkey,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_decimal_roundtrip,
       CAST(c_acctbal AS VARCHAR) AS bal_str,
       CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS key_from_name,
       CAST(floor(c_acctbal) AS BIGINT) AS bal_floor_int
FROM customer
""",
    category="functions",
)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast family. Integer conversion goes through floor() — a raw
    double->int CAST truncates in Spark but rounds in DuckDB.
    2-decimal doubles print identically in both engines."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias(
            "bal_decimal_roundtrip"
        ),
        F.col("c_acctbal").cast("string").alias("bal_str"),
        F.col("c_custkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.regexp_extract(F.col("c_name"), "([0-9]+)", 1)
        .cast("bigint")
        .alias("key_from_name"),
        F.floor(F.col("c_acctbal")).cast("bigint").alias("bal_floor_int"),
    )


@query(
    "fn_array",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       list_contains(string_split(text, ' '), 'spark') AS has_spark,
       len(list_distinct(string_split(text, ' '))) AS n_unique,
       array_to_string(string_split(text, ' ')[1:3], ' ') AS first3,
       array_to_string(list_sort(list_distinct(string_split(substring(text, 1, 40), ' '))), ' ') AS head_tokens
FROM documents
""",
    category="functions",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: split, size, contains, distinct, slice, join,
    sorted arrays (array cells sorted for deterministic hashing)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_join(
            F.array_sort(
                F.array_distinct(F.split(F.substring(F.col("text"), 1, 40), " "))
            ),
            " ",
        ).alias("head_tokens"),
    )


@query(
    "fn_higher_order",
    oracle="""
SELECT doc_id,
       array_to_string(list_transform(string_split(text, ' ')[1:5], x -> CAST(length(x) AS VARCHAR)), ',') AS first5_lens,
       len(list_filter(string_split(text, ' '), x -> length(x) > 5)) AS n_long_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS total_chars
FROM documents
""",
    category="functions",
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambdas on arrays: transform / filter / aggregate
    (integer outputs — exact in both engines)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice(toks, 1, 5), lambda x: F.length(x).cast("string")),
            ",",
        ).alias("first5_lens"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
    )


@query(
    "fn_map",
    oracle="""
SELECT event_id,
       map_extract(MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)]), 'type')[1] AS type_val,
       array_to_string(list_sort(map_keys(MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)]))), ',') AS keys_sorted,
       cardinality(MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)])) AS map_size,
       map_extract(MAP([string_split(concat('type:', event_type), ':')[1]],
                       [string_split(concat('type:', event_type), ':')[2]]), 'type')[1] AS strmap_val
FROM events
""",
    category="functions",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: construction, element access, sorted keys, size
    (scalar/array outputs only — raw map cells hash differently
    across engines)."""
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    strmap = F.str_to_map(
        F.concat(F.lit("type:"), F.col("event_type")), F.lit(","), F.lit(":")
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(m).alias("map_size"),
        F.element_at(strmap, "type").alias("strmap_val"),
    )


@query(
    "fn_json",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_val
FROM events
""",
    category="functions",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over the props column: path extraction (string +
    int + missing->NULL), typed from_json struct access."""
    e = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT, missing BIGINT")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").alias("k_str"),
        parsed["k"].alias("k_int"),
        parsed["missing"].alias("missing_val"),
    )


@query(
    "fn_hash",
    oracle="""
SELECT c_custkey,
       md5(c_name) AS name_md5,
       sha256(c_name) AS name_sha256
FROM customer
""",
    category="functions",
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digests that match across engines (md5, sha256
    hex strings)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
    )


@query("fn_hash_native", oracle=None, category="functions")
def fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hashes (xxhash64 / crc32 / murmur3) — no DuckDB
    equivalent, rows-only; unit test asserts stability across runs
    (these seed shuffle partitioners and dedup keys at scale)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.xxhash64(F.col("c_name")).alias("name_xxh64"),
        F.crc32(F.col("c_name")).alias("name_crc32"),
        F.hash(F.col("c_name")).alias("name_murmur3"),
    )


@query(
    "fn_string_distance",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist,
       CAST(length(a.p_name) = length(b.p_name) AS BOOLEAN) AS same_len
FROM part a
JOIN part b ON b.p_partkey = a.p_partkey + 1
""",
    category="functions",
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-distance family: Levenshtein edit distance between
    consecutive part names — the fuzzy-matching primitive for
    entity-resolution/dedup pipelines (both engines implement the
    same Wagner-Fischer distance on unicode code points)."""
    p = table(spark, sf_dir, "part")
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, F.col("key_b") == F.col("key_a") + 1)
        .select(
            "key_a",
            "key_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias("edit_dist"),
            (F.length("name_a") == F.length("name_b")).alias("same_len"),
        )
    )


@query(
    "fn_struct_argmax",
    oracle="""
SELECT o_custkey, o_totalprice AS best_price, o_orderkey AS best_orderkey
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
""",
    category="functions",
)
def fn_struct_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-typed argmax: MAX over a (price, orderkey) struct is
    lexicographic, so one hash aggregate returns each customer's
    priciest order WITH its key — no window, no self-join, one
    shuffle carrying a single struct per group (the idiomatic
    Spark argmax; ties break toward the higher orderkey, mirrored
    by the oracle's window ordering)."""
    o = table(spark, sf_dir, "orders")
    best = F.max(F.struct(F.col("o_totalprice"), F.col("o_orderkey")))
    return o.groupBy("o_custkey").agg(
        best.getField("o_totalprice").alias("best_price"),
        best.getField("o_orderkey").alias("best_orderkey"),
    )


@query(
    "fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey & 255 AS and_mask,
       l_orderkey | 4096 AS or_flag,
       xor(l_orderkey, l_partkey) AS xor_keys,
       ~l_orderkey AS not_key,
       l_linenumber << 4 AS shl,
       l_orderkey >> 2 AS shr,
       CAST(bit_count(l_orderkey) AS INT) AS popcount
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
    category="functions",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family over 64-bit keys: AND/OR/XOR/NOT,
    shifts, popcount — the partition-mask / bitmap-index primitives.
    All primitive long ops inside whole-stage codegen; both engines
    use two's-complement BIGINT semantics, so results are bit-exact
    by construction."""
    li = table(spark, sf_dir, "lineitem")
    k, ln, pk = F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey")
    return li.where(k % 50 == 0).select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).alias("and_mask"),
        k.bitwiseOR(F.lit(4096)).alias("or_flag"),
        k.bitwiseXOR(pk).alias("xor_keys"),
        F.bitwise_not(k).alias("not_key"),
        F.shiftleft(ln, 4).alias("shl"),
        F.shiftright(k, 2).alias("shr"),
        F.bit_count(k).alias("popcount"),
    )


@query(
    "fn_url",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://host' || (doc_id % 7) || '.example.com/corpus/' || lang ||
         '/doc?id=' || doc_id || '&src=' || source AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]id=([^&]*)', 1) AS id_param
FROM u
""",
    category="functions",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family over synthesized crawl URLs: scheme, host,
    path, query string, single query parameter — `parse_url` is the
    native Spark primitive (shown against a regexp oracle, since
    DuckDB has no URL parser; the synthesized URLs avoid the
    encoding edge cases where the two approaches diverge). The
    provenance-extraction step of every crawl-corpus pipeline."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/corpus/"),
        F.col("lang"),
        F.lit("/doc?id="),
        F.col("doc_id").cast("string"),
        F.lit("&src="),
        F.col("source"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        F.lower(F.parse_url(F.col("url"), F.lit("PROTOCOL"))).alias("scheme"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id")).alias("id_param"),
    )


@query(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
       json_extract_string(props, '$.k') AS k_str,
       COALESCE(json_valid(props), FALSE) AS is_valid
FROM events
WHERE event_id % 20 = 0
""",
    category="functions",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion of semi-structured JSON:
    parse_json() shreds the props string into the binary Variant
    encoding once, then variant_get() extracts typed paths without
    re-parsing — the modern replacement for repeated
    get_json_object string scans (one parse, many typed reads;
    columnar-shreddable at rest in parquet). Oracle: DuckDB JSON
    extraction of the same paths."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.where(F.col("event_id") % 20 == 0).select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_long"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.col("props").try_cast("variant").isNotNull().alias("is_valid"),
    )


@query(
    "fn_explode_outer",
    oracle="""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> length(t) >= 7) AS longs
  FROM documents WHERE doc_id % 25 = 0
)
SELECT d.doc_id, t.tok AS long_token
FROM d LEFT JOIN (
  SELECT doc_id, unnest(longs) AS tok FROM d
) t USING (doc_id)
""",
    category="functions",
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows whose array is EMPTY survive with a NULL
    element instead of disappearing — the difference between "this
    doc has no long tokens" being a fact in the output vs silently
    dropped (plain explode loses the row, the LEFT-JOIN-unnest
    equivalent keeps it). Filter derives genuinely empty arrays from
    the corpus."""
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .select(
            "doc_id",
            F.filter(
                F.split(F.col("text"), " "), lambda t: F.length(t) >= 7
            ).alias("longs"),
        )
    )
    return d.select("doc_id", F.explode_outer("longs").alias("long_token"))


@query(
    "fn_try_arith",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice / NULLIF(l_quantity - 25, 0) AS price_per_off25,
       CASE WHEN l_orderkey > 7 THEN NULL
            ELSE CAST(CAST(9223372036854775800 AS HUGEINT) + l_orderkey AS BIGINT)
       END AS near_max_plus,
       TRY_CAST(CAST(l_partkey AS VARCHAR) AS BIGINT) AS parsed_ok,
       TRY_CAST('x' || CAST(l_partkey AS VARCHAR) AS BIGINT) AS parsed_bad
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
    category="functions",
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (Spark try_* family): try_divide turns
    division by zero into NULL instead of an ANSI error (real zeros
    manufactured via quantity-25), try_add turns 64-bit overflow
    into NULL (manufactured near Long.MAX), try_to_number returns
    NULL on unparseable numerics — the ingest-hardening functions a
    pipeline uses instead of wrapping every expression in CASE.
    DuckDB twins: NULLIF denominator, HUGEINT-widened guarded add,
    TRY_CAST. All pure map-stage codegen. The try_to_number results
    are cast to BIGINT on both twins — a DECIMAL final column hashes
    unequal across engines even for equal values (driver comparator
    renders Spark Decimal objects vs DuckDB float64)."""
    l = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - 25
        ).alias("price_per_off25"),
        F.try_add(
            F.lit(9223372036854775800).cast("long"),
            F.col("l_orderkey").cast("long"),
        ).alias("near_max_plus"),
        F.try_to_number(F.col("l_partkey").cast("string"), F.lit("99999999"))
        .cast("long")
        .alias("parsed_ok"),
        F.try_to_number(
            F.concat(F.lit("x"), F.col("l_partkey").cast("string")),
            F.lit("99999999"),
        )
        .cast("long")
        .alias("parsed_bad"),
    )


@query(
    "fn_timezone",
    oracle="""
SELECT event_id, ts,
       timezone('America/New_York', ts::TIMESTAMPTZ) AS ny_local,
       timezone('Asia/Kolkata', ts::TIMESTAMPTZ) AS kolkata_local,
       TRUE AS roundtrip_ok
FROM events
WHERE event_id % 10 = 0
""",
    category="functions",
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-zone timestamp conversion (from_utc_timestamp /
    to_utc_timestamp) — the wall-clock arithmetic the UTC-pinned
    session otherwise never exercises: a DST-observing zone
    (America/New_York, offset varies -4/-5 by date) and a half-hour
    zone (Asia/Kolkata, +5:30). Both engines resolve zones from the
    IANA tzdb, so the shifted wall times are hash-exact; the
    roundtrip_ok column proves to_utc_timestamp inverts
    from_utc_timestamp on every row rather than trusting it.
    DuckDB twin feeds TIMESTAMPTZ so its two-arg timezone() runs the
    same UTC-instant -> zone-local direction. Pure map stage."""
    ev = table(spark, sf_dir, "events").where(F.col("event_id") % 10 == 0)
    ny = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    kol = F.from_utc_timestamp(F.col("ts"), "Asia/Kolkata")
    return ev.select(
        "event_id",
        "ts",
        ny.alias("ny_local"),
        kol.alias("kolkata_local"),
        (F.to_utc_timestamp(ny, "America/New_York") == F.col("ts")).alias(
            "roundtrip_ok"
        ),
    )


@query(
    "fn_xpath",
    oracle="""
SELECT p_partkey, p_name, p_retailprice AS price_rt,
       CAST(len(string_split(p_name, ' ')) AS INT) AS n_words
FROM part
WHERE p_partkey % 10 = 0
""",
    category="functions",
)
def fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction family (xpath_long / xpath_string /
    xpath_double / list-valued xpath) — the query-side complement of
    scan_xml for XML-in-a-column payloads. The test is a round-trip
    IDENTITY: an XML document is synthesized from part columns (one
    <w> element per name token), the xpath_* calls must recover the
    original typed values exactly, and the oracle simply selects
    those originals. Double round trip is exact because Spark's
    string(double) is shortest-repr and parses back to the same
    bits. Pure map stage, JVM-side XPath, no shuffle."""
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") % 10 == 0)
    words_xml = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("p_name"), " "),
            lambda t: F.concat(F.lit("<w>"), t, F.lit("</w>")),
        ),
    )
    doc = F.concat(
        F.lit("<part><k>"),
        F.col("p_partkey").cast("string"),
        F.lit("</k><name>"),
        F.col("p_name"),
        F.lit("</name><price>"),
        F.col("p_retailprice").cast("string"),
        F.lit("</price><words>"),
        words_xml,
        F.lit("</words></part>"),
    )
    d = p.select(doc.alias("xml_doc"))
    return d.select(
        F.expr("xpath_long(xml_doc, '/part/k/text()')").alias("p_partkey"),
        F.expr("xpath_string(xml_doc, '/part/name')").alias("p_name"),
        F.expr("xpath_double(xml_doc, '/part/price')").alias("price_rt"),
        F.size(F.expr("xpath(xml_doc, '/part/words/w/text()')")).alias("n_words"),
    )


@query(
    "fn_collation",
    oracle="""
WITH m AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 2 = 0 THEN p_name ELSE upper(p_name) END
           AS name_mixed
  FROM part
)
SELECT p_partkey, name_mixed,
       lower(name_mixed) LIKE '%green%' AS has_green,
       lower(name_mixed) LIKE 'bl%' AS starts_bl,
       lower(name_mixed) LIKE '%rose' AS ends_rose
FROM m
""",
    category="functions",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface: string predicates evaluated under
    an explicit UTF8_LCASE collation (``F.collate``) — the engine-
    level answer to case-insensitive matching, replacing scattered
    lower() calls and letting comparisons/joins/groupBys be
    collation-aware. Input case is deliberately mixed per row (odd
    keys uppercased) so the collation actually decides the result;
    DuckDB twin lowers explicitly, which is the semantic UTF8_LCASE
    contract for this ASCII fixture. Pure map stage — predicates
    stay in whole-stage codegen."""
    p = table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.col("p_name")
    ).otherwise(F.upper(F.col("p_name")))
    ci = F.collate(mixed, "UTF8_LCASE")
    return p.select(
        "p_partkey",
        mixed.alias("name_mixed"),
        ci.contains(F.lit("GREEN")).alias("has_green"),
        ci.startswith(F.lit("Bl")).alias("starts_bl"),
        ci.endswith(F.lit("ROSE")).alias("ends_rose"),
    )


@query(
    "fn_scalar_subquery",
    oracle="""
SELECT c.c_custkey, c.c_name,
       (SELECT COUNT(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS n_orders,
       EXISTS(SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 200000) AS has_big,
       (SELECT MAX(o.o_orderdate) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS last_order
FROM customer c
""",
    category="functions",
)
def fn_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries through the SQL surface: a scalar COUNT
    subquery, a select-list EXISTS predicate, and a scalar MAX — the
    three shapes users paste in from warehouse SQL. Catalyst
    decorrelates all three into outer joins + aggregates (no
    per-row re-execution — the logical plan after RewriteCorrelated
    ScalarSubquery/RewritePredicateSubquery is a 3-way join), so the
    declarative SQL is as scalable as the hand-written DataFrame
    equivalent. Uses parameterized spark.sql with DataFrame args —
    no temp-view session state."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT c.c_custkey, c.c_name,
       (SELECT COUNT(*) FROM {orders} o
         WHERE o.o_custkey = c.c_custkey) AS n_orders,
       EXISTS(SELECT 1 FROM {orders} o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 200000) AS has_big,
       (SELECT MAX(o.o_orderdate) FROM {orders} o
         WHERE o.o_custkey = c.c_custkey) AS last_order
FROM {customer} c
""",
        orders=o,
        customer=c,
    )


@query(
    "fn_recursive_cte",
    oracle="""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM lineitem
  WHERE l_orderkey % 100 <> l_partkey % 100
),
r(node, hops) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM r JOIN e ON e.src = r.node
  WHERE r.hops < 3
)
SELECT node, MIN(hops) AS min_hops, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM r
GROUP BY node
""",
    category="functions",
)
def fn_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI recursive CTE (WITH RECURSIVE — first-class in Spark 4):
    3-hop reachability from node 0 over the lineitem-derived digraph,
    counting distinct-by-arrival-depth paths and the minimum hop
    count per reached node. The declarative recursion is the SQL
    twin of graph.py's iterative DataFrame loops — same semantics,
    but the engine drives the fixpoint (bounded here by hops < 3, so
    both engines terminate identically).

    Scale: each recursion level is one equi-join of the frontier
    against the edge table — identical shuffle structure to the
    hand-written loop; the bound keeps the UNION ALL path expansion
    finite on cyclic graphs."""
    li = table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
  FROM {lineitem}
  WHERE l_orderkey % 100 <> l_partkey % 100
),
r(node, hops) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM r JOIN e ON e.src = r.node
  WHERE r.hops < 3
)
SELECT node, MIN(hops) AS min_hops, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM r
GROUP BY node
""",
        lineitem=li,
    )


@query(
    "fn_in_subquery",
    oracle="""
WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
SELECT c_custkey, c_name,
       c_custkey IN (SELECT o_custkey FROM big) AS has_big_order,
       c_custkey NOT IN (SELECT o_custkey FROM big) AS no_big_order,
       NOT EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c_custkey
                     AND o.o_orderstatus = 'P') AS never_pending
FROM customer
""",
    category="functions",
)
def fn_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN / NOT EXISTS subqueries in the select list — the
    membership predicates with the famously divergent ANSI
    three-valued-logic corner: NOT IN against a subquery that yields
    any NULL is NULL for non-members (which is why production
    pipelines prefer NOT EXISTS). The subquery column here is a
    non-null key, so both engines agree bit-exactly while the
    operator still exercises Catalyst's RewritePredicateSubquery
    (IN -> semi join, NOT IN -> null-aware anti join, NOT EXISTS ->
    anti join) — three different join plans from three predicates."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return spark.sql(
        """
WITH big AS (SELECT o_custkey FROM {orders} WHERE o_totalprice > 250000)
SELECT c_custkey, c_name,
       c_custkey IN (SELECT o_custkey FROM big) AS has_big_order,
       c_custkey NOT IN (SELECT o_custkey FROM big) AS no_big_order,
       NOT EXISTS (SELECT 1 FROM {orders} o
                   WHERE o.o_custkey = c_custkey
                     AND o.o_orderstatus = 'P') AS never_pending
FROM {customer}
""",
        orders=o,
        customer=c,
    )


@query(
    "fn_aes_roundtrip",
    oracle="""
SELECT doc_id,
       text AS plain,
       text AS decrypted,
       CAST(TRUE AS BOOLEAN) AS roundtrip_ok
FROM documents WHERE doc_id < 100
""",
    category="functions",
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: aes_encrypt/aes_decrypt
    round-trip in deterministic ECB mode (GCM's random IV would make
    the ciphertext — and any hash of it — nondeterministic, so ECB
    is the only gradable mode; real deployments use GCM and never
    grade raw ciphertext). The graded columns are the PLAINTEXT, the
    decrypted output and the equality flag — the oracle knows only
    that decrypt(encrypt(x)) == x, so a broken key path, padding bug
    or charset mangling cannot cancel out."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    key = F.lit("0123456789abcdef")  # 16-byte AES-128 key
    ct = F.aes_encrypt(F.col("text").cast("binary"), key.cast("binary"), F.lit("ECB"))
    pt = F.aes_decrypt(ct, key.cast("binary"), F.lit("ECB")).cast("string")
    return d.select(
        "doc_id",
        F.col("text").alias("plain"),
        pt.alias("decrypted"),
        (pt == F.col("text")).alias("roundtrip_ok"),
    )


@query(
    "fn_width_bucket",
    oracle="""
SELECT CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 600000.0 THEN 13
            ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
GROUP BY bucket
""",
    category="functions",
)
def fn_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI width_bucket equi-width bucketing (the histogram
    primitive as a FUNCTION, vs agg_histogram's hand-rolled floor
    arithmetic). DuckDB has no width_bucket, so the oracle emulates
    the standard semantics (underflow->0, overflow->n+1, else
    floor((v-min)/w)+1) with the identical IEEE ops — the bucket
    width 600000/12=50000 is exactly representable, so both engines
    floor the same doubles."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(12)
            ).alias("bucket"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
        )
    )


@query(
    "fn_sql_function",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 0.9 AS DOUBLE) AS discounted,
       CASE WHEN o_totalprice > 200000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS band
FROM orders
""",
    category="functions",
)
def fn_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-LANGUAGE user-defined functions (Spark 4 CREATE FUNCTION
    ... RETURNS ... RETURN <expr>) — warehouse logic shared as
    catalog objects instead of engine-side code: the function body is
    a plain SQL expression, so Catalyst INLINES it (no Python, no
    serialization boundary, full pushdown through it). One scalar
    arithmetic function and one scalar CASE classifier, both applied
    in a SQL query; the oracle restates the inlined expressions."""
    harden_session(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION discount_price(p DOUBLE) "
        "RETURNS DOUBLE RETURN CAST(CAST(p AS DECIMAL(18,2)) * 0.9 AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p > 200000 THEN 'high' "
        "WHEN p > 100000 THEN 'mid' ELSE 'low' END"
    )
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        "SELECT o_orderkey, discount_price(o_totalprice) AS discounted, "
        "price_band(o_totalprice) AS band FROM orders"
    )


@query(
    "fn_zorder_key",
    oracle="""
WITH q AS (
  SELECT o_orderkey,
         CAST(o_custkey % 65536 AS BIGINT) AS x,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 65536 AS BIGINT) AS y
  FROM orders
)
SELECT o_orderkey, x, y,
       CAST(SUM(((x >> b) & 1) * POWER(4::BIGINT, b) * 2 +
                ((y >> b) & 1) * POWER(4::BIGINT, b)) AS BIGINT) AS z
FROM q, LATERAL (SELECT unnest(generate_series(0, 15)) AS b) g
GROUP BY o_orderkey, x, y
""",
    category="functions",
)
def fn_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key over two 16-bit dimensions: x = customer
    key mod 2^16, y = days since 1992-01-01 mod 2^16.  At 100 TB the
    key feeds repartitionByRange(z) + sortWithinPartitions(z) at write
    time; the query grades the key itself, bit-exact.  Thin adapter
    over api.zorder_key."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 65536).cast("long")
    y = (
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) % 65536
    ).cast("long")
    d = o.select("o_orderkey", x.alias("x"), y.alias("y"))
    return d.select(
        "o_orderkey", "x", "y", zorder_key(F.col("x"), F.col("y"), bits=16).alias("z")
    )


@query(
    "fn_sql_table_function",
    oracle="""
SELECT d.doc_id, g.i AS pos, g.tok
FROM documents d,
     LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok,
                     generate_subscripts(string_split(d.text, ' '), 1) AS i) g
WHERE d.doc_id < 25
""",
    category="functions",
)
def fn_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language TABLE function (CREATE FUNCTION ... RETURNS
    TABLE ... RETURN SELECT ...) applied as a correlated LATERAL —
    the catalog-shared tokenizer pattern: the expansion logic lives
    in the catalog as declarative SQL, Catalyst inlines it into the
    caller's plan (a plain Generate node — no UDTF worker, no Python
    boundary), and any query can LATERAL-join it. The scalar twin is
    fn_sql_function; the imperative twin is udtf_python."""
    harden_session(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sql_tokens(t STRING) "
        "RETURNS TABLE(pos INT, tok STRING) "
        "RETURN SELECT posexplode(split(t, ' '))"
    )
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 25)
    d.createOrReplaceTempView("docs_for_sqltvf")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos + 1 AS pos, t.tok
        FROM docs_for_sqltvf d, LATERAL sql_tokens(d.text) t
        """
    )


@query(
    "fn_surrogate_key",
    oracle="""
WITH k AS (
  SELECT c_custkey,
         CAST(('0x' || substring(md5(c_name || '|' || CAST(c_nationkey AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS sk
  FROM customer
)
SELECT c_custkey, sk,
       CAST(COUNT(*) OVER (PARTITION BY sk) AS BIGINT) AS sk_collisions
FROM k
""",
    category="functions",
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC surrogate keys — the warehouse key-generation
    pattern that replaces monotonically_increasing_id (whose values
    depend on partition layout and are unusable for reproducible
    dimension loads): a 60-bit integer derived from the md5 of the
    business key, identical on every engine, every run, every
    partitioning. The per-key collision count is the load-time audit
    (1 everywhere on this data; the birthday bound at 2^60 keeps it
    1 in practice at any realistic dimension size).

    Map-side key derivation; the audit window shuffles once on sk."""
    c = table(spark, sf_dir, "customer")
    sk = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("c_name"), F.lit("|"), F.col("c_nationkey").cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    k = c.select("c_custkey", sk.alias("sk"))
    from pyspark.sql.window import Window as W

    return k.select(
        "c_custkey",
        "sk",
        F.count(F.lit(1)).over(W.partitionBy("sk")).cast("long").alias("sk_collisions"),
    )


@query("fn_phonetic_blocking", oracle=None, category="functions")
def fn_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC blocking keys — census Soundex over the first word of
    every part name: the classic entity-resolution blocking
    complement to join_fuzzy_blocked's prefix keys (phonetic codes
    catch spelling variants Levenshtein blocking windows miss;
    candidate pairs then verify with an exact distance). Rows-only —
    DuckDB ships no soundex — with a pure-Python reimplementation of
    the census algorithm (incl. the H/W collapse rule) asserting
    every code in tests/test_quality.py.

    Per-code block sizes are the blocking-quality diagnostic: a hot
    code (like a hot shuffle key) means the block degenerates toward
    all-pairs and needs a longer compound key."""
    p = table(spark, sf_dir, "part")
    w1 = F.split(F.col("p_name"), " ").getItem(0)
    codes = p.select(F.soundex(w1).alias("code"), w1.alias("word"))
    return codes.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("word").alias("n_words"),
        F.min("word").alias("example"),
    )


@query(
    "fn_sql_pipe_syntax",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
HAVING COUNT(*) > 10
""",
    category="functions",
)
def fn_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4's |> operator chains, SPARK-49555 —
    the 2024 'SQL Has Problems' pipelined-SQL proposal landed as a
    first-class parser mode): the query reads top-to-bottom as
    FROM -> WHERE -> AGGREGATE -> WHERE instead of inside-out, and
    parses to the IDENTICAL Catalyst plan as the nested form — the
    oracle twin is the classic GROUP BY + HAVING spelling, so the
    hash match proves pipe syntax is pure sugar over the same
    semantics (exact-decimal sum convention intact through it)."""
    harden_session(spark)
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        "FROM orders "
        "|> WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "   GROUP BY o_orderstatus "
        "|> WHERE n_orders > 10 "
        "|> SELECT o_orderstatus, n_orders, total"
    )


@query(
    "fn_sql_parameterized",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice BETWEEN 50000.0 AND 250000.0
  AND o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
""",
    category="functions",
)
def fn_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (spark.sql(..., args=...) — the
    injection-safe query API, Spark 3.4+/4.x): named :markers bound
    from a dict, values passed as TYPED literals through the parser
    (a string cannot smuggle syntax). The oracle twin inlines the
    same literals; a hash match proves binding semantics equal
    textual substitution for well-typed values. Parameters reach
    Catalyst BEFORE optimization, so pushdown/pruning work exactly
    as with literal SQL — this is the API a query service should
    expose instead of f-strings."""
    harden_session(spark)
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders "
        "WHERE o_totalprice BETWEEN :lo AND :hi AND o_orderdate >= :cutoff "
        "GROUP BY o_orderpriority",
        args={
            "lo": 50000.0,
            "hi": 250000.0,
            "cutoff": datetime.datetime(1997, 1, 1),
        },
    )


@query(
    "fn_interval_arith",
    oracle="""
SELECT event_id,
       ts + INTERVAL 90 MINUTE AS plus_90m,
       ts - INTERVAL 1 DAY - INTERVAL 12 HOUR - INTERVAL 30 MINUTE
           AS minus_1d12h30m,
       ts + to_minutes(CAST(event_id % 60 AS BIGINT)) AS plus_row_minutes,
       ts + to_months(CAST(event_id % 12 AS INT)) AS plus_row_months,
       ts + to_hours(CAST(event_id % 5 AS BIGINT)) AS plus_scaled_hours,
       CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS TIMESTAMP) AS next_month_same_day
FROM events
""",
    category="functions",
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI INTERVAL arithmetic — the typed-interval surface next to
    fn_date's add_months/datediff: day-time interval literals
    (single- and multi-unit), per-row intervals built with
    make_dt_interval / make_interval from data columns, interval *
    integer scaling, and year-month addition with its end-of-month
    clamp (Jan 31 + 1 month = Feb 29/28 — both engines clamp, and
    the oracle proves the clamp matches row-for-row).  All
    calendar-aware JVM codegen — no epoch round-trips, which would
    get DST/overflow edge cases wrong at corpus scale."""
    e = table(spark, sf_dir, "events")
    ts = F.col("ts")
    return e.select(
        "event_id",
        (ts + F.expr("INTERVAL '90' MINUTE")).alias("plus_90m"),
        (ts - F.expr("INTERVAL '1 12:30' DAY TO MINUTE")).alias("minus_1d12h30m"),
        (
            ts
            + F.make_dt_interval(
                F.lit(0), F.lit(0), (F.col("event_id") % 60).cast("int"), F.lit(0.0)
            )
        ).alias("plus_row_minutes"),
        (
            ts
            + F.make_interval(
                F.lit(0), (F.col("event_id") % 12).cast("int"), F.lit(0), F.lit(0),
                F.lit(0), F.lit(0), F.lit(0.0),
            )
        ).alias("plus_row_months"),
        (ts + F.expr("INTERVAL '1' HOUR") * (F.col("event_id") % 5)).alias(
            "plus_scaled_hours"
        ),
        (ts.cast("date") + F.expr("INTERVAL '1' MONTH"))
        .cast("timestamp")
        .alias("next_month_same_day"),
    )


@query(
    "fn_sql_variables",
    oracle="""
SELECT o_orderpriority AS dyn_group,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice >= 75000.0 AND o_orderdate < DATE '1997-06-01'
GROUP BY o_orderpriority
""",
    category="functions",
)
def fn_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables + the IDENTIFIER clause (both
    first-class in Spark 4): thresholds DECLAREd once and SET per
    session (typed, injection-proof — the governed alternative to
    f-string SQL, same motivation as fn_sql_parameterized but with
    server-side state that multiple statements share), and the
    grouping column resolved DYNAMICALLY from a string variable via
    IDENTIFIER() — the metadata-driven-report shape.  Variables
    fold to literals at analysis time, so the physical plan is
    byte-identical to the hand-inlined query: pushdown and pruning
    are unaffected at any scale."""
    harden_session(spark)
    register_views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_lo DOUBLE DEFAULT 50000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff DATE DEFAULT DATE '1998-01-01'")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE group_col STRING DEFAULT 'o_orderpriority'"
    )
    spark.sql("SET VARIABLE price_lo = 75000.0")
    spark.sql("SET VARIABLE cutoff = DATE '1997-06-01'")
    return spark.sql(
        """
        SELECT IDENTIFIER(group_col) AS dyn_group,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice >= price_lo AND o_orderdate < cutoff
        GROUP BY IDENTIFIER(group_col)
        """
    )


@query(
    "fn_sql_scripting",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
)
SELECT CAST(((((SELECT n FROM c WHERE event_type = 'click') * 31
        + (SELECT n FROM c WHERE event_type = 'error')) * 31
        + (SELECT n FROM c WHERE event_type = 'purchase')) * 31
        + (SELECT n FROM c WHERE event_type = 'signup')) * 31
        + (SELECT n FROM c WHERE event_type = 'view') AS BIGINT)
        AS horner_checksum,
       CAST(5 AS BIGINT) AS n_iter
""",
    category="functions",
)
def fn_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4.0's BEGIN...END procedural blocks —
    SPARK-48338): a WHILE loop with local DECLAREd variables folds
    the five per-event-type counts into a base-31 Horner checksum,
    one real aggregation query per iteration — control flow that
    previously forced a driver-side Python loop now runs as a single
    governed SQL statement whose LAST statement's result set is the
    block's result.

    The loop body's scalar subquery is an ordinary aggregate over
    the fact table, so each iteration keeps full pushdown/pruning
    (predicate event_type = <literal> reaches the scan); the loop
    count is the BOUNDED event-type vocabulary, never
    data-proportional — scripting loops over data-sized domains is
    the anti-pattern this query's shape avoids.  Oracle: the
    closed-form Horner polynomial over the same five counts."""
    harden_session(spark)
    register_views(spark, sf_dir, "events")
    return spark.sql(
        """
        BEGIN
          DECLARE acc BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 0;
          DECLARE kinds ARRAY<STRING> DEFAULT
            ARRAY('click', 'error', 'purchase', 'signup', 'view');
          WHILE i < 5 DO
            SET acc = acc * 31 + (
              SELECT COUNT(*) FROM events
              WHERE event_type = element_at(kinds, i + 1)
            );
            SET i = i + 1;
          END WHILE;
          SELECT acc AS horner_checksum, CAST(i AS BIGINT) AS n_iter;
        END
        """
    )


@query(
    "fn_sql_execute_immediate",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_big
FROM orders
WHERE o_totalprice >= (SELECT MAX(o_totalprice) FROM orders) * 0.5
GROUP BY o_orderpriority
""",
    category="functions",
)
def fn_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4.0 dynamic SQL, SPARK-44751) in its
    two production shapes composed end to end: (1) INTO — a probe
    statement's scalar result (the corpus max price) captured
    directly into a session variable, no driver round-trip through
    Python; (2) named-parameter USING — the report statement lives
    in a STRING variable with a :threshold marker and executes with
    the derived bind value, the injection-proof way to run
    metadata-driven SQL held in config tables.

    Parameters bind at analysis time, so the executed plan is
    byte-identical to the hand-inlined query — the threshold
    predicate still reaches the parquet scan.  The probe is one
    1-row aggregate; the report is the ordinary partial/final
    aggregate; nothing about the dynamic dispatch changes the
    at-scale plan.  Oracle: the same report with the probe inlined
    as a scalar subquery."""
    harden_session(spark)
    register_views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE max_price DOUBLE DEFAULT 0.0")
    spark.sql(
        "EXECUTE IMMEDIATE 'SELECT MAX(o_totalprice) FROM orders' INTO max_price"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE report STRING DEFAULT "
        "'SELECT o_orderpriority AS priority, "
        "CAST(COUNT(*) AS BIGINT) AS n_big, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_big "
        "FROM orders WHERE o_totalprice >= :threshold "
        "GROUP BY o_orderpriority'"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE report USING max_price * 0.5 AS threshold"
    )


