"""Table loading helpers over the driver-generated parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under ``{sf_dir}/{name}.parquet``.

Scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; callers must select narrow and
filter early (verified via .explain in tests).  A local file's
inferred schema is memoized (``_read_parquet``), so only the first
read of a file runs Spark's footer job.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import harden_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Bounded dimension tables: safe to broadcast at ANY scale factor
# (region=5, nation=25 rows always; supplier/part grow slowly).
BROADCAST_SAFE = ("region", "nation")


_SCHEMAS: dict[tuple, StructType] = {}
# the session settings that change what parquet schema inference returns
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reading a local regular file
    through the schema inferred at its first read.  Inference runs a
    one-task job over the footer on every call; the memo key is the
    file's realpath, mtime and size plus the settings that inference
    reads.  Any other path (a directory, a URI, a glob) is inferred on
    every call."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        st.st_mtime_ns,
        st.st_size,
        *(spark.conf.get(k) for k in _INFER_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    harden_session(spark)
    if name == "events":
        return _events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to TimestampType (UTC session) whatever
    the fixture's physical layout is — the driver has shipped both:

    - TIMESTAMP(NANOS): Spark 4 refuses to read it natively, so it
      arrives as a long (nanosAsLong) and is truncated to micros
      with INTEGER division (ns epochs ~1.7e18 exceed the 53-bit
      double mantissa; a float divide would corrupt timestamps).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; the cast to TimestampType is micro-exact under
      the pinned UTC session timezone.

    Both match DuckDB's reading of the same file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":  # raw nanos
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:  # timestamp or timestamp_ntz, already micros
        ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts", ts)


_PLENTY = 1 << 30  # "layout parallelizes fine" sentinel -> spread no-ops


def _parse_size_bytes(v: str) -> int:
    """Spark size-suffixed conf string -> bytes ('128m', '1g', '134217728').
    Mirrors JavaUtils.byteStringAsBytes for the suffixes Spark accepts;
    raises on anything else (caller degrades to the no-op sentinel)."""
    s = str(v).strip().lower()
    for suf, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("tb", 1 << 40), ("pb", 1 << 50),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
        ("t", 1 << 40), ("p", 1 << 50), ("b", 1),
    ):
        if s.endswith(suf):
            return int(s[: -len(suf)]) * mult
    return int(s)


def _planned_scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row-bearing scan tasks Spark will plan for the table — the
    byte-range split count ceil(file bytes / maxPartitionBytes)
    CAPPED at the parquet footer's row-group count: parquet is only
    splittable at row-group boundaries, so a single-row-group file
    larger than maxPartitionBytes still yields ONE row-bearing task
    no matter how many byte ranges are planned (r13 ADVICE: the raw
    byte arithmetic no-op'ed on exactly the degenerate layout §2.5
    targets).  Local paths only; anything un-stat-able/un-parsable
    reports "plenty" so spread_table never repartitions a layout it
    cannot see."""
    import os

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        size = os.path.getsize(path)
        mpb = _parse_size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        )
    except (OSError, ValueError, TypeError):
        return _PLENTY
    splits = max(1, -(-size // mpb))
    if splits > 1:
        try:
            import pyarrow.parquet as pq

            splits = min(splits, max(1, pq.ParquetFile(path).metadata.num_row_groups))
        except Exception:
            pass  # keep the byte arithmetic if the footer is unreadable
    return splits


def spread_table(spark: SparkSession, sf_dir: str, name: str, *keys: str) -> DataFrame:
    """``spread`` over the table's own scan."""
    return spread(table(spark, sf_dir, name), sf_dir, name, *keys)


def spread(df: DataFrame, sf_dir: str, name: str, *keys: str) -> DataFrame:
    """Unsplittable-input mitigation (optimization guide §2.5: "one
    huge unsplittable file ... otherwise repartition immediately after
    the read"): ``df`` hash-repartitioned on ``keys`` to
    defaultParallelism when (and only when) the scan of table ``name``
    plans fewer row-bearing tasks than that.

    The fixture tables are single-file, SINGLE-ROW-GROUP parquet, so
    every scan plans exactly one row-bearing task — all per-row
    compute between the scan and the first Exchange runs
    sequentially, and AQE folds the small shuffles of such a table
    into one partition too.  Keys are unique and high-cardinality
    (guide §2.5 synthetic-key note: a skewless key, never rand()).  On
    a production layout — many files / row groups, planned splits >=
    cores — the guard makes this a provable no-op, so NO extra
    Exchange exists at 100 TB.  Deterministic: hash partitioning by a
    stable key commutes with every aggregation / equi-join /
    key-partitioned window / row-wise filter placed on top (callers
    are restricted to those shapes, each re-verified against its
    oracle or recorded hash)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if _planned_scan_splits(spark, sf_dir, name) >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, *[F.col(k) for k in keys])


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so SQL-expressed queries can run textually
    parallel to their DuckDB oracle twin."""
    for n in names or TABLES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
