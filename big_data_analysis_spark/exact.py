"""Exact-aggregation helpers for oracle parity.

Summing IEEE doubles is order-dependent: a 32-thread Spark sum and a
DuckDB sum of the same column differ in the last ulps, which breaks
the driver's value-hash comparison. Worse, casting a *derived* double
(e.g. a 3-factor product with 6 decimal digits) to DECIMAL is
tie-broken differently by the two engines near scale midpoints
(Spark: HALF_UP on the double's exact expansion; DuckDB: rounding of
the scaled double).

Convention used by every oracle-checked aggregate in this engine —
validated bit-exact in tests:

  1. Cast each RAW column to DECIMAL(18,2). All fixture measures are
     2-decimal-valued doubles (verified in FIXTURES), so the nearest
     scale-2 decimal is unambiguous in both engines.
  2. Do products/sums in DECIMAL arithmetic — exact, associative,
     order-independent, identical across engines.
  3. Cast the final aggregate to DOUBLE — deterministic
     nearest-double, identical across engines.

Cost: one widening conversion per row — negligible next to the scan —
and scale-safe: DECIMAL(28,2)+ headroom holds sums over 1e10 rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dcol(col: Column) -> Column:
    """Raw 2-decimal-valued double column -> exact decimal."""
    return col.cast(DEC)


def dsum(col: Column) -> Column:
    """Order-independent exact sum of a raw double column -> double."""
    return F.sum(col.cast(DEC)).cast("double")


def dsum_expr(dec_expr: Column) -> Column:
    """Exact sum of an already-decimal expression -> double."""
    return F.sum(dec_expr).cast("double")


def davg(col: Column) -> Column:
    """Exact-sum average: CAST(SUM(DECIMAL) AS DOUBLE)/COUNT(col)."""
    return dsum(col) / F.count(col)


def revenue_dec() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dcol(F.col("l_extendedprice")) * (F.lit(1) - dcol(F.col("l_discount")))


# --- SQL-side twins (DuckDB), textually parallel ---

def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_dsum_expr(dec_expr: str) -> str:
    return f"CAST(SUM({dec_expr}) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)
