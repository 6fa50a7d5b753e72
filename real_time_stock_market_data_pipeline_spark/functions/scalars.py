"""Scalar helper expressions (SURVEY.md §2.8) + cross-engine numeric parity.

Cross-engine float determinism (used by every oracle-checked plan):

* ``r6`` — deterministic 6-decimal rounding as ``floor(x*1e6 + 0.5)/1e6``.
  Both Spark and DuckDB evaluate this as the same 3 IEEE-754 double ops, so
  the result is bit-identical in both engines given bit-identical input —
  unlike the engines' native ``round`` which disagree on shortest-repr edge
  doubles (Java BigDecimal HALF_UP vs C rounding).
* ``dsum`` — order-independent SUM: cast each double term to DECIMAL(18,6)
  (deterministic per-row), sum exactly in decimal, cast back to double.
  Shuffle/partition order then cannot perturb the result, in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def r6(c: Column) -> Column:
    """Deterministic half-up rounding to 6 decimals; NaN/NULL pass through."""
    rounded = F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return F.when(F.isnan(c), c).otherwise(rounded)


def r6_sql(expr: str) -> str:
    """DuckDB twin of ``r6`` — identical double arithmetic."""
    return (
        f"CASE WHEN isnan(CAST(({expr}) AS DOUBLE)) THEN CAST(({expr}) AS DOUBLE) "
        f"ELSE floor(CAST(({expr}) AS DOUBLE) * 1000000.0::DOUBLE + 0.5::DOUBLE) "
        f"/ 1000000.0::DOUBLE END"
    )


def dsum(c: Column) -> Column:
    """Order-independent double sum via exact decimal accumulation."""
    return F.sum(c.cast("decimal(18,6)")).cast("double")


def dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
