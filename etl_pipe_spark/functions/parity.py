"""Numeric helpers that keep aggregates bit-identical across engines.

Summing doubles is order-dependent, and Spark's partial/final
aggregation order differs run to run — so a correctness gate that
hashes values needs exact arithmetic.  The recipe: cast each operand
to DECIMAL *before* arithmetic (prices/discounts carry <= 2 fractional
digits, so this is lossless), aggregate exactly, round once at the
end, and surface a stable DOUBLE.  The DuckDB oracle mirrors the same
expression, so both engines produce identical bits regardless of
execution order or parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Enough integer digits for 100 TB-scale sums; 4 fractional digits
# cover price*discount products exactly (2dp * 2dp).
MONEY = "decimal(18,4)"


def money(col: Column) -> Column:
    """Lossless decimal image of a price/rate column (<=2dp doubles)."""
    return col.cast(MONEY)


def dsum(expr: Column, scale: int = 2) -> Column:
    """Exact decimal sum -> round(scale) -> double.

    ``expr`` must already be decimal-typed (build it from ``money``
    operands) so the sum is exact and deterministic under any
    partitioning.
    """
    return F.round(F.sum(expr), scale).cast("double")


def davg(expr: Column) -> Column:
    """Bit-stable average: exact decimal sum -> round -> double / count.

    Not ``F.avg``: DuckDB's AVG returns DOUBLE (order-dependent sum)
    and the two engines' decimal-division scale rules differ.  Instead
    both sides compute ``CAST(round(sum(dec), 4) AS DOUBLE) /
    CAST(count AS DOUBLE)`` — the division inputs are identical bits,
    and IEEE double division is deterministic, so the quotient matches
    exactly.  NULL (not NaN/error) when the group has no non-null rows.
    """
    n = F.count(expr)
    return F.when(n > 0, dsum(expr, 4) / n.cast("double"))
