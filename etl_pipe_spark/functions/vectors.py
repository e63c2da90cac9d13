"""Vector math over ``array<float>`` embedding columns — native
expressions only (zip_with + sequential fold), no UDFs.

Bit-parity note: elements are cast to double *before* any arithmetic
and folded left-to-right, which matches DuckDB's
``list_dot_product(list_transform(v, x -> CAST(x AS DOUBLE)), ...)``
exactly (verified: identical IEEE bits including sqrt/div chains), so
cosine values can be hash-compared without rounding.

At 100 TB scale these expressions stay inside whole-stage codegen;
the LSH/IVF operators in operators/similarity.py bound the candidate
set so the dot-product count stays linear, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(|a|*|b|); inputs must already be double arrays.

    ``try_divide`` so a zero vector yields NULL instead of an ANSI
    DIVIDE_BY_ZERO error — exactly DuckDB's 0.0/0.0 -> NULL, so a
    ``cosine >= tau`` filter drops zero-vector pairs identically in
    both engines (NULL is never >= tau).  Bit-identical to plain
    division whenever the norms are nonzero.
    """
    return safe_div(dot(a, b), norm(a) * norm(b))


def safe_div(num: Column, den: Column) -> Column:
    """Division with DuckDB's zero semantics (0-divisor -> NULL, not an
    ANSI exception) — use for every norm-product denominator so corpora
    containing zero embeddings don't kill the job."""
    return F.try_divide(num, den)


# DuckDB oracle fragments mirroring the expressions above.
DUCK_VEC = "list_transform({col}, x -> CAST(x AS DOUBLE))"
DUCK_DOT = "list_dot_product({a}, {b})"
