"""Z-order (Morton) multi-dimensional layout clustering.

The storage-layout half of data skipping: parquet footers carry
per-file min/max statistics, but a scan can only PRUNE files whose
stat ranges miss the predicate — and a table sorted by one column has
useless ranges for every other column.  Interleaving the bits of two
(or more) dimension keys into one Morton code and range-sorting on it
gives every file a tight bounding BOX in dimension space, so
predicates on EITHER dimension prune (the technique behind Delta's
``OPTIMIZE ZORDER BY`` and ClickHouse/DuckDB space-filling-curve
clustering — public literature: Morton 1966; Orenstein & Merrett
1984).

At 100 TB the write path would be::

    df.withColumn("z", morton32(gx, gy))
      .repartitionByRange(N_FILES, "z")
      .sortWithinPartitions("z")
      .write.parquet(...)

— one range shuffle, identical cost to any global sort, after which
min/max pruning works on both dimensions at once.  The registered
query (``plans/layout_plans.py``) grades the effect: it bins rows by
z-rank vs by a linear single-key rank and emits each bin's bounding
box plus a prunability flag for a fixed predicate box — the z-order
bins prune, the linear bins don't.

Everything here is exact integer bit arithmetic (the classic
spread-bits magic numbers), so the layout decision itself sits under
the DuckDB differential harness — both engines interleave the same
bits.  Reference stake: SURVEY §2.12's scan-efficiency mandate; the
reference engine has no layout optimizer at all (full-table rescans,
``extract.py``), so this is pure added surface.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# spread-bits masks: 16 input bits -> even bit positions of 32
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` onto even bit positions.

    ``c`` must be non-negative and < 2^16 (callers grid-scale first).
    Stays in bigint throughout — no 32-bit overflow at the final
    ``<< 1`` of the partner dimension.
    """
    out = c.cast("bigint")
    for shift, mask in _SPREAD:
        out = out.bitwiseOR(F.shiftleft(out, shift)).bitwiseAND(F.lit(mask))
    return out


def morton32(x: Column, y: Column) -> Column:
    """Interleave two 16-bit grid coordinates into one 32-bit Morton
    code: x on even bits, y on odd bits."""
    return spread16(x).bitwiseOR(F.shiftleft(spread16(y), 1))


def spread16_sql(expr: str, prefix: str) -> str:
    """The DuckDB twin of :func:`spread16` as chained lateral column
    aliases (same masks, same order — the oracle interleaves the same
    bits)."""
    steps = []
    cur = expr
    for i, (shift, mask) in enumerate(_SPREAD):
        name = f"{prefix}{i}"
        steps.append(f"(({cur}) | (({cur}) << {shift})) & {mask} AS {name}")
        cur = name
    return ",\n         ".join(steps)
