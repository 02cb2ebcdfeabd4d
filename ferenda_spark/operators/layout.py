"""Data layout: Z-order (Morton) clustering for multi-dim pruning.

At 100 TB the cheapest scan is the one that never reads the file:
parquet/Iceberg file-level min/max stats prune a scan only when the
filtered column is roughly sorted across files.  Sorting by one
column destroys locality in every other; interleaving the bits of
two columns into one Morton key (Z-order) gives both columns bounded
per-file ranges simultaneously — the ``OPTIMIZE ZORDER BY`` idea of
Delta/Iceberg, restated as a pure column expression.

:func:`zorder_key2` is the Morton interleave of two 31-bit
non-negative ints as ONE whole-stage-codegen BIGINT expression
(shift/and/or magic-number spreads — no UDF, no shuffle; negative or
over-range inputs are clamped monotonically, so ordering is preserved
and the key never goes negative).

The reference has no layout optimizer (its stores are external
servers); this is infrastructure the Iceberg graph tables of the
north star need for predicate-driven access on (e.g.) ``(pred,
subj-hash)`` or ``(domain-hash, fetch-date)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MASKS2 = (  # spread 31 bits to even positions (gap 1)
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _clamp(c: Column, bits: int) -> Column:
    """Monotone clamp into [0, 2^bits): negatives -> 0, over-range ->
    the max — ordering preserved, interleave stays in-contract."""
    return F.least(F.greatest(c.cast("long"), F.lit(0)),
                   F.lit((1 << bits) - 1))


def _spread(c: Column, masks) -> Column:
    for shift, mask in masks:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def spread2(c: Column) -> Column:
    """31-bit int -> its bits at even positions of a BIGINT."""
    return _spread(_clamp(c, 31), _MASKS2)


def zorder_key2(x: Column, y: Column) -> Column:
    """Morton interleave of two 31-bit ints (x on even bits)."""
    return spread2(x).bitwiseOR(F.shiftleft(spread2(y), 1))


def py_zorder2(x: int, y: int) -> int:
    """Pure-Python twin of :func:`zorder_key2` (bit-by-bit)."""
    x = min(max(int(x), 0), (1 << 31) - 1)
    y = min(max(int(y), 0), (1 << 31) - 1)
    out = 0
    for i in range(31):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out
