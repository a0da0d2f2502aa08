"""Z-order (Morton) keys for multi-column data layout.

Single-column sort gives tight parquet min/max stats on ONE column and
destroys them on every other; a Z-order curve interleaves the bits of
several quantized columns so files cover a small hyper-rectangle of the
key space and range predicates on ANY of the curve columns prune files.
This is the layout trick behind Delta OPTIMIZE ZORDER BY / Iceberg
sort-order z-curves, built here from pure Spark expressions: the key is
a fold of shift/mask/or terms, fully inside WholeStageCodegen — no UDF,
no shuffle beyond the final range partitioning.

Scale notes: ``bits`` per column bounds the curve resolution; b bits ×
k columns must fit a signed 64-bit key (k*b <= 63). 12-16 bits per
column is plenty — resolution only needs to exceed the file count by a
few curve cells per file.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int | list[int] = 16) -> Column:
    """Morton key: column bits interleave round-robin from the MOST
    significant end down — round ``i`` places the i-th-highest bit of
    every column that has one. Columns may carry DIFFERENT bit widths;
    a narrower column simply drops out of later (lower) rounds, so its
    whole width participates in the coarse curve splits. MSB-first
    matters for unequal widths: interleaving from the low end would
    push the wider column's excess bits to the TOP of the key, making
    the coarsest curve split single-column — exactly the linear-sort
    layout z-order exists to avoid. Matching each column's width to
    its cardinality matters for the same reason (dead resolution
    stretches curve cells). Inputs must already be non-negative ints
    below ``2**width`` (see :func:`quantize`)."""
    k = len(cols)
    if k == 0:
        raise ValueError("need at least one column")
    widths = [bits] * k if isinstance(bits, int) else list(bits)
    if len(widths) != k:
        raise ValueError(f"{k} cols but {len(widths)} bit widths")
    total = sum(widths)
    if total > 63:
        raise ValueError(f"total {total} bits exceeds a signed int64")
    terms = []
    pos = total
    for i in range(max(widths)):
        for j, c in enumerate(cols):
            if i < widths[j]:
                pos -= 1
                bit = F.shiftright(
                    c.cast("long"), widths[j] - 1 - i
                ).bitwiseAND(F.lit(1))
                terms.append(F.shiftleft(bit, pos))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def quantize(col: Column, lo: Column | float, hi: Column | float,
             bits: int = 16) -> Column:
    """Scale a numeric column into ``[0, 2**bits)`` given its (global)
    min/max — rank-free quantization, exact at the ends, clamped so
    hi maps to the top cell instead of overflowing."""
    span = F.lit(hi) - F.lit(lo) if not isinstance(hi, Column) else hi - lo
    lo_c = F.lit(lo) if not isinstance(lo, Column) else lo
    cells = (1 << bits) - 1
    scaled = ((col - lo_c) * cells / F.nullif(span, F.lit(0))).cast("long")
    return F.least(F.greatest(F.coalesce(scaled, F.lit(0)), F.lit(0)),
                   F.lit(cells))
