"""A lexicographic (hi, lo) order packed into one long.

A ``min`` over a struct plans as Sort + SortAggregate over its input;
a ``min`` over a long is a plain HashAggregate with map-side partials.
``hi·2^lo_bits + lo`` orders exactly as (hi, lo) does while
``hi - hi_min`` and ``lo`` fit their bit ranges. Outside that domain
the long would wrap silently (ANSI off) or overflow without naming the
value (ANSI on), so ``packed_pair`` checks both parts and raises an
error naming the query, the value and its bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _in_range(name: str, low: int, high: int, query: str) -> Column:
    c = F.col(name)
    return F.when(
        (c < low) | (c >= high),
        F.raise_error(
            F.concat(
                F.lit(f"{query}: {name} "),
                c.cast("string"),
                F.lit(f" outside [{low}, {high})"),
            )
        ),
    ).otherwise(c)


def packed_pair(hi: str, lo: str, lo_bits: int, query: str, hi_min: int = 0) -> Column:
    """Columns ``hi`` and ``lo`` packed as ``(hi - hi_min)·2^lo_bits +
    lo``: requires ``hi_min ≤ hi < hi_min + 2^(63 - lo_bits)`` and
    ``0 ≤ lo < 2^lo_bits``, and raises otherwise."""
    hi_max = hi_min + (1 << (63 - lo_bits))
    return (_in_range(hi, hi_min, hi_max, query).cast("long") - hi_min) * F.lit(
        1 << lo_bits
    ) + _in_range(lo, 0, 1 << lo_bits, query)


def unpacked(m: Column, lo_bits: int, hi_min: int = 0) -> tuple[Column, Column]:
    """The (hi, lo) pair behind a ``packed_pair`` value."""
    return F.shiftright(m, lo_bits) + hi_min, m % F.lit(1 << lo_bits)
