"""Z-order (Morton) codes for multi-dimensional data skipping.

A parquet lake prunes files by min/max column stats. Sorting by one
column gives perfect pruning on it and none on any other; interleaving
the bits of two dimensions into a single *z-value* and range-sorting by
it bounds every file's extent in BOTH dimensions, so predicates on
either column (or both) skip most files. This is the layout trick behind
Delta/Iceberg `OPTIMIZE ZORDER BY`; the z-value here is a plain column
expression, nothing table-format specific (q96 reports its buckets'
extents).

The Spark expression and the DuckDB SQL fragment are generated from the
same bit loop, so oracles can reproduce z-values bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue(x: Column, y: Column, bits: int = 8) -> Column:
    """Interleave the low ``bits`` of two non-negative ints (x even
    positions, y odd) into a Morton code — pure JVM bitwise ops."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zvalue_sql(x: str, y: str, bits: int = 8) -> str:
    """The identical Morton code as a DuckDB/ANSI SQL expression.

    Every term is fully parenthesized: DuckDB (PostgreSQL rules) gives
    `<<` and `|` the SAME precedence, left-associative, so a bare
    `a << 1 | b << 3` chain would re-shift the accumulated value and
    overflow."""
    parts = []
    for i in range(bits):
        parts.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        parts.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"
