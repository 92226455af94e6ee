"""Data-layout operators: Z-order (Morton) clustering for multi-column
file skipping.

The 100 TB problem this solves: a table range-partitioned (or sorted) on
one column prunes scans on THAT column only — a predicate on a second
column touches every file. Interleaving the bits of both columns into one
Morton key and range-partitioning + sorting on it gives every file a
small min/max hyper-rectangle in BOTH dimensions, so engines that prune
on column statistics (parquet row-group stats; Delta/Iceberg file stats
— the lakehouse ``OPTIMIZE ZORDER BY`` feature this re-expresses) skip
most files for 2-d box predicates. The registered
``zorder_pruning_report`` (plans/layout_queries.py) grades that effect
on per-bucket min/max under both layouts.

Everything here is pure column arithmetic (bit shifts/masks inside
whole-stage codegen) — no UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_key(a: Column | str, b: Column | str, bits: int = 10) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into one Z-value: bit i of ``a`` lands at position 2i, bit i
    of ``b`` at 2i+1. Locality in (a, b) becomes locality in the key —
    the reason a range-partition on it yields tight per-file bounding
    boxes in both dimensions. Pure shift/mask expression: codegen-able,
    and spelled identically in ANSI SQL (see ``morton_sql``) so the
    oracle matches bit-for-bit."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    ca = ca.cast("long")
    cb = cb.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def morton_sql(a: str, b: str, bits: int = 10) -> str:
    """The DuckDB/ANSI twin of ``morton_key`` — same term order, same
    left-fold addition, integer-exact on both engines."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)

