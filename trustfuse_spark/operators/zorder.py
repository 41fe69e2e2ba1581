"""Z-order (Morton) value for multi-dimensional data skipping.

A partitioned table pruned on one key still scans everything when filtered
on another; interleaving the bits of two sort keys into one Morton value
and range-partitioning + sorting on it keeps rows close in BOTH dimensions,
so min/max footer stats prune parquet row groups for either predicate —
the standard lakehouse OPTIMIZE ZORDER BY step.

The z-value is pure integer arithmetic (shift/mask/or, whole-stage
codegen, SQL-replayable bit for bit); the correctness gate's ``asof_suite``
checks it against an oracle. Clustering a table by it is
``df.repartitionByRange(n, z).sortWithinPartitions(z)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of two non-negative integer
    columns: bit i of ``a`` lands at 2i, bit i of ``b`` at 2i+1. Columns
    are masked to ``bits`` first (values beyond the budget wrap — pick
    bits to cover the domain, or pre-bucket skewed domains).
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    mask = (1 << bits) - 1
    am = a.cast("long").bitwiseAND(F.lit(mask))
    bm = b.cast("long").bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(am, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(bm, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z

