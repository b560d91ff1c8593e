"""Z-order (Morton) clustering for multi-column data skipping.

At 100 TB, sorting a table by ONE column gives parquet row-group min/max
stats that prune scans on that column only; filters on a second column
read everything.  Interleaving the bits of several quantized columns into
one Morton key and range-partition-sorting by it clusters the data so
EVERY participating column has tight per-row-group ranges — the same
data-layout technique lakehouse engines (Delta OPTIMIZE ZORDER BY,
Iceberg sort orders) apply before compaction; the writer range-partitions
and sorts by :func:`zorder_key`.  The key is a pure integer expression
tree — map-only, and bit-for-bit replayable in the DuckDB oracle
(quantization divides stay exact: products are < 2^53, and double
division + floor of exact doubles is correctly rounded in both engines).

Measured locally (``tests/test_plan_audits.py``): a two-column box filter
over a Z-ordered layout reads a small fraction of the bytes the same
filter reads over an insertion-ordered layout, with identical results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Bits per quantized column in the Morton key.
_BITS = 8

def quantize(col: Column, lo: int, hi: int) -> Column:
    """Map an integer column from [lo, hi] onto [0, 2^8): exact
    integer-in-double arithmetic (floor((c - lo) * (2^8 - 1) / (hi -
    lo))), clamped into range so out-of-bounds values degrade to the edge
    cells instead of corrupting the interleave."""
    if hi <= lo:
        raise ValueError(f"invalid bounds [{lo}, {hi}]")
    top = (1 << _BITS) - 1
    q = F.floor(
        ((col.cast("long") - F.lit(lo)) * F.lit(top)) / F.lit(hi - lo)
    ).cast("long")
    return F.least(F.greatest(q, F.lit(0)), F.lit(top))


def zorder_key(cols: list[Column], bounds: list[tuple[int, int]]) -> Column:
    """Morton key: bit i of quantized column j lands at position
    ``i * n_cols + j``.  A pure shift/and/or expression tree
    (``8 * n_cols`` terms) — whole-stage-codegen friendly, no UDF."""
    if len(cols) != len(bounds):
        raise ValueError("one (lo, hi) bound pair per column")
    qs = [
        quantize(c, lo, hi) for c, (lo, hi) in zip(cols, bounds)
    ]
    n = len(qs)
    z = F.lit(0).cast("long")
    for i in range(_BITS):
        for j, q in enumerate(qs):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z
