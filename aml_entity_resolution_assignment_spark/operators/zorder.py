"""Z-order (Morton) clustering for multi-dimensional data skipping.

The lakehouse layout optimization (Delta's OPTIMIZE ZORDER BY, the
classic Morton/Z-curve): interleave the bits of several normalized
column ranks into one sort key (`zorder_value`); a re-clustering
write range-partitions + sorts the table by it. Files then hold
points that are close in EVERY clustered dimension, so parquet
footer min/max stats prune scans for predicates on ANY subset of
those columns — the property a single-column sort cannot give
(sorting by x makes y stats useless).

All of it is closed-form integer column arithmetic (shift/mask/or
over literal bit positions) inside whole-stage codegen — no UDF, no
window, no shuffle. Normalization is an explicit (lo, hi) linear
rank per column — deterministic and SQL-reproducible (the
zorder oracle row recomputes every z-value), unlike rank-based
normalizations that need a global sort of their own.

At 100 TB this is a maintenance job shape: read a partition, compute
z, repartitionByRange(z) (sampled range bounds — no single reducer),
sortWithinPartitions(z), write back with per-file stats. The scan-side
benefit needs no reader support at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZBITS = 16  # bits per dimension


def zrank(col: Column, lo: float, hi: float, bits: int = ZBITS) -> Column:
    """Linear rank of a numeric column into [0, 2^bits): clamp to
    [lo, hi], scale, floor. Out-of-range values saturate at the edge
    ranks (never dropped/NULL-poisoned; NULL ranks 0 so NULL rows
    cluster together at the curve origin)."""
    if not hi > lo:
        raise ValueError("need hi > lo")
    m = (1 << bits) - 1
    scaled = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        / F.lit((hi - lo))
        * F.lit(float(1 << bits))
    )
    # NULL must be decided BEFORE the clamp: Spark's least/greatest
    # skip NULL operands, so least(m, NULL) would rank NULL at m
    return (
        F.when(col.isNull(), F.lit(0))
        .otherwise(F.greatest(F.lit(0), F.least(F.lit(m), scaled)))
        .cast("long")
    )


def interleave_bits(ranks: list[Column], bits: int = ZBITS) -> Column:
    """Morton interleave of k pre-ranked integer columns (each already
    in [0, 2^bits)): output bit (b * k + j) = bit b of ranks[j]. For
    the common k=2, bits=16 this is 32 OR terms of literal shifts —
    one codegen'd expression, total k*bits <= 63 so the z-value rides
    a signed long without wraparound."""
    k = len(ranks)
    if k < 2:
        raise ValueError("interleave needs >= 2 columns")
    if k * bits > 63:
        raise ValueError("k * bits must be <= 63 for a signed long key")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, r in enumerate(ranks):
            bit = F.shiftrightunsigned(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
    return z


def zorder_value(
    df_cols: list[tuple[Column, float, float]], bits: int = ZBITS
) -> Column:
    """z-value column from [(col, lo, hi), ...]."""
    return interleave_bits(
        [zrank(c, lo, hi, bits) for c, lo, hi in df_cols], bits
    )
