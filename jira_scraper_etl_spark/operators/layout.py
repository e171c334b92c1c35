"""Z-order (Morton) data layout: multi-dimensional clustering for scan
pruning.

At warehouse scale, a table queried by BOTH ``user_id`` ranges and time
ranges can't be sorted to serve both: a time-sorted layout gives every
file the full user range and vice versa. Interleaving the bits of the
two dimensions (the Morton / Z-order curve) makes file N cover a small
RECTANGLE in (user, time) space, so parquet min/max footer stats prune
files for either predicate — the layout trick behind Delta/Iceberg
``OPTIMIZE ZORDER BY``, built here from plain column expressions.

Everything stays inside whole-stage codegen: the interleave is a
16-term shift/mask/or expression per dimension, no UDF. The write is
one range exchange on the morton code + a partition-local sort —
exactly the shape of the training-shard writer (transform.py), with the
shard key replaced by the space-filling curve.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

MORTON_BITS = 16  # per dimension → 32-bit codes, rectangles of 2^-16 side


def scale_to_bits(col: Column, lo: Column, hi: Column,
                  bits: int = MORTON_BITS) -> Column:
    """Min-max scale an integer dimension onto [0, 2^bits): Z-ordering
    interleaves BIT POSITIONS, so dimensions must occupy the same bit
    budget — interleaving a 4-bit user range with a 20-bit time range
    raw would leave every split dominated by the time dimension's high
    bits (measured: per-file user range stays 100% of global). Exact
    integer arithmetic: (col−lo)·(2^bits−1) div max(1, hi−lo)."""
    span = F.greatest(F.lit(1).cast("long"), (hi - lo).cast("long"))
    num = (col.cast("long") - lo.cast("long")) * F.lit((1 << bits) - 1)
    # exact integral division with Column operands: subtract the
    # remainder first so the double division is of an exact multiple
    # (quotient ≤ 2^bits, exactly representable → bit-exact, matching
    # the oracle's integer `//`)
    return ((num - F.pmod(num, span)) / span).cast("long")


def morton_interleave(x: Column, y: Column, bits: int = MORTON_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    x's bit k lands at position 2k, y's at 2k+1. Pure shift/mask/or
    expression tree (2·bits terms), fully codegen'd, no shuffle.

    Operands are widened to LONG first: shiftleft follows its input
    type, so an INT dimension would wrap at bit 31 (observed: the
    (65535, 65535) code came back -1 instead of 2^32-1)."""
    x, y = x.cast("long"), y.cast("long")
    code = F.lit(0).cast("long")
    for k in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k))
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k + 1))
    return code


def zorder_write(df: DataFrame, x: Column, y: Column, path: str,
                 n_files: int, bits: int = MORTON_BITS) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Z-order curve of (x, y).

    Each dimension is first min-max scaled onto the full bit budget
    (see scale_to_bits — unscaled dims of unequal spans degenerate to
    a plain sort on the wider one), with the global min/max arriving
    as a 1-row join (Catalyst broadcasts it), not a driver collect.
    Then one repartitionByRange exchange on the interleaved code (Spark
    samples the code distribution, so files stay row-balanced under
    skew) + a partition-local sort so row groups within each file are
    curve-ordered too (row-group-level stats pruning inside files).
    No global sort; at warehouse scale the min/max row comes free from
    table-level column stats."""
    d = df.withColumn("_zx", x.cast("long")).withColumn("_zy", y.cast("long"))
    stats = d.agg(F.min("_zx").alias("_xlo"), F.max("_zx").alias("_xhi"),
                  F.min("_zy").alias("_ylo"), F.max("_zy").alias("_yhi"))
    sx = scale_to_bits(F.col("_zx"), F.col("_xlo"), F.col("_xhi"), bits)
    sy = scale_to_bits(F.col("_zy"), F.col("_ylo"), F.col("_yhi"), bits)
    (d.join(stats)
       .withColumn("_z", morton_interleave(sx, sy, bits))
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z", "_zx", "_zy", "_xlo", "_xhi", "_ylo", "_yhi")
       .write.mode("overwrite").parquet(path))
