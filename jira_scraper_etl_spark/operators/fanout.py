"""Conditional fan-out for CPU-heavy map stages over narrow scans.

The pattern this solves: interpreted per-row work (higher-order-function
tokenize/shingle/char-fold pipelines) downstream of a SMALL parquet scan.
Spark sizes scan partitions by bytes, so a few-MB file is 1-2 splits and
the whole expensive map pass runs in 1-2 tasks — measured 4.5× sf0.1→sf1
scaling on span dedup before the round-3 fix. A round-robin
``repartition`` fans the rows across every core first.

But the repartition is itself a full shuffle of the raw text, and paying
it unconditionally taxes the regimes that don't need it:

- **warehouse-wide scans** (the 100 TB case): the scan already has ≥
  defaultParallelism splits; the extra exchange just burns a stage.
- **tiny inputs**: the single-task pass is already sub-second — cheaper
  than the shuffle + extra stage it would buy (measured: span dedup
  0.44 s unpartitioned vs 1.13 s with the unconditional exchange at
  sf0.1's 0.6 MB input).

``fan_out`` keeps the exchange only in the middle regime: scan narrower
than the core count AND enough bytes that single-task CPU time dominates.
Both checks come from the logical plan's size estimate — no physical
planning, no job.

The break-even point depends on the map stage's per-byte cost, so the
threshold is a per-call-site argument with two calibrated presets:

- ``HEAVY`` (64 KiB): cryptographic-hash-per-token pipelines (MinHash
  shingle+md5, SimHash, char-fold flagships) at ~5-10 s/MB single-core —
  fan out everything beyond toy scale (measured 3.4 s → 0.6 s at sf0.1
  for the MinHash shingle stage).
- ``LIGHT`` (2 MiB): tokenize/explode-only passes at ~0.5-1 s/MB —
  below ~2 MB the single-task pass beats the shuffle (the span-dedup
  measurement above); the sf1 soak's ~6 MB input still fans out,
  preserving the soak's recorded near-linear scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

HEAVY = 64 * 1024
LIGHT = 2 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (scan-file bytes for a
    parquet scan, scaled through projections) — logical-plan only."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fan_out(df: DataFrame, min_bytes: int = LIGHT) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` — but only when
    it pays: skipped when the scan is already wide (estimated size spans
    ≥ parallelism × maxPartitionBytes splits; the 100 TB regime) and when
    the input is too small for single-task CPU time to matter
    (< ``min_bytes``; the toy-scale regime). Use upstream of interpreted
    HOF-heavy map stages with the preset matching their per-byte cost."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    size = _plan_size_bytes(df)
    if size is None:
        return df.repartition(par)
    if size < min_bytes:
        return df
    max_split = spark._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    if size >= par * max_split:  # scan already ≥ par splits
        return df
    return df.repartition(par)
