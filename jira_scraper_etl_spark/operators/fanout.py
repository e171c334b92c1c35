"""Conditional fan-out for CPU-heavy map stages over narrow scans.

The pattern this solves: interpreted per-row work (higher-order-function
tokenize/shingle/char-fold pipelines, per-row Python decode) downstream
of a SMALL parquet scan. Spark sizes scan partitions by bytes, so a
few-MB file is 1-2 splits and the whole expensive map pass runs in 1-2
tasks. A round-robin ``repartition`` fans the rows across every core
first.

The repartition is itself a shuffle of the scanned columns, so
``fan_out`` keeps it only where the plan says it can pay, by one rule
worked out from Catalyst's logical-plan size estimate (no physical
planning, no job):

- **no estimate**: fan out.
- **below** ``MIN_FAN_OUT_BYTES`` (64 KiB): skip. A toy scan's
  single-task pass is already cheaper than the extra stage.
- **at least** ``defaultParallelism × filesMaxPartitionBytes``: skip.
  The scan already has one split per core; another exchange only burns
  a stage (the warehouse-wide regime).
- otherwise: fan out to ``defaultParallelism``.

The floor is 64 KiB because it lies between where the exchange was
measured to lose and to win: on the media doc_id scan at 1,000 docs
(24 KB) the single-task pass is cheaper than the extra stage; from about
100 KB up
the fanned-out pass measured as fast or faster at nearly every site,
hash-per-token pipelines, tokenize/explode-only passes and Python
decodes alike. BASELINE.md has the numbers, including the exception.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MIN_FAN_OUT_BYTES = 64 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (scan-file bytes for a
    parquet scan, scaled through projections) — logical-plan only."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` when the
    estimated size is unknown, or at least ``MIN_FAN_OUT_BYTES`` and
    below ``defaultParallelism × filesMaxPartitionBytes``; ``df``
    unchanged otherwise. Use upstream of interpreted per-row map
    stages."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    size = _plan_size_bytes(df)
    if size is None:
        return df.repartition(par)
    if size < MIN_FAN_OUT_BYTES:
        return df
    max_split = spark._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    if size >= par * max_split:  # scan already ≥ par splits
        return df
    return df.repartition(par)
