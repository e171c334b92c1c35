"""Streaming MERGE INTO a versioned snapshot table — the canonical
lakehouse CDC sink: ``foreachBatch`` applies each micro-batch of
change rows as a keyed upsert against the latest committed snapshot
and commits the merged result as the next version. Reference analog:
the T4 full-rewrite at the reference's ``transformer.py:359`` — where
the reference rewrites whole JSONL outputs per run, this sink rewrites
whole SNAPSHOTS per micro-batch with manifest-committed visibility.

Exactly-once, built from two at-least-once halves:

* Structured Streaming's ``foreachBatch`` replays a batch (same
  ``batch_id``) after any crash between the sink's commit and the
  checkpoint's — so the sink is IDEMPOTENT BY BATCH ID: every committed
  version records the micro-batch id that produced it, and a replayed
  id (``versioned.committed``) is a no-op.
* A crash MID-commit leaves a manifest-less ``v=N`` directory that
  every reader ignores (operators/versioned.py protocol: data first,
  manifest last via atomic rename) — the previous snapshot stays
  readable and the replayed batch re-merges on top of it.

Convergence: the merge's value updates are exact-DECIMAL additions and
integer counts — associative and commutative — so any micro-batch
slicing of the change stream converges to the one-shot batch MERGE
(the crash-resume differential in tests/test_streaming_merge.py pins
this).

Scale shape: the per-batch delta aggregation is map-side combined; the
upsert is ONE full-outer shuffle join per micro-batch (the
merge_upsert_customer_balance plan — no broadcast assumed, AQE handles
skew); at warehouse scale the full-snapshot rewrite becomes a
partitioned MERGE (rewrite only touched partitions), which changes the
file layout, not this sink's commit or idempotence protocol.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators import versioned as V

# The accumulator type is deliberately WIDER than the source column's
# decimal(12,2): a running balance absorbs unbounded stream volume, and
# a hot key concentrates it — a skew-stress soak (90% of 1.5M change
# rows on one key) overflowed decimal(12,2) at 6.7e10 under ANSI mode,
# failing the batch instead of corrupting it. decimal(20,2) gives
# ~10^18 of headroom: a single key absorbing an entire 100 TB order
# stream (~10^12 rows × ~10^4 avg price) still fits.
BAL = "decimal(20,2)"


def order_deltas(batch: DataFrame) -> DataFrame:
    """One change row per customer in the batch: exact-decimal balance
    delta + order count (map-side combined before the merge join)."""
    return (batch.groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(F.sum(F.col("o_totalprice").cast(BAL)).alias("delta"),
                 F.count(F.lit(1)).cast("long").alias("n_new")))


def merge_balances(target: DataFrame, deltas: DataFrame) -> DataFrame:
    """MERGE semantics: matched keys add the exact-decimal delta and
    order count, unmatched targets keep their row, unmatched sources
    insert with a zero base. Presence is detected on the join keys."""
    d = (deltas.withColumnRenamed("c_custkey", "s_key"))
    zero = F.lit(0).cast(BAL)
    return (
        target.join(d, target.c_custkey == d.s_key, "full_outer")
        .select(
            F.coalesce("c_custkey", "s_key").alias("c_custkey"),
            (F.coalesce(F.col("bal"), zero)
             + F.coalesce(F.col("delta"), zero)).cast(BAL).alias("bal"),
            (F.coalesce(F.col("n_orders"), F.lit(0))
             + F.coalesce(F.col("n_new"), F.lit(0)))
            .cast("long").alias("n_orders"),
        )
    )


def seed_from_customers(customers: DataFrame) -> DataFrame:
    """Version-0 snapshot: account balances as the opening state."""
    return customers.select(
        "c_custkey",
        F.col("c_acctbal").cast(BAL).alias("bal"),
        F.lit(0).cast("long").alias("n_orders"))


def foreach_batch_merge(
        table_dir: str,
        crash_hook: Callable[[str, int], None] | None = None,
        gc_retain: int | None = None):
    """Build the ``foreachBatch`` function: idempotent-by-batch-id
    MERGE of order change rows into the versioned balance table.
    ``crash_hook(phase, batch_id)`` is the fault-injection seam the
    crash-resume tests raise from ('applied' fires after the version
    commit but BEFORE Spark commits the checkpoint — the at-least-once
    window the idempotence check exists for).

    Every merged version is a FULL snapshot, so it is manifest-tagged
    ``compacts_through`` = the version it merged on top of — the same
    supersession vocabulary as the dedup sink's compactions. That
    makes the effective read set exactly [latest snapshot] and lets
    ``gc_retain`` (opt-in) reap snapshots older than the newest N
    after each commit, bounding version-directory accumulation over an
    unbounded stream while keeping an N-deep time-travel window
    (versioned.gc_versions)."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if V.committed(table_dir, batch_id):
            return
        prev = V.latest_version(table_dir)
        target = V.read_version(batch.sparkSession, table_dir, prev)
        merged = merge_balances(target, order_deltas(batch))
        V.write_version(merged, table_dir,
                        extra={"batch_id": batch_id,
                               "compacts_through": prev})
        if crash_hook is not None:
            crash_hook("applied", batch_id)
        if gc_retain is not None:
            V.gc_versions(table_dir, gc_retain)

    return apply_batch


def run_merge_stream(spark, orders_dir: str, table_dir: str,
                     checkpoint_dir: str, seed: DataFrame | None = None,
                     crash_hook=None, timeout_seconds: float = 120.0):
    """Drain an order-file backlog (one file per micro-batch,
    AvailableNow) through the MERGE sink. Seeds version 0 exactly once
    — re-invocation after a crash resumes from the checkpoint and the
    committed versions. Returns the final committed snapshot."""
    from .events import drain_query

    if V.latest_version(table_dir) is None:
        if seed is None:
            raise ValueError("fresh table needs a seed snapshot")
        V.write_version(seed, table_dir, extra={"batch_id": -1})
    schema = spark.read.parquet(orders_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .parquet(orders_dir))
    drain_query(lambda: (
        stream.writeStream
        .foreachBatch(foreach_batch_merge(table_dir, crash_hook))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True).start()), timeout_seconds)
    return V.read_version(spark, table_dir)
