"""Persist-seam caller contract (round-9 verdict watch item 2).

Several operators materialize an expensive intermediate exactly once —
the MinHash shingle table, the embedding quantize pipeline, the Jaccard
prefix table, the TF-IDF term-frequency exchange — because two or more
downstream consumers would otherwise re-run it (Catalyst does not reuse
a subtree across branches, and a cache also keeps join-key-inferred
``isnotnull`` HOFs out of the scan's DataFilters). The RETURNED
DataFrame depends on that cache, so the operator itself cannot
unpersist it without forcing the recompute it exists to prevent.

The uniform contract: operators persist through :func:`persist_seam`,
which records the frame in this module-level registry; the CALLER
releases every outstanding seam with :func:`release_seams` once it has
fully consumed the result. ``bench.run_suite`` does this after each
query; long-lived sessions that invoke registry queries repeatedly
should do the same between invocations — otherwise MEMORY_AND_DISK
entries accumulate one per seam per invocation. ``release_seams`` only
touches frames registered here, never caller-owned caches (unlike
``spark.catalog.clearCache()``, which drops everything session-wide).

Releasing is idempotent: a seam an operator already unpersisted on an
early-exit path (``dedup_jaccard_prefix``'s refusal) is skipped
harmlessly — Spark's ``unpersist`` on a non-persisted frame is a no-op.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Keyed per SparkSession (id) so concurrent callers on DIFFERENT
# sessions cannot release each other's seams; a lock guards the
# registry itself. Callers sharing ONE session remain subject to the
# single-caller contract documented above — release_seams() drops every
# seam registered on that session, including a concurrent caller's.
_LOCK = threading.Lock()
_OUTSTANDING: dict[int, list[DataFrame]] = {}
# localCheckpoint frames, tracked separately: their blocks live on the
# checkpointed RDD, not in the SQL cache, so releasing them needs the
# RDD-level unpersist below rather than DataFrame.unpersist.
_OUTSTANDING_CP: dict[int, list[DataFrame]] = {}


def persist_seam(df: DataFrame, *, materialize: bool = True) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for caller
    release. ``materialize=True`` fills the cache eagerly with a
    ``count()``: concurrent first readers of a LAZY persist each
    recompute the full upstream pipeline (measured 4× duplicate 1.6 s
    shingle stages at sf0.1), so seams with fan-out consumers always
    materialize before returning."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _OUTSTANDING.setdefault(id(df.sparkSession), []).append(df)
    if materialize:
        df.count()
    return df


def checkpoint_seam(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``, registered for caller release (round-13
    ADVICE #2): a bare localCheckpoint stores RDD blocks that
    ``release_seams`` could not unpersist — callers relying only on
    release_seams (oracle checks, long interactive sessions)
    accumulated checkpoint blocks until a JVM GC let the ContextCleaner
    reclaim them. The checkpointed Dataset's analyzed plan is a
    LogicalRDD holding exactly those blocks; release_seams unpersists
    that RDD directly."""
    out = df.localCheckpoint()
    with _LOCK:
        _OUTSTANDING_CP.setdefault(id(out.sparkSession), []).append(out)
    return out


def _unpersist_checkpoint(df: DataFrame) -> bool:
    """Drop a localCheckpoint frame's RDD blocks; returns whether it
    did. Best-effort JVM-internal access (LogicalRDD.rdd is stable
    across Spark 3.x/4.x); if the accessor ever moves, the blocks are
    still reclaimed by the ContextCleaner at the next JVM GC, so a
    failure here is not raised."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return True
    except Exception:
        return False


def release_checkpoint(df: DataFrame) -> bool:
    """Release one ``checkpoint_seam`` frame ahead of ``release_seams``:
    drop it from the registry and unpersist its blocks; returns whether
    it did. Iterative loops call it on the iteration a newer, already
    materialized checkpoint supersedes, so the blocks a loop holds do
    not grow with its round count. A frame this registry does not hold
    is left alone."""
    with _LOCK:
        frames = _OUTSTANDING_CP.get(id(df.sparkSession), [])
        held = any(f is df for f in frames)
        if held:
            frames[:] = [f for f in frames if f is not df]
    return held and _unpersist_checkpoint(df)


def release_seams(session=None) -> int:
    """Unpersist every outstanding seam; returns how many were
    released. Safe at any point — a seam whose result the caller has
    already materialized releases without recompute, and blocking is
    not requested so executors drop blocks asynchronously.

    With ``session`` given, only that session's seams are released —
    concurrent callers on other sessions are untouched. With ``session``
    omitted, every registered seam is released (the legacy single-caller
    behavior ``bench``/``check_oracle`` rely on)."""
    with _LOCK:
        if session is not None:
            frames = _OUTSTANDING.pop(id(session), [])
            cp_frames = _OUTSTANDING_CP.pop(id(session), [])
        else:
            frames = [df for lst in _OUTSTANDING.values() for df in lst]
            _OUTSTANDING.clear()
            cp_frames = [df for lst in _OUTSTANDING_CP.values() for df in lst]
            _OUTSTANDING_CP.clear()
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n + sum(_unpersist_checkpoint(df) for df in cp_frames)


def outstanding() -> int:
    """How many seams are currently registered (test hook)."""
    with _LOCK:
        return (sum(len(lst) for lst in _OUTSTANDING.values())
                + sum(len(lst) for lst in _OUTSTANDING_CP.values()))
