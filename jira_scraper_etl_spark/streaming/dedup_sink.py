"""Streaming incremental-dedup sink: continuous corpus ingestion where
each micro-batch admits only NOVEL documents — exact-hash anti-lookup
plus SimHash near-dup rejection against everything admitted so far —
and appends the admitted rows as a new committed version (the
production shape of continuous corpus ingestion, composing
dedup_incremental_novel's batch novelty semantics with the merge_sink
versioned-table ``foreachBatch`` pattern).

Reference analog: the reference pipeline re-extracts and rewrites its
whole corpus per run (``main.py`` phase loop; ``transformer.py:359``
full-output rewrite); a 100 TB corpus instead ingests deltas and
dedups each delta against the standing corpus — this sink is that
operator.

Table layout — DELTA-APPEND versions, not full-snapshot rewrites: a
dedup corpus grows monotonically, so rewriting the whole snapshot per
micro-batch (the merge_sink layout, right for a keyed UPSERT table)
would cost O(corpus) per batch — quadratic over the table's life. Here
version ``v=N`` stores ONLY batch N's admitted rows; the corpus is the
UNION of committed versions, read through the compaction-bounded
effective read set (every COMPACT_EVERY commits the writer folds the
read set into one superseding compaction version, so readers scan at
most COMPACT_EVERY+1 version directories however long the table has
lived). The manifest-last commit protocol and batch-id idempotence are
identical to merge_sink:

* ``foreachBatch`` replays a batch after a crash between the version
  commit and the checkpoint commit — a replayed ``batch_id``
  (``versioned.committed``) is a no-op.
* A crash MID-commit leaves a manifest-less ``v=N`` directory invisible
  to every reader; the replay re-admits the same batch against the
  same corpus prefix and commits into a fresh slot.

Admission semantics — greedy first-seen-wins, the only order a stream
can honor: a document is admitted iff (a) its normalized content hash
matches nothing admitted before it, and (b) its 16-bit SimHash is
hamming > 3 from every fingerprint admitted before it. "Before" is
arrival order; WITHIN a micro-batch the tie-break is doc_id order, so
as long as batch boundaries respect doc_id order (the backlog-replay
fixtures slice by ranges), the admitted set is INVARIANT to batch
slicing — draining in 1, 3, or N micro-batches, with or without
crashes, converges to the identical corpus
(tests/test_streaming_dedup.py pins this differential).

Scale shape, per micro-batch:

* fingerprinting is map-only (operators/dedup.simhash_fingerprints —
  zero shuffles);
* the exact check is ONE anti-join keyed on the 16-byte hash;
* the near check never touches doc pairs: both sides contract to
  DISTINCT fingerprint values first (≤ 2^16 by construction — the
  dedup_cluster_canonical argument), so the nibble-key join and the
  within-batch greedy graph are bounded regardless of corpus or batch
  size, and the driver-side greedy walk moves ≤ 2^16 nodes;
* the corpus-side indexes (distinct hashes, distinct fingerprints) are
  derived from the union-of-versions read; at warehouse scale they
  would be maintained as materialized side tables updated per commit —
  a layout change, not a protocol change.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import textstats as TS
from ..operators import versioned as V
from ..operators.dedup import (MAX_HAMMING, hamming, nibble_keys,
                               simhash_fingerprints, simhash_fp_pairs)

INDEX_SCHEMA = "doc_id long, h string, simhash int"


def fingerprint_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, h, simhash): the admission index rows for a batch —
    normalized-content md5 plus 16-bit SimHash. Map-only."""
    return (docs.select(
        "doc_id",
        F.md5(TS.normalize_for_fingerprint(F.col("text"))).alias("h"),
        "text")
        .join(simhash_fingerprints(docs), "doc_id")
        .select("doc_id", "h", "simhash"))


COMPACT_EVERY = 16  # read-set versions tolerated before compacting


def corpus_index(spark: SparkSession, table_dir: str) -> DataFrame:
    """The standing corpus: the union of committed versions, read as
    ONE multi-path parquet scan over the effective read set (newest
    compaction + later deltas — operators/versioned.effective_versions).
    With the compaction cadence the scan covers at most
    COMPACT_EVERY+1 version directories however many batches have
    committed. Time-travel safe — a concurrent in-flight
    commit is invisible until its manifest lands."""
    df = V.read_table(spark, table_dir)
    if df is None:
        return spark.createDataFrame([], INDEX_SCHEMA)
    return df


def maybe_compact(spark: SparkSession, table_dir: str, batch_id: int,
                  every: int = COMPACT_EVERY) -> int | None:
    """Opportunistic read-set compaction, run by the writer after a
    delta commit: once the effective read set exceeds ``every``
    versions, commit ONE version holding the whole standing corpus,
    manifest-tagged ``compacts_through`` = the highest committed
    version (everything at or below it is superseded — see
    versioned.effective_versions). Returns the compaction's version
    number, or None when under the threshold.

    Crash safety needs no new protocol: the compaction is an ordinary
    manifest-last commit, so a crash mid-write leaves a torn (invisible)
    directory and readers keep the uncompacted read set — the content
    is REDUNDANT by construction, so deferring it to a later trigger
    changes nothing logically. It carries the committing batch's
    ``batch_id`` so ``versioned.committed`` (replay idempotence)
    sees the same watermark whether or not the compaction landed.

    Cost shape at 100 TB: the corpus index is (doc_id, h, simhash) —
    ~40 B/doc, not the documents themselves — and one rewrite every
    ``every`` commits amortizes to O(index/every) per batch, the
    standard lakehouse compaction trade. The per-batch ADMISSION reads
    scan the whole index regardless of layout (the anti-join's right
    side); what compaction bounds is version/file count and plan depth,
    which is what actually degraded per-batch wall-clock as versions
    accumulated (file-listing + union analysis on the driver)."""
    thru = V.latest_version(table_dir)
    if thru is None or len(V.effective_versions(table_dir)) <= every:
        return None
    snapshot = corpus_index(spark, table_dir)
    return V.write_version(
        snapshot, table_dir,
        extra={"compacts_through": thru, "batch_id": batch_id})


def admit_batch(batch_fp: DataFrame, corpus: DataFrame) -> DataFrame:
    """Greedy admission of one batch's fingerprint rows against the
    standing corpus index. Returns the admitted (doc_id, h, simhash)
    rows. Every join is keyed; the only driver-side state is the
    contracted fingerprint graph (≤ 2^16 nodes by construction)."""
    # (a) exact novelty vs corpus: anti-join on the content hash
    fresh = batch_fp.join(corpus.select("h").distinct(), "h", "left_anti")

    # (b) near novelty vs corpus: contract both sides to distinct
    # fingerprints, join on the nibble key, reject matched values
    corpus_fps = corpus.select(F.col("simhash").alias("old_fp")).distinct()
    batch_fps = fresh.select("simhash").distinct()
    hit_fps = (nibble_keys(batch_fps, "simhash")
               .join(nibble_keys(corpus_fps, "old_fp"), "key")
               .where(hamming(F.col("simhash"), F.col("old_fp"))
                      <= MAX_HAMMING)
               .select("simhash").distinct())
    fresh = fresh.join(hit_fps, "simhash", "left_anti")

    # (c) within-batch exact collapse: first (min doc_id) row per hash
    # — greedy-equivalent, since identical docs share h AND simhash
    fresh = (fresh.groupBy("h")
             .agg(F.min(F.struct("doc_id", "simhash")).alias("m"))
             .select(F.col("m.doc_id").alias("doc_id"), "h",
                     F.col("m.simhash").alias("simhash")))

    # (d) within-batch near-dup greedy on the CONTRACTED graph: one
    # representative (min doc_id) per distinct fingerprint, edges =
    # hamming≤3 pairs over fingerprint VALUES (simhash_fp_pairs),
    # greedy walk in representative order on the driver (bounded at
    # 2^16 nodes — the dedup_cluster_canonical bound)
    reps = (fresh.groupBy("simhash")
            .agg(F.min("doc_id").alias("rep_doc")))
    edges = simhash_fp_pairs(reps.select("simhash"))

    nodes = [(r.simhash, r.rep_doc) for r in reps.collect()]
    adj: dict[int, set[int]] = defaultdict(set)
    for r in edges.collect():
        adj[r.fa].add(r.fb)
        adj[r.fb].add(r.fa)
    admitted_fps: set[int] = set()
    for fp, _rep in sorted(nodes, key=lambda t: t[1]):
        if not any(nb_fp in admitted_fps for nb_fp in adj[fp]):
            admitted_fps.add(fp)

    # docs that survive: the representative of each admitted
    # fingerprint, plus nothing else — every non-representative doc of
    # an admitted fp is hamming-0 from its rep, and every doc of a
    # rejected fp is within radius of an earlier-admitted fp
    spark = batch_fp.sparkSession
    keep = spark.createDataFrame(
        [(fp,) for fp in sorted(admitted_fps)], "simhash int")
    return (fresh.join(reps, "simhash")
            .where(F.col("doc_id") == F.col("rep_doc"))
            .join(F.broadcast(keep), "simhash")
            .select("doc_id", "h", "simhash"))


def foreach_batch_dedup(
        table_dir: str,
        crash_hook: Callable[[str, int], None] | None = None,
        compact_every: int = COMPACT_EVERY,
        gc_retain: int | None = None):
    """Build the ``foreachBatch`` function: idempotent-by-batch-id
    greedy admission of document batches into the versioned corpus,
    with read-set compaction every ``compact_every`` commits.
    ``crash_hook(phase, batch_id)`` is the fault-injection seam — it
    fires at ``"applied"`` after the delta commit (before any
    compaction: a crash there leaves the compaction deferred, which is
    safe because a compaction is content-redundant) and at
    ``"compacted"`` after a compaction commit; both are inside the
    at-least-once window before the checkpoint commit."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if V.committed(table_dir, batch_id):
            return
        corpus = corpus_index(batch.sparkSession, table_dir)
        admitted = admit_batch(fingerprint_docs(batch), corpus)
        V.write_version(admitted, table_dir, extra={"batch_id": batch_id})
        if crash_hook is not None:
            crash_hook("applied", batch_id)
        if maybe_compact(batch.sparkSession, table_dir, batch_id,
                         every=compact_every) is not None:
            if crash_hook is not None:
                crash_hook("compacted", batch_id)
            if gc_retain is not None:
                # GC only after a compaction has superseded old deltas
                # — before that every version IS the read set and
                # gc_versions would (correctly) delete nothing. With
                # GC on, the manifest directory itself stays bounded,
                # so effective_versions' per-batch manifest scan is
                # O(window) instead of creeping O(all-commits) over
                # the stream's life.
                V.gc_versions(table_dir, gc_retain)

    return apply_batch


def run_dedup_stream(spark, docs_dir: str, table_dir: str,
                     checkpoint_dir: str, seed: DataFrame | None = None,
                     crash_hook=None, timeout_seconds: float = 120.0,
                     compact_every: int = COMPACT_EVERY,
                     gc_retain: int | None = None):
    """Drain a document-file backlog (one file per micro-batch,
    AvailableNow) through the dedup sink. ``seed`` (an existing-corpus
    (doc_id, h, simhash) index) commits as version 0 exactly once;
    re-invocation after a crash resumes from the checkpoint and the
    committed versions. Returns the final corpus index."""
    from .events import drain_query

    if V.latest_version(table_dir) is None and seed is not None:
        V.write_version(seed, table_dir, extra={"batch_id": -1})
    schema = spark.read.parquet(docs_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet")
              .parquet(docs_dir))
    drain_query(lambda: (
        stream.writeStream
        .foreachBatch(foreach_batch_dedup(table_dir, crash_hook,
                                          compact_every=compact_every,
                                          gc_retain=gc_retain))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True).start()), timeout_seconds)
    return corpus_index(spark, table_dir)
