"""Custom Python DataSource WRITER: an exactly-once JSONL directory sink
(``df.write.format("jsonl_commit").save(path)``) plus its streaming
twin — the write-side counterpart of the ``jira_rest`` custom reader,
so the engine demonstrates the full Spark 4 Python DataSource surface
(reader, stream reader, writer, stream writer).

Reference parity: the reference serializes its transformed records
with a single ``open(path, "w")`` + ``json.dump`` per file
(``transformer.py:359``) — a crash mid-write leaves a truncated,
unparseable file, and a re-run double-writes. This sink implements the
two-phase commit a distributed writer needs:

- each TASK writes to a private ``_tmp-<uuid>.jsonl`` inside a
  commit-scoped staging dir (``_staging-<commit_uid>`` — two concurrent
  jobs writing the same path stage disjointly, so neither commit/abort
  can delete the other's staged files) and returns a
  :class:`WriterCommitMessage` naming it;
- the DRIVER's ``commit()`` renames every staged file to its final
  ``part-NNNNN.jsonl`` name and writes a ``_SUCCESS`` manifest with
  row counts — readers either see the complete directory or none of
  it (manifest-last ordering);
- ``abort()`` removes the staging dir, so failed/speculative task
  attempts never leak partial output (each attempt stages under its
  own uuid; only the attempts Spark reports in ``messages`` win).

The sink is filesystem-based (the test/bench environment); on an
object store the same protocol holds with put-then-manifest instead
of rename. Values are serialized schema-aware (timestamps → ISO-8601,
date → ISO date, bytes → base64) so ``spark.read.json`` round-trips.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import shutil
import time as _time
import uuid
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

STAGING = "_staging"
# overwrite commits reap _staging-* dirs untouched for this long —
# orphans from crashed jobs, never a live writer (which mutates its
# staging dir continuously until publish)
STAGING_TTL_SEC = 24 * 3600


def _json_default(v: Any):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    raise TypeError(f"not JSON-serializable: {type(v)}")


@dataclass
class _FileCommit(WriterCommitMessage):
    staged: str
    n_rows: int


def _write_partition(staging_dir: str, fields: list[str],
                     rows: Iterator) -> _FileCommit:
    """Executor-side: stream rows to a private staged file. The file
    name embeds a fresh uuid per ATTEMPT, so a speculative duplicate
    or a retried task stages separately and only the attempt whose
    message reaches commit() is renamed into the final output."""
    os.makedirs(staging_dir, exist_ok=True)
    staged = os.path.join(staging_dir, f"_tmp-{uuid.uuid4().hex}.jsonl")
    n = 0
    with open(staged, "w", encoding="utf-8") as f:
        for row in rows:
            rec = {k: v for k, v in zip(fields, row)}
            f.write(json.dumps(rec, default=_json_default,
                               ensure_ascii=False) + "\n")
            n += 1
    return _FileCommit(staged=staged, n_rows=n)


class JsonlCommitWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_commit requires a save path")
        self.fields = [f.name for f in schema.fields]
        self.overwrite = overwrite
        # test hook: fail the Nth partition's first staged attempt to
        # exercise abort() — see tests/test_jsonl_sink.py
        self.fail_partition = int(options.get("simulate_fail_partition", -1))
        # commit-scoped uid: in final file names (append mode never
        # collides with a previous commit's parts) AND in the staging
        # dir name, so concurrent writers to one path never rmtree each
        # other's staged files on commit/abort
        self.commit_uid = uuid.uuid4().hex[:8]
        self.staging = os.path.join(self.path, f"{STAGING}-{self.commit_uid}")

    def write(self, iterator: Iterator) -> _FileCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if (ctx is not None and ctx.partitionId() == self.fail_partition
                and ctx.attemptNumber() == 0):
            raise RuntimeError(
                f"simulated failure in partition {self.fail_partition}")
        return _write_partition(self.staging, self.fields, iterator)

    def commit(self, messages: list[_FileCommit]) -> None:
        """Driver-side finalize: publish exactly the staged files the
        successful attempts reported, then the manifest LAST — a reader
        that requires _SUCCESS never observes a partial directory."""
        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            for name in os.listdir(self.path):
                target = os.path.join(self.path, name)
                if name.startswith(STAGING):
                    # keep in-flight staging dirs (ours and any
                    # concurrent writer's), but reap orphans left by
                    # crashed drivers. Liveness is judged by the NEWEST
                    # mtime of the dir OR any staged file inside it —
                    # the dir's own mtime only advances on file
                    # CREATION, so a long write stage streaming rows
                    # into already-created _tmp files would look stale
                    # by dir-mtime alone; the files' mtimes advance
                    # with every flush. Only a dir whose entire
                    # contents stopped changing STAGING_TTL_SEC ago is
                    # dead weight. Known residual (accepted): a writer
                    # legitimately stalled > TTL between flushes (a
                    # suspended VM, an upstream stage that produces no
                    # rows for a day) can be reaped by a concurrent
                    # overwrite commit; its own commit then fails LOUD
                    # and data-safe — os.replace raises
                    # FileNotFoundError, nothing partial publishes.
                    if target == self.staging:
                        continue
                    try:
                        ts = [os.path.getmtime(target)]
                        with os.scandir(target) as it:
                            ts += [entry.stat().st_mtime
                                   for entry in it]
                        age = _time.time() - max(ts)
                    except OSError:
                        continue
                    if age > STAGING_TTL_SEC:
                        shutil.rmtree(target, ignore_errors=True)
                    continue
                # two concurrent overwrite commits can race on the same
                # published entry — losing the delete is fine, the
                # entry is gone either way
                try:
                    (shutil.rmtree if os.path.isdir(target)
                     else os.remove)(target)
                except FileNotFoundError:
                    pass
        counts = []
        for i, m in enumerate(sorted(messages, key=lambda m: m.staged)):
            final = os.path.join(
                self.path, f"part-{self.commit_uid}-{i:05d}.jsonl")
            os.replace(m.staged, final)  # atomic on POSIX
            counts.append({"file": os.path.basename(final),
                           "n_rows": m.n_rows})
        shutil.rmtree(self.staging, ignore_errors=True)
        manifest = {"n_files": len(counts),
                    "n_rows": sum(c["n_rows"] for c in counts),
                    "files": counts}
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages: list[_FileCommit]) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class JsonlCommitStreamWriter(DataSourceStreamWriter):
    """Streaming twin: per-microbatch exactly-once via batch-id
    directories — the ``batch_id=N`` overwrite contract of the
    ``streaming/pipeline.py::run_streaming_silver`` sink (replay test:
    ``test_pipeline.py::test_streaming_silver_recovers_lost_commit``),
    expressed through the DataSourceStreamWriter protocol: a replayed
    batch id re-publishes the SAME directory, so downstream readers
    never see duplicates.

    A query killed between stage and publish may leave its
    ``_staging-<uid>`` dir behind; the orphan is inert (underscore
    prefix: ignored by Spark readers and by the replayed batch, which
    stages under the restarted query's own uid) and never double-counts
    rows — exactly-once comes from the batch_id dirs, not from staging
    hygiene."""

    def __init__(self, options: dict, schema: StructType):
        # the data path must be EXPLICIT: silently falling back to
        # checkpointLocation would interleave batch_id=N data dirs with
        # Spark's offset/commit state under one directory
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "jsonl_commit stream sink requires an explicit "
                ".option('path', ...) — it will not write data into "
                "the checkpointLocation")
        self.fields = [f.name for f in schema.fields]
        # query-scoped staging dir (same rationale as the batch writer:
        # two stream queries on one output path must stage disjointly)
        self.staging = os.path.join(
            self.path, f"{STAGING}-{uuid.uuid4().hex[:8]}")
        # test hook: crash ONCE between stage and publish of the Nth
        # batch (filesystem marker = crash-proof "once"), so the
        # crash-resume soak can prove replay-exactly-once — see
        # tests/test_jsonl_sink.py
        self.fail_batch = int(options.get("simulate_fail_commit_batch", -1))

    def write(self, iterator: Iterator) -> _FileCommit:
        return _write_partition(self.staging, self.fields, iterator)

    def commit(self, messages: list[_FileCommit], batch_id: int) -> None:
        if batch_id == self.fail_batch:
            marker = os.path.join(self.path, f"_crashed-{batch_id}")
            if not os.path.exists(marker):
                with open(marker, "w"):
                    pass
                raise RuntimeError(
                    f"simulated crash before publishing batch {batch_id}")
        out = os.path.join(self.path, f"batch_id={batch_id}")
        if os.path.isdir(out):  # replayed batch: idempotent re-publish
            shutil.rmtree(out)
        os.makedirs(out)
        counts = []
        for i, m in enumerate(sorted(messages, key=lambda m: m.staged)):
            final = os.path.join(out, f"part-{i:05d}.jsonl")
            os.replace(m.staged, final)
            counts.append({"file": os.path.basename(final),
                           "n_rows": m.n_rows})
        with open(os.path.join(out, "_SUCCESS"), "w") as f:
            json.dump({"batch_id": batch_id,
                       "n_rows": sum(c["n_rows"] for c in counts)}, f)
        # reap failed/speculative attempts' orphans: commit runs after
        # every task of the batch finished and before the next batch
        # starts, so this query's staging dir is quiescent here (same
        # rule as the batch writer)
        shutil.rmtree(self.staging, ignore_errors=True)
        if batch_id == self.fail_batch:
            # the crash-once marker did its job (the pre-publish raise
            # above fired on the FIRST attempt); drop it now that the
            # replay published, so production-shaped readers listing the
            # sink never see the test hook's residue
            try:
                os.remove(os.path.join(self.path, f"_crashed-{batch_id}"))
            except FileNotFoundError:
                pass

    def abort(self, messages: list[_FileCommit], batch_id: int) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class JsonlCommitDataSource(DataSource):
    """``df.write.format("jsonl_commit")`` /
    ``df.writeStream.format("jsonl_commit")``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_commit"

    def writer(self, schema: StructType, overwrite: bool) -> JsonlCommitWriter:
        return JsonlCommitWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> JsonlCommitStreamWriter:
        return JsonlCommitStreamWriter(dict(self.options), schema)


def register_jsonl_sink(spark) -> None:
    spark.dataSource.register(JsonlCommitDataSource)
