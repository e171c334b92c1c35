"""Exactly-once contract of the jsonl_commit custom DataSource writer
(sources/jsonl_sink.py) — the write-side twin of the jira_rest custom
reader. Reference parity target: transformer.py:359's single open("w")
has no crash atomicity; this sink must never publish partial output."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark.sources.jsonl_sink import register_jsonl_sink


@pytest.fixture(scope="module")
def sink_spark(spark):
    register_jsonl_sink(spark)
    return spark


def _read_dir(path):
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".jsonl"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                rows += [json.loads(line) for line in f]
    return rows


def test_batch_write_round_trips_with_manifest(sink_spark, sf_dir, tmp_path):
    df = (sink_spark.read.parquet(f"{sf_dir}/orders.parquet")
          .select("o_orderkey", "o_orderstatus", "o_totalprice",
                  "o_orderdate"))
    out = str(tmp_path / "orders_jsonl")
    df.repartition(4).write.format("jsonl_commit").mode("overwrite").save(out)

    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    n = df.count()
    assert manifest["n_rows"] == n
    assert manifest["n_files"] == 4
    rows = _read_dir(out)
    assert len(rows) == n
    # schema-aware serialization: spark.read.json round-trips the keys
    # and the timestamp lands as an ISO string
    back = sink_spark.read.json(out)
    assert back.count() == n
    assert set(back.columns) == {"o_orderkey", "o_orderstatus",
                                 "o_totalprice", "o_orderdate"}
    want = {r.o_orderkey: r for r in df.collect()}
    got = {r["o_orderkey"]: r for r in rows}
    assert set(got) == set(want)
    probe = want[next(iter(want))]
    assert got[probe.o_orderkey]["o_orderdate"] == \
        probe.o_orderdate.isoformat(sep=" ", timespec="microseconds")
    # no staging or temp residue after commit (staging dirs are
    # commit-scoped: _staging-<uid>)
    assert not [n for n in os.listdir(out) if n.startswith("_staging")]


def test_failed_job_publishes_nothing(sink_spark, sf_dir, tmp_path):
    """Two-phase commit: a task failure in any partition must leave NO
    final part files, NO _SUCCESS, and NO staged residue — the exact
    failure mode the reference's open('w') cannot survive."""
    df = sink_spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey").repartition(4)
    out = str(tmp_path / "fail_jsonl")
    with pytest.raises(Exception):
        (df.write.format("jsonl_commit").mode("overwrite")
         .option("simulate_fail_partition", "2").save(out))
    if os.path.isdir(out):
        assert not [n for n in os.listdir(out)
                    if n.startswith("part-") or n == "_SUCCESS"]
        assert not [n for n in os.listdir(out) if n.startswith("_staging")]


def test_overwrite_replaces_and_append_accumulates(sink_spark, sf_dir, tmp_path):
    df = sink_spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", "c_name")
    out = str(tmp_path / "cust_jsonl")
    n = df.count()
    df.coalesce(1).write.format("jsonl_commit").mode("overwrite").save(out)
    df.coalesce(1).write.format("jsonl_commit").mode("overwrite").save(out)
    assert len(_read_dir(out)) == n  # overwrite is idempotent
    df.coalesce(1).write.format("jsonl_commit").mode("append").save(out)
    assert len(_read_dir(out)) == 2 * n  # append-commit uids never collide


def test_concurrent_writers_stage_disjointly(tmp_path):
    """Two writers on one output path must not delete each other's
    staged files: staging dirs are commit-scoped (_staging-<uid>), and
    overwrite-commit preserves every in-flight staging dir."""
    from pyspark.sql.types import LongType, StructField, StructType

    from jira_scraper_etl_spark.sources.jsonl_sink import JsonlCommitWriter

    schema = StructType([StructField("x", LongType())])
    out = str(tmp_path / "shared")
    a = JsonlCommitWriter({"path": out}, schema, overwrite=False)
    b = JsonlCommitWriter({"path": out}, schema, overwrite=True)
    assert a.staging != b.staging
    # a stages a task's file; b runs a full write+commit meanwhile
    staged_a = a.write(iter([(1,), (2,)]))
    msg_b = b.write(iter([(10,)]))
    b.commit([msg_b])
    # b's overwrite commit must not have touched a's staging
    assert os.path.exists(staged_a.staged)
    a.commit([staged_a])  # append commit: b's published parts survive
    # both commits published; each sees its own rows under its uid
    rows = {r["x"] for r in _read_dir(out)}
    assert rows == {1, 2, 10}
    assert not [n for n in os.listdir(out) if n.startswith("_staging")]


def test_overwrite_reaps_orphaned_staging_dirs(tmp_path):
    """Overwrite commit deletes _staging-* dirs untouched for longer
    than STAGING_TTL_SEC (crashed jobs), keeps fresh ones (live
    concurrent writers), and survives losing a published-entry delete
    race to a concurrent overwrite."""
    from pyspark.sql.types import LongType, StructField, StructType

    from jira_scraper_etl_spark.sources import jsonl_sink
    from jira_scraper_etl_spark.sources.jsonl_sink import JsonlCommitWriter

    schema = StructType([StructField("x", LongType())])
    out = tmp_path / "shared"
    out.mkdir()
    # an orphan from a crashed job, last touched 2×TTL ago
    dead = out / "_staging-deadbeef"
    dead.mkdir()
    (dead / "_tmp-x.jsonl").write_text('{"x": 1}\n')
    old = __import__("time").time() - 2 * jsonl_sink.STAGING_TTL_SEC
    # liveness = newest mtime of dir OR contents: age both
    os.utime(dead / "_tmp-x.jsonl", (old, old))
    os.utime(dead, (old, old))
    # a LIVE writer mid-long-write: dir mtime aged (files were created
    # long ago) but a staged file was flushed recently — must be kept
    live = out / "_staging-cafecafe"
    live.mkdir()
    (live / "_tmp-y.jsonl").write_text('{"x": 2}\n')
    os.utime(live, (old, old))
    # a published entry that a concurrent overwrite deletes first
    raced = out / "part-gone-00000.jsonl"
    raced.write_text('{"x": 0}\n')

    w = JsonlCommitWriter({"path": str(out)}, schema, overwrite=True)
    real_remove = os.remove

    def racing_remove(p):
        if os.path.basename(p).startswith("part-gone"):
            real_remove(p)  # the concurrent writer wins the race...
        real_remove(p)  # ...and ours raises FileNotFoundError

    msg = w.write(iter([(7,)]))
    try:
        os.remove = racing_remove
        w.commit([msg])
    finally:
        os.remove = real_remove
    assert not dead.exists()  # orphan reaped
    assert live.exists()  # live writer kept (fresh file mtime wins)
    assert (live / "_tmp-y.jsonl").exists()
    assert not raced.exists()
    assert {r["x"] for r in _read_dir(str(out))} == {7}
    assert os.path.exists(out / "_SUCCESS")  # commit completed


def test_stream_writer_requires_explicit_path(tmp_path):
    """The stream sink must not silently write data into the
    checkpointLocation when no path is given."""
    from pyspark.sql.types import LongType, StructField, StructType

    from jira_scraper_etl_spark.sources.jsonl_sink import (
        JsonlCommitStreamWriter)

    schema = StructType([StructField("x", LongType())])
    with pytest.raises(ValueError, match="explicit"):
        JsonlCommitStreamWriter(
            {"checkpointLocation": str(tmp_path / "ck")}, schema)


def test_stream_writer_batches_are_idempotent_dirs(sink_spark, sf_dir, tmp_path):
    """Streaming twin: each microbatch publishes batch_id=N with its
    own _SUCCESS; the per-batch dir contract matches the hand-rolled
    exactly-once sink in streaming/pipeline.py."""
    src = str(tmp_path / "stream_src")
    df = sink_spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", "c_mktsegment")
    # part files directly in src (file streams don't recurse into
    # subdirectories); 2 partitions → 2 microbatches at 1 file/trigger
    df.where("c_custkey % 2 = 0").repartition(2) \
        .write.mode("overwrite").parquet(src)
    out = str(tmp_path / "stream_out")
    q = (sink_spark.readStream.schema(df.schema)
         .option("maxFilesPerTrigger", "1")
         .parquet(src)
         .writeStream.format("jsonl_commit")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    batches = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert batches
    total = 0
    for b in batches:
        bdir = os.path.join(out, b)
        assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
        total += json.load(open(os.path.join(bdir, "_SUCCESS")))["n_rows"]
    assert total == df.where("c_custkey % 2 = 0").count()


def test_stream_writer_crash_resume_exactly_once(sink_spark, sf_dir, tmp_path):
    """Crash-resume soak: the query dies BETWEEN staging and publishing
    batch 1 (rows already written to the staging dir, batch dir absent);
    a restart from the same checkpoint replays batch 1 and must publish
    every source row exactly once — no loss from the crashed attempt,
    no duplicates from the replay, and the dead attempt's staging files
    must not leak into what readers see."""
    src = str(tmp_path / "crash_src")
    df = sink_spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", "c_mktsegment")
    df.repartition(3).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "crash_out")
    ckpt = str(tmp_path / "crash_ckpt")

    def run():
        return (sink_spark.readStream.schema(df.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .writeStream.format("jsonl_commit")
                .option("path", out)
                .option("simulate_fail_commit_batch", "1")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start())

    q = run()
    with pytest.raises(Exception, match="simulated crash"):
        q.awaitTermination(120)
    # the crash hit after staging, before publish: batch 1 unpublished
    published = {d for d in os.listdir(out) if d.startswith("batch_id=")}
    assert "batch_id=1" not in published
    assert os.path.exists(os.path.join(out, "_crashed-1"))

    q2 = run()  # same checkpoint: batch 1 replays, marker lets it pass
    q2.awaitTermination(120)
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert len(batches) == 3
    # the crash-once marker is cleaned up after the replay publishes:
    # production-shaped readers listing the sink see only batch dirs
    # (and possibly inert _staging-* from the dead attempt)
    assert not os.path.exists(os.path.join(out, "_crashed-1"))
    rows = []
    for b in batches:
        bdir = os.path.join(out, b)
        manifest = json.load(open(os.path.join(bdir, "_SUCCESS")))
        got = [json.loads(line)
               for name in sorted(os.listdir(bdir))
               if name.startswith("part-") and name.endswith(".jsonl")
               for line in open(os.path.join(bdir, name), encoding="utf-8")]
        assert manifest["n_rows"] == len(got)
        rows += got
    want = sorted((r.c_custkey, r.c_mktsegment) for r in df.collect())
    assert sorted((r["c_custkey"], r["c_mktsegment"]) for r in rows) == want
