"""Versioned snapshot store (operators/versioned.py): manifest-last
commit visibility, time-travel stability under new commits, and the
keyed diff over really-committed versions."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark.operators import versioned as V


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    d = str(tmp_path / "cust_table")
    base = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", "c_name", "c_acctbal")
    return d, base


def test_write_read_and_time_travel_isolation(spark, table):
    d, base = table
    v0 = V.write_version(base, d)
    assert v0 == 0 and V.latest_version(d) == 0
    n = base.count()
    assert V.read_version(spark, d).count() == n

    # commit v1 with drift: drop every 5th key, bump every 3rd balance
    v1_df = (base.where("c_custkey % 5 != 0")
             .withColumn("c_acctbal",
                         F.when(F.col("c_custkey") % 3 == 0,
                                F.col("c_acctbal") + 1.5)
                         .otherwise(F.col("c_acctbal"))))
    v1 = V.write_version(v1_df, d)
    assert v1 == 1 and V.latest_version(d) == 1
    # TIME TRAVEL: v0 still reads the original rows, bit for bit
    old = V.read_version(spark, d, 0)
    assert old.count() == n
    assert old.exceptAll(base).count() == 0
    # latest reads the new snapshot
    assert V.read_version(spark, d).count() == v1_df.count()
    # manifests record lineage
    mf = json.load(open(os.path.join(d, "v=1", "manifest.json")))
    assert mf["parent"] == 0 and mf["n_rows"] == v1_df.count()


def test_write_version_runs_one_job(spark, tmp_path, count_jobs):
    """A commit is the data write alone: the manifest's row count comes
    from an Observation on that write, not from reading it back."""
    d = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    assert count_jobs(lambda: V.write_version(df, d)) == 1
    assert V.load_manifest(d, 0)["n_rows"] == 10


def test_warm_reads_start_no_job(spark, table, count_jobs):
    """Reads take the schema the manifest stores: no footer-inference
    job, and the same columns, types and nullability as an inferred
    read of the same files."""
    d, base = table
    for k in range(3):
        # a non-nullable literal column: the stored schema says
        # nullable=false, the inferred read says true
        V.write_version(base.where(f"c_custkey % 3 = {k}")
                        .withColumn("part", F.lit(k)), d)
    V.read_table(spark, d), V.read_version(spark, d, 1)  # warm-up
    assert count_jobs(lambda: V.read_table(spark, d)) == 0
    assert count_jobs(lambda: V.read_version(spark, d)) == 0
    assert count_jobs(lambda: V.read_version(spark, d, 1)) == 0
    files = [os.path.join(d, f"v={v}", "data", f)
             for v in V.committed_versions(d)
             for f in V.load_manifest(d, v)["files"]]
    assert V.read_table(spark, d).schema == spark.read.parquet(*files).schema
    assert V.read_table(spark, d).drop("part").exceptAll(base).count() == 0


def test_uncommitted_version_is_invisible(spark, table):
    d, base = table
    V.write_version(base, d)
    # simulate a crash: data files land, manifest never written
    torn = os.path.join(d, "v=1", "data")
    os.makedirs(torn)
    with open(os.path.join(torn, "junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert V.committed_versions(d) == [0]
    assert V.latest_version(d) == 0
    assert V.read_version(spark, d).count() == base.count()
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, d, 1)
    # the next real commit claims v=2 (never reuses the torn dir's slot
    # is not required — it must simply commit and become latest)
    v = V.write_version(base.limit(10), d)
    assert V.latest_version(d) == v and v == 2
    assert V.read_version(spark, d).count() == 10


def test_snapshot_diff_over_committed_versions(spark, table):
    d, base = table
    V.write_version(base.where("c_custkey % 7 != 0"), d)
    v1_df = (base.where("c_custkey % 5 != 0")
             .withColumn("c_acctbal",
                         F.when(F.col("c_custkey") % 3 == 0,
                                F.col("c_acctbal") + 1.5)
                         .otherwise(F.col("c_acctbal"))))
    V.write_version(v1_df, d)
    diff = V.snapshot_diff(V.read_version(spark, d, 0),
                           V.read_version(spark, d, 1), "c_custkey")
    got = {r.c_custkey: r.change for r in diff.collect()}
    for k, change in got.items():
        if k % 7 == 0:
            assert change == "added", k
        elif k % 5 == 0:
            assert change == "removed", k
        elif k % 3 == 0:
            assert change == "changed", k
        else:
            assert change == "unchanged", k
    # every key of either snapshot appears exactly once
    keys = set(r.c_custkey for r in
               base.where("c_custkey % 7 != 0 or c_custkey % 5 != 0")
               .collect())
    assert set(got) == keys


def test_snapshot_diff_null_vs_value_is_changed(spark):
    """NULL-vs-value in a non-key column must label the key 'changed'
    (xxhash64 over the struct treats NULL as a distinct value; the
    registered oracle matches via IS DISTINCT FROM — the review-found
    trap was `<>`, which calls NULL-vs-value not-different)."""
    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "k long, v string")
    new = spark.createDataFrame(
        [(1, None), (2, "b"), (3, None), (4, "d")], "k long, v string")
    got = {r.k: r.change
           for r in V.snapshot_diff(old, new, "k").collect()}
    assert got == {1: "changed", 2: "changed",
                   3: "unchanged", 4: "unchanged"}


def test_snapshot_diff_rejects_schema_drift(spark, table):
    d, base = table
    with pytest.raises(ValueError):
        V.snapshot_diff(base, base.drop("c_name"), "c_custkey")


def test_effective_versions_supersession(spark, tmp_path):
    """Compaction supersession at the manifest-protocol level (round-12
    verdict #1): the newest compaction (largest compacts_through) plus
    later deltas form the read set; everything at or below the
    threshold — earlier deltas AND earlier compactions — drops out, a
    torn compaction directory changes nothing, and read_table's single
    multi-path scan equals the logical union of live deltas."""
    d = str(tmp_path / "t")

    def rows(*vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    v0 = V.write_version(rows(1), d)                       # delta
    v1 = V.write_version(rows(2), d)                       # delta
    c1 = V.write_version(rows(1, 2), d,
                         extra={"compacts_through": v1})    # compaction 1
    v3 = V.write_version(rows(3), d)                       # delta
    c2 = V.write_version(rows(1, 2, 3), d,
                         extra={"compacts_through": v3})    # compaction 2
    v5 = V.write_version(rows(4), d)                       # delta
    # torn (manifest-less) attempt after v5 — must stay invisible
    os.makedirs(os.path.join(d, "v=99", "data"))

    assert V.committed_versions(d) == [v0, v1, c1, v3, c2, v5]
    assert V.effective_versions(d) == [c2, v5]
    got = sorted(r.x for r in V.read_table(spark, d).collect())
    assert got == [1, 2, 3, 4]
    # a table that never compacted reads all deltas; an empty one -> None
    d2 = str(tmp_path / "t2")
    assert V.read_table(spark, d2) is None
    V.write_version(rows(7), d2)
    V.write_version(rows(8), d2)
    assert V.effective_versions(d2) == V.committed_versions(d2)
    assert sorted(r.x for r in V.read_table(spark, d2).collect()) == [7, 8]


def test_gc_retains_time_travel_window(spark, tmp_path):
    """Round-12 verdict #7: gc_versions deletes superseded versions
    outside the retention window — retained versions stay readable
    (time travel), deleted ones raise, the effective read set is never
    touched, and torn directories below the newest committed version
    are reaped while the max-numbered one (a possible in-flight write)
    survives."""
    d = str(tmp_path / "t")

    def rows(*vals):
        return spark.createDataFrame([(v,) for v in vals], "x long")

    # a merge-style snapshot chain: each version supersedes its parent
    vs = []
    for i in range(8):
        prev = vs[-1] if vs else None
        vs.append(V.write_version(rows(*range(i + 1)), d,
                                  extra={"compacts_through": prev}
                                  if prev is not None else None))
    # torn dirs: one below the latest committed, one above it
    os.rename(os.path.join(d, f"v={vs[1]}", "manifest.json"),
              os.path.join(d, f"v={vs[1]}", "_gone"))  # simulate torn
    os.makedirs(os.path.join(d, "v=99", "data"))

    deleted = V.gc_versions(d, retain_last=3)
    left = V.committed_versions(d)
    # window: newest 3 committed survive; effective ([latest]) within it
    assert left == vs[-3:]
    # every superseded version outside the window goes — including the
    # v0 seed (the snapshot chain covers it); vs[1] was torn, not
    # committed, so it is reaped as a torn dir rather than "deleted"
    assert set(deleted) == set(vs[:-3]) - {vs[1]}
    for v in left:
        assert sorted(r.x for r in V.read_version(spark, d, v).collect()) \
            == list(range(v + 1))
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, d, vs[2])
    # torn dir below latest committed reaped; max-numbered torn kept
    assert not os.path.exists(os.path.join(d, f"v={vs[1]}"))
    assert os.path.exists(os.path.join(d, "v=99"))
    # idempotent: a second GC deletes nothing
    assert V.gc_versions(d, retain_last=3) == []
