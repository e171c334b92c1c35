"""Streaming foreachBatch MERGE into the versioned snapshot table
(round-9 verdict #5): crash-resume differentials proving exactly-once
upsert convergence to the one-shot batch MERGE, and that a crash
between the batch's version commit and the checkpoint commit leaves
the previous snapshot readable and the replay idempotent."""

from __future__ import annotations

import glob
import os
import shutil

import pyspark.sql.functions as F
import pytest

from jira_scraper_etl_spark.catalog import load_table
from jira_scraper_etl_spark.operators import versioned as V
from jira_scraper_etl_spark.streaming import merge_sink as MS


@pytest.fixture(scope="module")
def orders_dir(spark, sf_dir, tmp_path_factory):
    """Orders split into 3 date-range parquet files — a CDC backlog
    replay, one micro-batch per file."""
    from pyspark.sql import Window

    d = str(tmp_path_factory.mktemp("orders_stream"))
    raw = load_table(spark, sf_dir, "orders")
    nt = F.ntile(3).over(Window.orderBy("o_orderdate", "o_orderkey"))
    chunked = raw.withColumn("nt", nt)
    for i in (1, 2, 3):
        tmp = f"{d}/_stage{i}"
        chunked.where(F.col("nt") == i).drop("nt").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{d}/{i:02d}.parquet")
        shutil.rmtree(tmp)
    return d


def batch_truth(spark, sf_dir):
    """The one-shot batch MERGE the stream must converge to."""
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))
    all_orders = load_table(spark, sf_dir, "orders")
    return {tuple(r) for r in
            MS.merge_balances(seed, MS.order_deltas(all_orders)).collect()}


def snap(spark, table_dir):
    return {tuple(r) for r in V.read_version(spark, table_dir).collect()}


def test_stream_merge_equals_batch_merge(spark, sf_dir, orders_dir, tmp_path):
    table = str(tmp_path / "balances")
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))
    final = MS.run_merge_stream(spark, orders_dir, table,
                                str(tmp_path / "ck"), seed=seed)
    assert {tuple(r) for r in final.collect()} == batch_truth(spark, sf_dir)
    # one committed version per micro-batch + the seed, ids monotone
    vs = V.committed_versions(table)
    assert len(vs) == 4
    ids = [V.latest_batch_id(table)]
    assert ids == [2]


def test_crash_after_commit_before_checkpoint_replays_idempotently(
        spark, sf_dir, orders_dir, tmp_path):
    """Kill the stream right after batch 1's version commit — the
    at-least-once window. The restart replays batch 1 (same id); the
    sink must skip it (no duplicate delta, no extra version) and still
    converge to the batch MERGE."""
    table = str(tmp_path / "balances")
    ck = str(tmp_path / "ck")
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))

    def crash_once(phase, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        MS.run_merge_stream(spark, orders_dir, table, ck, seed=seed,
                            crash_hook=crash_once)
    # batch 1's version IS committed (crash was post-commit)…
    assert V.latest_batch_id(table) == 1
    mid = snap(spark, table)  # …and readable: the table is never torn
    assert mid
    # resume: batch 1 replays and is skipped, batch 2 applies
    final = MS.run_merge_stream(spark, orders_dir, table, ck)
    assert {tuple(r) for r in final.collect()} == batch_truth(spark, sf_dir)
    assert V.latest_batch_id(table) == 2
    assert len(V.committed_versions(table)) == 4  # seed + 3 batches, no dupes


def test_torn_version_is_invisible_and_resume_remerges(
        spark, sf_dir, orders_dir, tmp_path):
    """A crash MID-commit (data written, manifest missing) must leave
    the previous snapshot as the readable latest; the replayed batch
    re-merges on top of it and burns the torn slot."""
    table = str(tmp_path / "balances")
    ck = str(tmp_path / "ck")
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))

    def crash_once(phase, batch_id):
        if batch_id == 0:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        MS.run_merge_stream(spark, orders_dir, table, ck, seed=seed,
                            crash_hook=crash_once)
    # simulate the torn HALF-commit of the next batch: a v= directory
    # with data but no manifest (what a kill between the parquet write
    # and the manifest rename leaves behind)
    committed = V.committed_versions(table)
    torn = max(committed) + 1
    os.makedirs(os.path.join(table, f"v={torn}", "data"))
    before = snap(spark, table)
    assert V.latest_version(table) == max(committed)  # torn dir invisible
    final = MS.run_merge_stream(spark, orders_dir, table, ck)
    assert {tuple(r) for r in final.collect()} == batch_truth(spark, sf_dir)
    # the torn slot was burned, never reused
    assert torn not in V.committed_versions(table)
    assert before  # previous snapshot was readable throughout


def test_time_travel_versions_are_prefix_merges(spark, sf_dir, orders_dir,
                                                tmp_path):
    """Each committed version equals the batch MERGE of the file
    prefix it drained — versions are consistent snapshots, not
    arbitrary intermediate states."""
    table = str(tmp_path / "balances")
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))
    MS.run_merge_stream(spark, orders_dir, table, str(tmp_path / "ck"),
                        seed=seed)
    files = sorted(glob.glob(f"{orders_dir}/*.parquet"))
    for version, k in [(1, 1), (2, 2), (3, 3)]:
        got = {tuple(r)
               for r in V.read_version(spark, table, version).collect()}
        prefix = spark.read.parquet(*files[:k])
        want = {tuple(r) for r in
                MS.merge_balances(seed, MS.order_deltas(prefix)).collect()}
        assert got == want, f"version {version} != prefix-{k} merge"


@pytest.fixture(scope="module")
def skewed_orders_dir(spark, sf_dir, tmp_path_factory):
    """The order backlog with an injected hot key: ~90% of change rows
    collapse onto customer 1 (round-10 verdict #8 — upsert-heavy CDC
    with hot keys is where foreachBatch MERGE dies at scale). Same
    3-file doc-ordered slicing as the uniform fixture."""
    from pyspark.sql import Window

    d = str(tmp_path_factory.mktemp("skewed_orders"))
    raw = (load_table(spark, sf_dir, "orders")
           .withColumn("o_custkey",
                       F.when(F.col("o_orderkey") % 10 < 9, F.lit(1))
                       .otherwise(F.col("o_custkey"))))
    nt = F.ntile(3).over(Window.orderBy("o_orderdate", "o_orderkey"))
    chunked = raw.withColumn("nt", nt)
    for i in (1, 2, 3):
        tmp = f"{d}/_stage{i}"
        chunked.where(F.col("nt") == i).drop("nt").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{d}/{i:02d}.parquet")
        shutil.rmtree(tmp)
    return d


def test_skewed_hot_key_merge_converges(spark, sf_dir, skewed_orders_dir,
                                        tmp_path):
    """Hot-key CDC: the per-batch delta aggregation collapses the hot
    key map-side (one change row per key reaches the merge join no
    matter how skewed the raw batch), so the skewed drain must converge
    exactly — crash included — to the one-shot skewed MERGE."""
    table, ck = str(tmp_path / "bal"), str(tmp_path / "ck")
    seed = MS.seed_from_customers(load_table(spark, sf_dir, "customer"))

    def crash_once(phase, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        MS.run_merge_stream(spark, skewed_orders_dir, table, ck, seed=seed,
                            crash_hook=crash_once)
    final = MS.run_merge_stream(spark, skewed_orders_dir, table, ck)
    skewed = spark.read.parquet(f"{skewed_orders_dir}")
    want = {tuple(r) for r in
            MS.merge_balances(seed, MS.order_deltas(skewed)).collect()}
    assert {tuple(r) for r in final.collect()} == want
    # the hot key's row really did absorb ~90% of the order count
    hot = {r.c_custkey: r.n_orders for r in final.collect()}[1]
    total = skewed.count()
    assert hot >= 0.85 * total
