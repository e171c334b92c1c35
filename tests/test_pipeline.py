"""Orchestration tests: two-phase batch run, per-project error
isolation, phase gating, worker status reporting, and the streaming
silver drain — the engine's analog of the reference's main.py/worker.py
lifecycle (SURVEY.md §3)."""

from __future__ import annotations

import glob
import json
import os
import threading

import pytest

from jira_scraper_etl_spark.operators import versioned as V
from jira_scraper_etl_spark.sources import offsets as OFF
from jira_scraper_etl_spark.streaming import (
    PipelineConfig,
    run_pipeline,
    run_streaming_silver,
    run_worker,
)


def make_cfg(tmp_path, **kw) -> PipelineConfig:
    base = dict(projects=["SPARK", "KAFKA"], data_dir=str(tmp_path),
                transport="synthetic", synthetic_total=120, max_results=50)
    base.update(kw)
    return PipelineConfig(**base)


def test_two_phase_run(spark, tmp_path):
    cfg = make_cfg(tmp_path)
    report = run_pipeline(spark, cfg)
    assert report["success"]
    for p in cfg.projects:
        assert report["projects"][p]["extracted"] == 120
        assert report["projects"][p]["transformed"] == 120
    # silver output is readable and carries derived tasks
    silver = spark.read.parquet(cfg.dir("silver", "project=SPARK"))
    row = silver.where(silver.id == "SPARK-3").first()
    assert row.derived_tasks.summary.startswith("Issue 3 needs attention")
    assert row.is_valid
    # offsets advanced (write-then-checkpoint ordering)
    assert OFF.load(cfg.dir("checkpoints"), "SPARK").start_at == 120
    # the JSONL corpus mirror holds exactly the silver records
    jl = spark.read.schema(silver.schema).json(
        cfg.dir("processed", "SPARK_issues.jsonl"))
    assert jl.count() == 120
    assert jl.exceptAll(silver).count() == 0
    assert silver.exceptAll(jl).count() == 0


def test_incremental_empty_leg_keeps_offset(spark, tmp_path):
    """A saved watermark past every issue makes the incremental scan
    return 0 rows: the write observations report a count of 0 and a
    null max(updated), so the offset stays as saved, and both outputs
    are still written, empty."""
    from jira_scraper_etl_spark.operators.transform import SILVER_SCHEMA

    cfg = make_cfg(tmp_path, projects=["SPARK"], incremental=True)
    saved = OFF.Offset(120, "2099-01-01T00:00:00.000+0000")
    OFF.save(cfg.dir("checkpoints"), "SPARK", saved)
    report = run_pipeline(spark, cfg)
    assert report["success"]
    counts = report["projects"]["SPARK"]
    assert counts["extracted"] == counts["transformed"] == 0
    assert OFF.load(cfg.dir("checkpoints"), "SPARK") == saved
    assert spark.read.parquet(cfg.dir("silver", "project=SPARK")).count() == 0
    jsonl = cfg.dir("processed", "SPARK_issues.jsonl")
    assert os.path.isdir(jsonl)
    assert spark.read.schema(SILVER_SCHEMA).json(jsonl).count() == 0


def test_transform_gated_on_extract_failure(spark, tmp_path, monkeypatch):
    cfg = make_cfg(tmp_path)

    import jira_scraper_etl_spark.streaming.pipeline as P

    real = P.extract_project

    def flaky(spark_, cfg_, project):
        if project == "KAFKA":
            raise RuntimeError("server melted")
        return real(spark_, cfg_, project)

    monkeypatch.setattr(P, "extract_project", flaky)
    report = P.run_pipeline(spark, cfg)
    assert not report["success"]
    assert report["projects"]["SPARK"]["extracted"] == 120   # isolation
    assert "server melted" in report["projects"]["KAFKA"]["extract_error"]
    assert report.get("transform_skipped") == "extraction failed"  # main.py:175


def test_config_from_json_ignores_unknown_keys(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps({"projects": ["HADOOP"], "max_results": 25,
                             "jira_base_url_legacy": "x"}))
    cfg = PipelineConfig.from_json(str(p))
    assert cfg.projects == ["HADOOP"] and cfg.max_results == 25


def test_worker_runs_and_status(spark, tmp_path):
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=60)
    out = run_worker(spark, cfg, interval_seconds=0.01, max_runs=2,
                     poll_seconds=0.01)
    assert out["runs"] == 2
    status = json.loads((tmp_path / "worker_status.json").read_text())
    assert status["healthy"] is True
    assert status["message"] == "worker stopped"
    assert out["last_successful_run"] is not None


def test_worker_stop_event(spark, tmp_path):
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=10)
    stop = threading.Event()
    stop.set()  # stop before any run — graceful-shutdown path (T8)
    out = run_worker(spark, cfg, interval_seconds=3600, stop_event=stop)
    assert out["runs"] == 0
    status = json.loads((tmp_path / "worker_status.json").read_text())
    assert status["message"] == "worker stopped"


def silver_stream_rows(spark, out_path: str) -> int:
    out = V.read_table(spark, out_path)
    return 0 if out is None else out.count()


def test_streaming_silver_soak_crash_every_batch(spark, tmp_path):
    """End-to-end streaming soak: drain a 3-page backlog where EVERY
    micro-batch's first attempt dies between the production sink's
    commit and the offset commit (the worst at-least-once window), and
    every batch boundary is a full query kill + checkpoint restart.
    Exactly-once must still hold: each record lands in exactly one
    committed version, no duplicates, and the committed offsets advance
    page by page to the end of the backlog."""
    from jira_scraper_etl_spark.streaming import pipeline as P

    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=150,
                   max_results=50)
    out_path = cfg.dir("silver_stream", "project=SPARK")
    ckpt = cfg.dir("stream_checkpoints", "SPARK")
    crashed: list[int] = []
    commit = P.foreach_batch_silver(out_path)

    def sink(batch_df, batch_id: int) -> None:
        commit(batch_df, batch_id)
        if batch_id not in crashed:
            crashed.append(batch_id)
            raise RuntimeError("injected crash before offset commit")

    prev, stable = silver_stream_rows(spark, out_path), 0
    for _ in range(20):  # each run = one query start from the checkpoint
        # a micro-batch takes the whole backlog, so grow the source one
        # page per new batch to get one crash per page
        cfg.synthetic_total = min(150, 50 * (len(crashed) + 1))
        q = (P.stream_issues(spark, cfg, "SPARK").writeStream
             .foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        except Exception:
            pass  # the injected crash surfaces here; restart resumes
        if q.isActive:
            q.stop()
        cur = silver_stream_rows(spark, out_path)
        stable = stable + 1 if cur == prev else 0
        if stable >= 2:  # two clean no-growth rounds → fully drained
            break
        prev = cur

    out = V.read_table(spark, out_path)
    assert out.count() == 150
    assert out.select("id").distinct().count() == 150
    # one committed version per data batch, and >=3 data batches crashed
    # once and were replayed as no-ops
    batch_ids = [V.load_manifest(out_path, v)["batch_id"]
                 for v in V.committed_versions(out_path)]
    assert len(batch_ids) == len(set(batch_ids)) >= 3
    assert len(crashed) == len(set(crashed)) and len(crashed) >= 3
    # committed offsets advanced to the end of the backlog
    offset_files = sorted(
        (f for f in glob.glob(os.path.join(ckpt, "offsets", "*"))
         if os.path.basename(f).isdigit()),
        key=lambda f: int(os.path.basename(f)))
    last = open(offset_files[-1]).read().splitlines()[-1]
    assert json.loads(last)["start_at"] == 150


def test_streaming_silver_drain_and_resume(spark, tmp_path):
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=120,
                   max_results=50)
    run_streaming_silver(spark, cfg, "SPARK")
    out = V.read_table(spark, cfg.dir("silver_stream", "project=SPARK"))
    assert out.count() == 120
    assert out.select("id").distinct().count() == 120
    # rerun: checkpointed offsets mean no duplicate appends
    run_streaming_silver(spark, cfg, "SPARK")
    assert silver_stream_rows(
        spark, cfg.dir("silver_stream", "project=SPARK")) == 120


def test_streaming_silver_recovers_lost_commit(spark, tmp_path):
    """The production sink's replay: with the last checkpoint commit
    lost, a restart replays that batch, which is already committed and
    is skipped, and the issues that arrived since are still drained."""
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=120,
                   max_results=50)
    run_streaming_silver(spark, cfg, "SPARK")
    commits = os.path.join(cfg.dir("stream_checkpoints", "SPARK"), "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, last))
    for crc in glob.glob(os.path.join(commits, f".{last}.crc")):
        os.remove(crc)
    cfg.synthetic_total = 170
    run_streaming_silver(spark, cfg, "SPARK")
    out = V.read_table(spark, cfg.dir("silver_stream", "project=SPARK"))
    assert out.count() == 170
    assert out.select("id").distinct().count() == 170


def test_streaming_silver_torn_commit_replays_once(spark, tmp_path,
                                                   monkeypatch):
    """A crash between a micro-batch's data write and its manifest
    leaves the previous version as the table; the replayed batch then
    commits once, into a fresh version slot."""
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=50,
                   max_results=50)
    table = cfg.dir("silver_stream", "project=SPARK")
    assert run_streaming_silver(spark, cfg, "SPARK") == 50
    assert V.committed_versions(table) == [0]

    class TornOs:
        """``os`` for versioned.py, except that the manifest rename dies."""

        def __getattr__(self, name):
            return getattr(os, name)

        def replace(self, src, dst):
            raise RuntimeError("injected crash before the manifest")

    monkeypatch.setattr(V, "os", TornOs())
    cfg.synthetic_total = 120
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_silver(spark, cfg, "SPARK")
    monkeypatch.undo()
    # batch 1's data landed in v=1, but without a manifest v=0 is the table
    assert any(f.endswith(".parquet")
               for f in os.listdir(os.path.join(table, "v=1", "data")))
    assert V.committed_versions(table) == [0]
    assert silver_stream_rows(spark, table) == 50

    assert run_streaming_silver(spark, cfg, "SPARK") == 120
    out = V.read_table(spark, table)
    assert out.count() == 120
    assert out.select("id").distinct().count() == 120
    assert V.committed_versions(table) == [0, 2]
    assert [V.load_manifest(table, v)["batch_id"] for v in (0, 2)] == [0, 1]


def test_streaming_silver_timeout_raises(spark, tmp_path):
    """A run still active at the deadline raises instead of coming back
    as a short row count."""
    cfg = make_cfg(tmp_path, projects=["SPARK"], synthetic_total=120,
                   max_results=50)
    with pytest.raises(TimeoutError):
        run_streaming_silver(spark, cfg, "SPARK", timeout_seconds=0.01)
