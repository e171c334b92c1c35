"""Orchestration: the reference's CLI/worker lifecycle on Spark.

Maps the reference's three entry points (SURVEY.md §3) onto DataFrame
jobs:

* ``run_pipeline`` — the two-phase batch run (`main.py:98-211`):
  extract (jira_rest scan → bronze parquet, partitioned by project) then
  transform (bronze → silver parquet + JSONL), with per-project error
  isolation (T9, `extract.py:393-400`), phase gating (transform skipped
  when extraction failed, `main.py:175`), and per-phase wall-clock
  reporting (`main.py:139-190`).
* ``run_worker`` — the scheduler (`worker.py:130-184`): repeated runs on
  an interval with status-file reporting (`worker.py:40-65`) and
  graceful stop (`worker.py:118-128`). ``max_runs`` bounds it for
  tests; production would pass ``None`` and stop via the event.
* ``run_streaming_silver`` — the Structured Streaming analog (§2.9):
  ``readStream`` over the jira_rest source, ``foreachBatch`` silver
  transform, ``Trigger.AvailableNow``-style drain with Spark's
  checkpointLocation owning offsets and each micro-batch committed as
  a version of a ``versioned`` table (exactly-once at rest).

Scale notes: each project's extract is an independent partitioned scan
(pages fan out across executors); bronze and silver are parquet with a
``project=`` directory layout so downstream reads partition-prune. At
100 TB the only change is sizing ``pages_per_partition`` and pointing
``data_dir`` at object storage.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field as dc_field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators import versioned as V
from ..operators.transform import SILVER_SCHEMA, transform_issues
from ..sources import register_jira_source
from ..sources import offsets as OFF
from ..sources.jira_rest import ISSUE_SCHEMA
from .events import drain_query


@dataclass
class PipelineConfig:
    """Mirror of the reference's config.json keys (`main.py:32-50`) plus
    engine-specific knobs (transport selection, partition sizing)."""

    projects: list[str] = dc_field(default_factory=lambda: ["SPARK"])
    data_dir: str = "data"
    base_url: str = "https://issues.apache.org/jira"
    max_results: int = 50
    polite_delay_seconds: float = 0.0
    rate_limit_sleep_seconds: float = 30.0
    retry_backoff_base: float = 2.0
    max_retries: int = 5
    incremental: bool = False
    verify_ssl: bool = True
    transport: str = "requests"
    synthetic_total: int = 200
    pages_per_partition: int = 4

    @classmethod
    def from_json(cls, path: str) -> "PipelineConfig":
        with open(path) as f:
            d = json.load(f)
        known = {k: v for k, v in d.items() if k in cls.__dataclass_fields__}
        return cls(**known)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.data_dir, *parts)


def _source_options(cfg: PipelineConfig, project: str) -> dict:
    return {
        "url": cfg.base_url,
        "project": project,
        "max_results": str(cfg.max_results),
        "polite_delay_seconds": str(cfg.polite_delay_seconds),
        "rate_limit_sleep_seconds": str(cfg.rate_limit_sleep_seconds),
        "retry_backoff_base": str(cfg.retry_backoff_base),
        "max_retries": str(cfg.max_retries),
        "incremental": str(cfg.incremental).lower(),
        "verify_ssl": str(cfg.verify_ssl).lower(),
        "checkpoint_dir": cfg.dir("checkpoints"),
        "transport": cfg.transport,
        "total": str(cfg.synthetic_total),
        "pages_per_partition": str(cfg.pages_per_partition),
    }


def scan_issues(spark: SparkSession, cfg: PipelineConfig, project: str) -> DataFrame:
    register_jira_source(spark)
    return (spark.read.format("jira_rest")
            .options(**_source_options(cfg, project)).load())


def extract_project(spark: SparkSession, cfg: PipelineConfig, project: str) -> int:
    """Phase A for one project: partitioned REST scan → bronze parquet,
    then advance the offset file (the write-then-checkpoint ordering of
    `extract.py:354-356` — at-least-once, idempotent by overwrite). The
    row count and ``max(updated)`` come from an ``Observation`` on the
    bronze write, so bronze is not read back."""
    bronze = cfg.dir("bronze", f"project={project}")
    seen = Observation()
    (scan_issues(spark, cfg, project)
     .observe(seen, F.count(F.lit(1)).alias("n"), F.max("updated").alias("latest"))
     .write.mode("overwrite").parquet(bronze))
    n, latest = seen.get["n"], seen.get["latest"]
    base = OFF.load(cfg.dir("checkpoints"), project)
    OFF.save(cfg.dir("checkpoints"), project,
             OFF.Offset(base.start_at + n, latest or base.last_updated))
    return n


def transform_project(spark: SparkSession, cfg: PipelineConfig, project: str) -> int:
    """Phase B for one project: bronze → silver parquet + JSONL corpus
    (`transformer.py:329-428`; the JSONL mirrors
    data/processed/{PROJECT}_issues.jsonl). The transform runs once: the
    JSONL is written from the silver parquet, and the count comes from
    an ``Observation`` on the silver write. Both reads pass their known
    schema, which spares each a footer-inference job."""
    bronze = cfg.dir("bronze", f"project={project}")
    silver = cfg.dir("silver", f"project={project}")
    seen = Observation()
    (transform_issues(spark.read.schema(ISSUE_SCHEMA).parquet(bronze))
     .observe(seen, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(silver))
    (spark.read.schema(SILVER_SCHEMA).parquet(silver)
     .write.mode("overwrite").json(cfg.dir("processed", f"{project}_issues.jsonl")))
    return seen.get["n"]


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 extract: bool = True, transform: bool = True) -> dict:
    """One batch run over all configured projects. Returns the run
    report (per-project counts/errors, per-phase seconds, success flag)
    — the engine's version of the reference's logged summary."""
    report: dict = {"projects": {p: {} for p in cfg.projects},
                    "extract_seconds": None, "transform_seconds": None}
    extract_ok = True
    if extract:
        t0 = time.perf_counter()
        for p in cfg.projects:
            try:
                report["projects"][p]["extracted"] = extract_project(spark, cfg, p)
            except Exception as exc:  # T9: isolate per-project failures
                report["projects"][p]["extract_error"] = str(exc)
                extract_ok = False
        report["extract_seconds"] = round(time.perf_counter() - t0, 3)
    if transform and extract_ok:
        t0 = time.perf_counter()
        for p in cfg.projects:
            try:
                report["projects"][p]["transformed"] = transform_project(spark, cfg, p)
            except Exception as exc:
                report["projects"][p]["transform_error"] = str(exc)
        report["transform_seconds"] = round(time.perf_counter() - t0, 3)
    elif transform:
        report["transform_skipped"] = "extraction failed"  # main.py:175 gating
    report["success"] = extract_ok and not any(
        "transform_error" in v for v in report["projects"].values())
    return report


# ---------------------------------------------------------------------------
# Worker (scheduler) analog — §2.9 T1, T7, T8
# ---------------------------------------------------------------------------

def write_status(path: str, started_at: float, last_success: str | None,
                 healthy: bool, message: str) -> None:
    """`worker.py:40-65` status file, field-for-field."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    status = {
        "last_update": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
        "uptime_seconds": round(time.time() - started_at, 1),
        "last_successful_run": last_success,
        "healthy": healthy,
        "message": message,
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(status, f, indent=2)
    os.replace(tmp, path)


def run_worker(spark: SparkSession, cfg: PipelineConfig,
               interval_seconds: float = 6 * 3600,
               max_runs: int | None = None,
               stop_event: threading.Event | None = None,
               initial_run: bool = True,
               poll_seconds: float = 1.0) -> dict:
    """Scheduled repeated runs (`worker.py:130-184`): optional immediate
    first run, then one run per interval, status JSON after every run,
    graceful stop via ``stop_event`` (the SIGINT handler's job in the
    reference — signal wiring belongs to the caller's process, not a
    library)."""
    stop_event = stop_event or threading.Event()
    status_path = cfg.dir("worker_status.json")
    started = time.time()
    last_success: str | None = None
    runs = 0
    write_status(status_path, started, None, True, "worker started")

    next_due = time.time() if initial_run else time.time() + interval_seconds
    while not stop_event.is_set() and (max_runs is None or runs < max_runs):
        if time.time() < next_due:
            stop_event.wait(min(poll_seconds, max(next_due - time.time(), 0)))
            continue
        t0 = time.time()
        try:
            report = run_pipeline(spark, cfg)
            ok = report["success"]
            if ok:
                last_success = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
            write_status(status_path, started, last_success, ok,
                         f"run finished in {round(time.time() - t0, 1)}s")
        except Exception as exc:
            write_status(status_path, started, last_success, False,
                         f"run failed: {exc}")
        runs += 1
        next_due = t0 + interval_seconds
    write_status(status_path, started, last_success, True, "worker stopped")
    return {"runs": runs, "last_successful_run": last_success}


# ---------------------------------------------------------------------------
# Structured Streaming silver pipeline — §2.9 T1-T4
# ---------------------------------------------------------------------------

def stream_issues(spark: SparkSession, cfg: PipelineConfig, project: str) -> DataFrame:
    register_jira_source(spark)
    return (spark.readStream.format("jira_rest")
            .options(**_source_options(cfg, project)).load())


def foreach_batch_silver(table_dir: str):
    """Build the ``foreachBatch`` function: each micro-batch's silver
    rows commit as the next version of the versioned table at
    ``table_dir``, tagged with the micro-batch id. A replayed id (a
    crash between this commit and the checkpoint's) is already
    committed and is skipped, so the at-least-once ``foreachBatch``
    writes every issue exactly once."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if V.committed(table_dir, batch_id):
            return
        V.write_version(transform_issues(batch), table_dir,
                        extra={"batch_id": batch_id})

    return apply_batch


# Upper bound on AvailableNow runs in one drain.
_STREAM_MAX_ROUNDS = 1000


def run_streaming_silver(spark: SparkSession, cfg: PipelineConfig, project: str,
                         timeout_seconds: float = 120.0) -> int:
    """Drain the source through the silver transform into a versioned
    table (``foreach_batch_silver``), each micro-batch read on
    executors like the batch scan. Spark's checkpointLocation provides
    exactly-once *offsets* (§2.9 T2); the sink's manifest commit and
    batch-id replay check make the *writes* exactly-once too. Read the
    table with ``versioned.read_table``.

    A restart whose last commit was lost replays that batch, and the
    ``Trigger.AvailableNow`` run ends there, so we loop until a run
    covers no offsets (each resumes from the same checkpoint). Input
    rows would not do: the replayed batch is skipped unread.
    Every run goes through ``events.drain_query``, so a run still
    active after ``timeout_seconds`` raises ``TimeoutError`` instead of
    returning a partial drain. Returns rows in the table.
    """
    table_dir = cfg.dir("silver_stream", f"project={project}")
    ckpt = cfg.dir("stream_checkpoints", project)
    for _ in range(_STREAM_MAX_ROUNDS):
        q = drain_query(lambda: (
            stream_issues(spark, cfg, project).writeStream
            .foreachBatch(foreach_batch_silver(table_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()), timeout_seconds)
        if all(s["startOffset"] == s["endOffset"]
               for p in q.recentProgress for s in p["sources"]):
            break
    out = V.read_table(spark, table_dir)
    return 0 if out is None else out.count()
