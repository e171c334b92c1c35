"""Jira REST source tests — same behavioral contract as the reference's
mocked-HTTP suite (/root/reference/tests/test_extract.py): incremental
JQL, 429 handling, exponential backoff, retry exhaustion, checkpoint
round-trip; plus the end-to-end partitioned Spark scan the reference
cannot do (it reads pages sequentially, extract.py:200-370)."""

from __future__ import annotations

import json

import pytest

from jira_scraper_etl_spark.sources import jira_rest as J
from jira_scraper_etl_spark.sources import offsets as OFF


def cfg(**kw) -> J.SourceConfig:
    base = dict(transport="synthetic", total=137, max_results=50,
                project="SPARK", rate_limit_sleep_seconds=30,
                retry_backoff_base=2, max_retries=3)
    base.update(kw)
    return J.SourceConfig(**base)


# -- JQL / incremental predicate (test_extract.py:55-77) --------------------

def test_jql_incremental_cutoff():
    c = cfg(incremental=True)
    jql = J.build_jql(c, "2025-01-01T12:34:56.000+0000")
    assert "project = SPARK" in jql
    assert "updated >= '2025-01-01'" in jql  # date-granularity quirk preserved


def test_jql_pushed_predicate_wins():
    c = cfg(incremental=True, updated_since="2025-06-15T00:00:00")
    assert "updated >= '2025-06-15'" in J.build_jql(c, "2025-01-01T00:00:00")


def test_jql_no_cutoff_when_not_incremental():
    assert "updated" not in J.build_jql(cfg(), "2025-01-01T00:00:00")


# -- retry state machine (test_extract.py:79-153) ---------------------------

class ScriptedTransport:
    """Yields scripted (status, body) responses, recording calls."""

    def __init__(self, script):
        self.script = list(script)
        self.calls = 0

    def __call__(self, params):
        self.calls += 1
        return self.script.pop(0)


OK = (200, {"issues": [J.synthetic_issue("SPARK", 0)], "total": 1})


def test_rate_limit_429_sleeps_and_retries():
    sleeps = []
    t = ScriptedTransport([(429, None), OK])
    issues, total = J.fetch_page(t, cfg(), "jql", 0, sleep=sleeps.append)
    assert t.calls == 2 and len(issues) == 1 and total == 1
    assert sleeps == [30]


def test_server_error_exponential_backoff():
    sleeps = []
    t = ScriptedTransport([(500, None), (500, None), OK])
    issues, _ = J.fetch_page(t, cfg(), "jql", 0, sleep=sleeps.append)
    assert t.calls == 3 and len(issues) == 1
    assert sleeps == [1, 2]  # 2^0, 2^1


def test_persistent_failure_raises_after_max_retries():
    t = ScriptedTransport([(500, None)] * 10)
    with pytest.raises(RuntimeError, match="after 3 retries"):
        J.fetch_page(t, cfg(max_retries=3), "jql", 0, sleep=lambda s: None)
    assert t.calls == 4  # initial + 3 retries


def test_network_exception_counts_as_retry():
    def boom(params):
        raise ConnectionError("reset")
    with pytest.raises(RuntimeError):
        J.fetch_page(boom, cfg(max_retries=1), "jql", 0, sleep=lambda s: None)


def test_persistent_429_exhausts_retry_budget():
    """A server that 429s forever must raise, not hang the executor
    (extract.py:232-236 increments attempt on 429 too)."""
    sleeps = []
    t = ScriptedTransport([(429, None)] * 10)
    with pytest.raises(RuntimeError, match="after 3 retries"):
        J.fetch_page(t, cfg(max_retries=3), "jql", 0, sleep=sleeps.append)
    assert t.calls == 4  # initial + 3 rate-limited retries
    assert sleeps == [30, 30, 30]  # fixed rate-limit sleep, not backoff


# -- checkpoint store (test_extract.py:155-201) -----------------------------

def test_offset_roundtrip_and_legacy_txt(tmp_path):
    d = str(tmp_path)
    OFF.save(d, "SPARK", OFF.Offset(150, "2025-02-03T04:05:06.000+0000"))
    got = OFF.load(d, "SPARK")
    assert got.start_at == 150
    assert got.last_updated == "2025-02-03T04:05:06.000+0000"
    # legacy txt fallback when JSON is gone
    (tmp_path / "SPARK.json").unlink()
    assert OFF.load(d, "SPARK").start_at == 150
    assert OFF.load(d, "SPARK").last_updated is None


def test_offset_missing_defaults_to_zero(tmp_path):
    got = OFF.load(str(tmp_path), "NOPE")
    assert got.start_at == 0 and got.last_updated is None


# -- row projection (transformer.py:245-268 parity) -------------------------

def test_issue_to_row_null_safety():
    def project(fields):
        row = J.issue_to_row({"key": "SPARK-1", "fields": fields})
        return dict(zip([f.name for f in J.ISSUE_SCHEMA.fields], row))

    d = project({"status": None, "summary": "s"})
    assert d["status"] == "Unknown"       # null status default
    assert d["priority"] is None
    assert d["labels"] == [] and d["comments"] == []
    # "Unknown" only for an ABSENT object: a present status with an
    # empty or null name keeps it
    assert project({"status": {"name": ""}})["status"] == ""
    assert project({"status": {"name": None}})["status"] is None
    # null component entries are kept, not dropped
    assert project({"components": [{"name": "core"}, None]})["components"] \
        == ["core", None]
    # a comment author object with a null displayName keeps the null;
    # an absent author is "Unknown"; only None comments are dropped
    comments = [{"author": {"displayName": None}, "body": "b", "created": "c"},
                {"author": None, "body": "b2"}, None, {}]
    assert project({"comment": {"comments": comments}})["comments"] == [
        (None, "b", "c"), ("Unknown", "b2", None), ("Unknown", None, None)]


# -- partition planning ------------------------------------------------------

def test_source_config_option_defaults():
    assert J.SourceConfig.from_options({}) == J.SourceConfig()


def test_partition_planning_page_ranges():
    r = J.JiraRestReader({"transport": "synthetic", "total": "437",
                          "max_results": "50", "pages_per_partition": "2"})
    parts = r.partitions()
    assert parts[0].start_at == 0
    assert all(p.end_at - p.start_at <= 100 for p in parts)
    assert parts[-1].end_at == 437
    covered = sum(p.end_at - p.start_at for p in parts)
    assert covered == 437


def test_partition_planning_caps_task_count():
    r = J.JiraRestReader({"transport": "synthetic", "total": "100000",
                          "max_results": "50", "pages_per_partition": "1",
                          "max_partitions": "8"})
    parts = r.partitions()
    assert len(parts) <= 8
    assert parts[-1].end_at == 100000


# -- filter pushdown semantics ----------------------------------------------

def test_pushfilters_consumes_project_yields_updated_back():
    """Only `project = Y` is exact in JQL; `updated` filters narrow the
    JQL (date-truncated superset) but must be yielded back so Spark
    re-applies the exact predicate (strict `>`/time-of-day cutoffs)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan
    r = J.JiraRestReader({"transport": "synthetic", "total": "60"})
    flts = [EqualTo(("project",), "KAFKA"),
            GreaterThan(("updated",), "2025-03-15T10:00:00")]
    remaining = list(r.pushFilters(flts))
    assert remaining == [flts[1]]             # project consumed, updated yielded
    assert "project = KAFKA" in r._jql
    assert "updated >= '2025-03-15'" in r._jql  # narrowed, date-truncated


def test_pushfilters_tightest_cutoff_wins():
    from pyspark.sql.datasource import GreaterThanOrEqual
    r = J.JiraRestReader({"transport": "synthetic", "total": "60"})
    flts = [GreaterThanOrEqual(("updated",), "2025-03-10"),
            GreaterThanOrEqual(("updated",), "2025-03-20")]
    assert list(r.pushFilters(flts)) == flts  # both yielded back
    assert "updated >= '2025-03-20'" in r._jql


def test_spark_pushdown_jql_reaches_server_and_results_exact(spark, tmp_path):
    """End-to-end through the DS API: the server-side JQL actually
    carries the cutoff (recorded params), Spark re-applies the exact
    predicate, and strict `>` is not silently treated as `>=`."""
    J.register_jira_source(spark)
    rec = str(tmp_path / "params.jsonl")
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 120)
          .option("record_params_path", rec).load())
    import pyspark.sql.functions as F
    cut = "2025-03-15T00:00:00"
    got = {r.key for r in df.where(F.col("updated") > cut).collect()}
    exp = {f"SPARK-{i}" for i in range(120)
           if J.synthetic_issue("SPARK", i)["fields"]["updated"] > cut}
    assert got == exp and got  # exact strict-> semantics
    recorded = [json.loads(l) for l in open(rec)]
    assert any("updated >= '2025-03-15'" in p["jql"] for p in recorded)
    # server-side narrowing engaged: no request ever paged the full corpus
    day_lt_15 = sum(1 for i in range(120)
                    if J.synthetic_issue("SPARK", i)["fields"]["updated"] <= "2025-03-15")
    assert day_lt_15 > 0  # the narrowing excluded something


def test_incremental_cutoff_scan_restarts_from_zero(tmp_path):
    """After a completed full scan (start_at == total in the offset
    file), an incremental run with an `updated >=` cutoff must renumber
    from 0 — the server renumbers the filtered result set — instead of
    silently planning an empty scan (the reference's defect)."""
    ck = str(tmp_path)
    OFF.save(ck, "SPARK", OFF.Offset(120, "2025-03-15T00:00:00.000+0000"))
    r = J.JiraRestReader({"transport": "synthetic", "total": "120",
                          "incremental": "true", "checkpoint_dir": ck})
    parts = r.partitions()
    assert parts[0].start_at == 0
    n_filtered = sum(1 for i in range(120)
                     if J.synthetic_issue("SPARK", i)["fields"]["updated"] >= "2025-03-15")
    assert parts[-1].end_at == n_filtered > 0
    rows = [row for p in parts for row in r.read(p)]
    assert len(rows) == n_filtered


def test_non_cutoff_resume_still_uses_start_at(tmp_path):
    """start_at remains the resume cursor for interrupted *non-cutoff*
    scans (no renumbering without a JQL filter)."""
    ck = str(tmp_path)
    OFF.save(ck, "SPARK", OFF.Offset(50, None))
    r = J.JiraRestReader({"transport": "synthetic", "total": "120",
                          "incremental": "true", "checkpoint_dir": ck})
    parts = r.partitions()
    assert parts[0].start_at == 50 and parts[-1].end_at == 120


def test_spark_scan_survives_transient_failures(spark, tmp_path):
    """Retry through the REAL scan path: every distinct startAt fails
    once with a 503 inside the executor before succeeding — the scan
    must still return the complete, correct corpus (backoff sleeps are
    configured near-zero so the test stays fast)."""
    J.register_jira_source(spark)
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 120)
          .option("max_results", 25)
          .option("flaky_dir", str(tmp_path))
          .option("retry_backoff_base", "0.001").load())
    rows = df.collect()
    assert {r.key for r in rows} == {f"SPARK-{i}" for i in range(120)}
    # the probe + every page really did fail once first
    import os
    assert len(os.listdir(tmp_path)) >= 120 // 25


# -- end-to-end Spark scan (the thing the reference can't: parallel pages) --

def test_spark_batch_scan_synthetic(spark):
    J.register_jira_source(spark)
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 137)
          .option("max_results", 25).option("project", "KAFKA").load())
    rows = df.collect()
    assert len(rows) == 137
    assert {r.key for r in rows} == {f"KAFKA-{i}" for i in range(137)}
    one = next(r for r in rows if r.key == "KAFKA-10")
    assert one.status == J._STATUSES[10 % 4]
    assert one.comments[0].body.startswith("Comment 0 on issue 10")


def test_spark_scan_filter_pushdown_still_correct(spark):
    J.register_jira_source(spark)
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 60).load())
    got = df.where(df.status == "Open").count()
    assert got == 15  # i % 4 == 0 for 60 issues


# -- streaming reader (micro-batch page tailing) -----------------------------

def test_stream_reader_pages_and_offsets(tmp_path):
    r = J.JiraRestStreamReader({"transport": "synthetic", "total": "120",
                                "max_results": "50",
                                "pages_per_partition": "1",
                                "checkpoint_dir": str(tmp_path)})
    assert r.initialOffset() == {"start_at": 0}
    assert r.latestOffset() == {"start_at": 120}
    parts = r.partitions({"start_at": 0}, {"start_at": 120})
    assert [(p.start_at, p.end_at) for p in parts] == [
        (0, 50), (50, 100), (100, 120)]
    # exhausted: an empty offset range plans no partitions
    assert r.partitions({"start_at": 120}, {"start_at": 120}) == []
    assert len(list(r.read(parts[-1]))) == 20
    # offset file mirrored on commit for operability
    r.commit({"start_at": 120})
    assert OFF.load(str(tmp_path), "SPARK").start_at == 120


def test_stream_read_replays_partition(monkeypatch):
    """Failure recovery: Spark replays a batch whose commit was lost by
    planning and reading the same offset range again; the paged source
    is deterministic by range, so the replay must equal the original
    read. It runs the batch page loop, so it keeps the politeness delay
    too."""
    r = J.JiraRestStreamReader({"transport": "synthetic", "total": "120",
                                "max_results": "50"})
    original = list(r.read(J.PageRange(50, 100)))
    assert len(original) == 50
    assert list(r.read(J.PageRange(50, 100))) == original
    # partial range reads exactly that slice
    assert len(list(r.read(J.PageRange(0, 30)))) == 30
    # empty range
    assert list(r.read(J.PageRange(10, 10))) == []
    # three pages (50 + 50 + 20): a polite pause between pages, not after
    slept: list[float] = []
    monkeypatch.setattr(J.time, "sleep", slept.append)
    polite = J.JiraRestStreamReader({"transport": "synthetic", "total": "120",
                                     "max_results": "50",
                                     "polite_delay_seconds": "0.5"})
    assert len(list(polite.read(J.PageRange(0, 120)))) == 120
    assert slept == [0.5, 0.5]
