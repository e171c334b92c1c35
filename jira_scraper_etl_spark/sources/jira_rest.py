"""Paginated Jira REST scan as a Spark Python Data Source.

Re-expresses the reference's sequential page loop (`extract.py:122-370`)
as a parallel, partitioned scan:

* **Partition-per-page-range** — the driver probes the server once for
  ``total`` (the reference discovers it on page 1, `extract.py:277`),
  then plans one ``InputPartition`` per contiguous page range; executors
  fetch ranges concurrently. The reference's politeness delay
  (`extract.py:366`) applies *per partition stream*, so aggregate
  throughput scales with executors while per-connection politeness is
  preserved.
* **Retry / backoff / rate-limit** inside ``read()`` exactly per the
  reference: HTTP 429 → sleep ``rate_limit_sleep_seconds``, counted
  against the retry budget (`extract.py:232-236` increments ``attempt``
  on 429 too); 5xx/network → exponential ``backoff_base ** attempt`` up
  to ``max_retries`` (`extract.py:238-273`), then ``RuntimeError``.
  Spark task retries (`spark.task.maxFailures`) form the outer layer.
* **Column pruning at the protocol level** — the reference requests
  ``fields=*all`` and uses ~12 of 132 fields (the anti-pattern called
  out in SURVEY.md §4.1); this source requests exactly the fields the
  schema carries.
* **Predicate pushdown** — ``pushFilters`` folds
  ``updated >= X`` / ``project = Y`` into the JQL so the *server*
  filters (the reference builds the same JQL by hand,
  `extract.py:179-188`). Only ``project = Y`` is *consumed*: the JQL
  cutoff is date-truncated (a superset), so ``updated`` filters are
  yielded back for Spark to re-apply exactly post-scan.
* **Incremental resume** — batch mode reads the per-project offset file
  (sources/offsets.py). When the JQL carries an ``updated >= date``
  cutoff the server renumbers the filtered result set from 0, so the
  scan starts at ``startAt=0`` and relies on the cutoff plus downstream
  dedup-by-key; the saved ``start_at`` is used only to resume an
  interrupted *non-cutoff* scan (the reference combines both and
  silently fetches nothing after a completed full scan — a defect, not
  parity worth keeping). Streaming mode implements
  ``SimpleDataSourceStreamReader`` (one page per micro-batch, offsets
  owned by Spark's checkpoint log once running).

Transports: ``requests`` for real HTTP (import-gated), and a
deterministic ``synthetic`` in-process server for tests/benchmarks —
its corpus is pure arithmetic so a SQL oracle can reproduce it.

Usage::

    from jira_scraper_etl_spark.sources import register_jira_source
    register_jira_source(spark)
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 137)
          .option("project", "SPARK").load())
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql import types as T

from . import offsets as OFF

# ---------------------------------------------------------------------------
# Schema: the ~12 fields the silver transform consumes (SURVEY.md §1.3) —
# requested explicitly from the server, never `*all`.
# ---------------------------------------------------------------------------

COMMENT_TYPE = T.StructType([
    T.StructField("author", T.StringType()),
    T.StructField("body", T.StringType()),
    T.StructField("created", T.StringType()),
])

ISSUE_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("project", T.StringType()),
    T.StructField("summary", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("priority", T.StringType()),
    T.StructField("reporter", T.StringType()),
    T.StructField("assignee", T.StringType()),
    T.StructField("issuetype", T.StringType()),
    T.StructField("created", T.StringType()),
    T.StructField("updated", T.StringType()),
    T.StructField("labels", T.ArrayType(T.StringType())),
    T.StructField("components", T.ArrayType(T.StringType())),
    T.StructField("comments", T.ArrayType(COMMENT_TYPE)),
])

# Jira `fields=` parameter matching ISSUE_SCHEMA (protocol-level pruning).
REQUESTED_FIELDS = ("summary,description,status,priority,reporter,assignee,"
                    "issuetype,created,updated,labels,components,comment,project")


@dataclass
class SourceConfig:
    base_url: str = "https://issues.apache.org/jira"
    project: str = "SPARK"
    max_results: int = 50
    polite_delay_seconds: float = 0.0
    rate_limit_sleep_seconds: float = 30.0
    retry_backoff_base: float = 2.0
    max_retries: int = 5
    timeout_seconds: float = 15.0
    verify_ssl: bool = True
    incremental: bool = False
    lookback_days: int = 7
    checkpoint_dir: str | None = None
    pages_per_partition: int = 4
    max_partitions: int = 64
    transport: str = "requests"         # "requests" | "synthetic"
    total: int = 200                    # synthetic corpus size
    updated_since: str | None = None    # pushed-down predicate (date or ISO ts)
    record_params_path: str | None = None  # test hook: synthetic transport
    # appends each request's params as a JSON line here (plan + executor
    # processes are separate, so a file is the only reliable channel)
    flaky_dir: str | None = None  # test hook: fail each distinct startAt
    # once with a 503 before succeeding (marker files track attempts
    # across executor processes) — proves retry through the real scan

    @classmethod
    def from_options(cls, options: dict) -> "SourceConfig":
        def get(k, cast, default):
            v = options.get(k)
            return default if v is None else cast(v)
        truthy = lambda v: str(v).lower() in ("1", "true", "yes")
        return cls(
            base_url=get("url", str, cls.base_url).rstrip("/"),
            project=get("project", str, cls.project),
            max_results=get("max_results", int, cls.max_results),
            polite_delay_seconds=get("polite_delay_seconds", float, 0.0),
            rate_limit_sleep_seconds=get("rate_limit_sleep_seconds", float, 30.0),
            retry_backoff_base=get("retry_backoff_base", float, 2.0),
            max_retries=get("max_retries", int, 5),
            timeout_seconds=get("timeout_seconds", float, 15.0),
            verify_ssl=get("verify_ssl", truthy, True),
            incremental=get("incremental", truthy, False),
            lookback_days=get("lookback_days", int, 7),
            checkpoint_dir=options.get("checkpoint_dir"),
            pages_per_partition=get("pages_per_partition", int, 4),
            max_partitions=get("max_partitions", int, 64),
            transport=get("transport", str, "requests"),
            total=get("total", int, 200),
            updated_since=options.get("updated_since"),
            record_params_path=options.get("record_params_path"),
            flaky_dir=options.get("flaky_dir"),
        )


# ---------------------------------------------------------------------------
# JQL construction (parity: extract.py:179-188)
# ---------------------------------------------------------------------------

def build_jql(cfg: SourceConfig, last_updated: str | None) -> str:
    """``project = X [AND updated >= 'date'] ORDER BY created ASC``.

    Preserves the reference's date-granularity cutoff quirk: the ISO
    timestamp is truncated to its date, so same-day issues are re-read
    (documented in SURVEY.md §7.3; dedup-by-key downstream absorbs it).
    """
    jql = f"project = {cfg.project}"
    cutoff: str | None = None
    if cfg.updated_since:
        cutoff = cfg.updated_since.split("T")[0]
    elif cfg.incremental and last_updated:
        cutoff = last_updated.split("T")[0]
    if cutoff:
        jql += f" AND updated >= '{cutoff}'"
    return jql + " ORDER BY created ASC"


# ---------------------------------------------------------------------------
# Transports — callable(params) -> (status_code, parsed_body_or_None)
# ---------------------------------------------------------------------------

def requests_transport(cfg: SourceConfig) -> Callable[[dict], tuple[int, Any]]:
    import requests  # import-gated: only the real-HTTP path needs it

    url = f"{cfg.base_url}/rest/api/latest/search"

    def call(params: dict) -> tuple[int, Any]:
        r = requests.get(url, params=params, timeout=cfg.timeout_seconds,
                         verify=cfg.verify_ssl)
        try:
            body = r.json()
        except ValueError:
            body = None
        return r.status_code, body

    return call


# Synthetic corpus: PURE ARITHMETIC on the issue index — no hashing — so
# a DuckDB generate_series oracle reproduces every field exactly.
_STATUSES = ("Open", "In Progress", "Resolved", "Closed")
_PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
_TYPES = ("Bug", "Improvement", "New Feature", "Task")


def synthetic_issue(project: str, i: int) -> dict:
    """Deterministic raw issue i (nested, Jira-shaped)."""
    day = i % 28 + 1
    ts = f"2025-03-{day:02d}T{i % 24:02d}:{i % 60:02d}:00.000+0000"
    n_comments = i % 3
    return {
        "key": f"{project}-{i}",
        "fields": {
            "project": {"key": project},
            "summary": f"Issue {i} needs attention",
            "description": (f"Synthetic description for issue {i}. "
                            f"Does component {i % 5} fail?"),
            "status": {"name": _STATUSES[i % 4]},
            "priority": {"name": _PRIORITIES[i % 5]} if i % 7 else None,
            "reporter": {"displayName": f"user{i % 11}"},
            "assignee": {"displayName": f"dev{i % 6}"} if i % 3 else None,
            "issuetype": {"name": _TYPES[i % 4]},
            "created": ts,
            "updated": ts,
            "labels": [f"label{i % 4}"] if i % 2 else [],
            "components": [{"name": f"comp{i % 5}"}],
            "comment": {
                "comments": [
                    {"author": {"displayName": f"user{(i + c) % 11}"},
                     "body": f"Comment {c} on issue {i} with enough text",
                     "created": ts}
                    for c in range(n_comments)
                ]
            },
        },
    }


_JQL_CUTOFF_RE = None  # compiled lazily (module import stays regex-free)


def _jql_cutoff(jql: str) -> str | None:
    """Extract the ``updated >= 'date'`` cutoff from a JQL string."""
    global _JQL_CUTOFF_RE
    if _JQL_CUTOFF_RE is None:
        import re
        _JQL_CUTOFF_RE = re.compile(r"updated\s*>=\s*'([^']+)'")
    m = _JQL_CUTOFF_RE.search(jql or "")
    return m.group(1) if m else None


def synthetic_transport(cfg: SourceConfig) -> Callable[[dict], tuple[int, Any]]:
    """Deterministic in-process server. Honors the JQL like real Jira:
    an ``updated >= 'date'`` cutoff filters the corpus server-side and
    **renumbers** the result set from 0 (which is why batch incremental
    scans must not combine a cutoff with a saved ``startAt``)."""
    def call(params: dict) -> tuple[int, Any]:
        if cfg.record_params_path:
            with open(cfg.record_params_path, "a") as f:
                f.write(json.dumps(params) + "\n")
        if cfg.flaky_dir:
            import os
            marker = os.path.join(cfg.flaky_dir,
                                  f"seen_{params.get('startAt', 0)}")
            if not os.path.exists(marker):
                open(marker, "w").close()
                return 503, None  # transient failure, once per startAt
        start = int(params.get("startAt", 0))
        n = int(params.get("maxResults", cfg.max_results))
        cutoff = _jql_cutoff(str(params.get("jql", "")))
        if cutoff:
            # ISO timestamps here are lexicographically ordered, so a
            # plain string compare implements the server's >= filter.
            idx = [i for i in range(cfg.total)
                   if synthetic_issue(cfg.project, i)["fields"]["updated"] >= cutoff]
        else:
            idx = range(cfg.total)
        page = list(idx)[start:start + n]
        issues = [synthetic_issue(cfg.project, i) for i in page]
        return 200, {"issues": issues, "total": len(list(idx)), "startAt": start}

    return call


def make_transport(cfg: SourceConfig) -> Callable[[dict], tuple[int, Any]]:
    if cfg.transport == "synthetic":
        return synthetic_transport(cfg)
    return requests_transport(cfg)


# ---------------------------------------------------------------------------
# Fetch with retry state machine (parity: extract.py:209-273)
# ---------------------------------------------------------------------------

def fetch_page(transport: Callable[[dict], tuple[int, Any]],
               cfg: SourceConfig, jql: str, start_at: int,
               max_results: int | None = None,
               sleep: Callable[[float], None] = time.sleep) -> tuple[list, int]:
    """One page with the reference's retry semantics. Returns
    ``(issues, total)``; raises ``RuntimeError`` after ``max_retries``
    consecutive failures. ``sleep`` is injectable for tests (the
    reference's tests patch ``time.sleep`` the same way)."""
    params = {
        "jql": jql,
        "startAt": start_at,
        "maxResults": max_results or cfg.max_results,
        "fields": REQUESTED_FIELDS,
    }
    attempt = 0
    while True:
        try:
            status, body = transport(params)
        except Exception as exc:  # network error / timeout
            status, body = -1, exc
        if status == 200 and isinstance(body, dict):
            return body.get("issues", []), int(body.get("total", 0))
        attempt += 1
        if attempt > cfg.max_retries:
            raise RuntimeError(
                f"Jira fetch failed after {cfg.max_retries} retries "
                f"(last status {status}) at startAt={start_at}")
        if status == 429:
            # Rate-limit: fixed sleep, but it consumes the retry budget —
            # a server that 429s forever must not hang an executor task
            # (extract.py:232-236 increments attempt on 429 too).
            sleep(cfg.rate_limit_sleep_seconds)
        else:
            sleep(cfg.retry_backoff_base ** (attempt - 1))


def issue_to_row(raw: dict) -> tuple:
    """Project a nested raw issue onto ISSUE_SCHEMA. This is the only
    nested→flat projection, so it owns the reference's null defaults
    (transformer.py:245-268): status is ``"Unknown"`` only when the
    status object is absent, a comment author is ``"Unknown"`` only
    when the author object is absent, and only ``None`` comments are
    dropped. Empty or null names inside present objects, and null
    component entries, are kept. Text stays raw — cleaning belongs to
    the silver transform."""
    f = raw.get("fields") or {}

    def attr(obj, field):
        return obj.get(field) if isinstance(obj, dict) else None

    def unknown_if_absent(obj, field):
        return "Unknown" if obj is None else attr(obj, field)

    comments = [
        (unknown_if_absent(c.get("author"), "displayName"), c.get("body"),
         c.get("created"))
        for c in (attr(f.get("comment"), "comments") or []) if c is not None
    ]
    return (
        raw.get("key"),
        attr(f.get("project"), "key"),
        f.get("summary"),
        f.get("description"),
        unknown_if_absent(f.get("status"), "name"),
        attr(f.get("priority"), "name"),
        attr(f.get("reporter"), "displayName"),
        attr(f.get("assignee"), "displayName"),
        attr(f.get("issuetype"), "name"),
        f.get("created"),
        f.get("updated"),
        list(f.get("labels") or []),
        [attr(c, "name") for c in (f.get("components") or [])],
        comments,
    )


def read_pages(cfg: SourceConfig, jql: str, start: int, end: int) -> Iterator[tuple]:
    """Rows of issues ``[start, end)``, one page per request — the
    reference's page loop (`extract.py:270-366`). Stops early on an
    empty page (server-side termination, `extract.py:278-280`, or a
    corpus that shrank under us) and waits ``polite_delay_seconds``
    between pages (`extract.py:366`)."""
    transport = make_transport(cfg)
    while start < end:
        issues, _ = fetch_page(transport, cfg, jql, start,
                               max_results=min(cfg.max_results, end - start))
        if not issues:
            break
        for raw in issues:
            yield issue_to_row(raw)
        start += len(issues)
        if cfg.polite_delay_seconds and start < end:
            time.sleep(cfg.polite_delay_seconds)


# ---------------------------------------------------------------------------
# Batch reader
# ---------------------------------------------------------------------------

@dataclass
class PageRange(InputPartition):
    start_at: int
    end_at: int  # exclusive


class JiraRestReader(DataSourceReader):
    def __init__(self, options: dict):
        self.cfg = SourceConfig.from_options(options)
        self._base_offset = OFF.Offset()
        if self.cfg.checkpoint_dir and self.cfg.incremental:
            self._base_offset = OFF.load(self.cfg.checkpoint_dir, self.cfg.project)
        self._jql = build_jql(self.cfg, self._base_offset.last_updated)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Fold supported predicates into the JQL (server-side filter —
        the Python-DS analog of parquet PushedFilters).

        Only ``project = Y`` is exact in JQL and therefore *consumed*.
        ``updated >/>= X`` narrows the JQL, but the JQL cutoff is
        date-truncated and always ``>=`` — a superset of the true
        predicate — so those filters are **yielded back** for Spark to
        re-apply exactly post-scan (strict ``>`` and time-of-day
        cutoffs stay correct). Everything else is yielded unchanged."""
        cfg = self.cfg
        for flt in filters:
            attr = getattr(flt, "attribute", None)  # Not(...) has no attribute
            col = attr[0] if attr and len(attr) == 1 else None
            if isinstance(flt, EqualTo) and col == "project":
                cfg.project = str(flt.value)
                continue  # exact in JQL: consumed
            if isinstance(flt, (GreaterThan, GreaterThanOrEqual)) and col == "updated":
                # Tightest superset wins if several are pushed (ISO
                # strings compare lexicographically).
                v = str(flt.value)
                if cfg.updated_since is None or v > cfg.updated_since:
                    cfg.updated_since = v
            yield flt
        self._jql = build_jql(cfg, self._base_offset.last_updated)

    def _cutoff_active(self) -> bool:
        """True when the JQL carries an ``updated >=`` cutoff — the
        server renumbers the filtered result set from 0, so the saved
        ``start_at`` must not be combined with it (the reference does,
        and silently fetches nothing after a completed full scan)."""
        return bool(self.cfg.updated_since or
                    (self.cfg.incremental and self._base_offset.last_updated))

    def partitions(self) -> Sequence[PageRange]:
        """Driver-side plan: one cheap probe for ``total``, then page
        ranges sized ``pages_per_partition``, capped at
        ``max_partitions`` (ranges grow instead — bounded task count on
        a 1000-executor cluster, arbitrarily large total)."""
        cfg = self.cfg
        start = 0 if self._cutoff_active() else self._base_offset.start_at
        _, total = fetch_page(make_transport(cfg), cfg, self._jql, start,
                              max_results=1)
        if total <= start:
            return [PageRange(start, start)]
        span = cfg.max_results * cfg.pages_per_partition
        n_parts = -(-(total - start) // span)
        if n_parts > cfg.max_partitions:
            span = -(-(total - start) // cfg.max_partitions)
            span = -(-span // cfg.max_results) * cfg.max_results  # page-align
        return [PageRange(s, min(s + span, total))
                for s in range(start, total, span)]

    def read(self, partition: PageRange) -> Iterator[tuple]:
        return read_pages(self.cfg, self._jql, partition.start_at,
                          partition.end_at)


# ---------------------------------------------------------------------------
# Streaming reader (micro-batch page tailing; parity: §2.9 T1-T3)
# ---------------------------------------------------------------------------

class JiraRestStreamReader(SimpleDataSourceStreamReader):
    """One page per micro-batch. Spark's checkpointLocation owns offset
    durability; the project offset file only seeds ``initialOffset`` and
    mirrors commits for operability (worker-status parity, §2.9 T7)."""

    def __init__(self, options: dict):
        self.cfg = SourceConfig.from_options(options)
        self._jql = build_jql(self.cfg, None)

    def initialOffset(self) -> dict:
        base = OFF.Offset()
        if self.cfg.checkpoint_dir and self.cfg.incremental:
            base = OFF.load(self.cfg.checkpoint_dir, self.cfg.project)
        return {"start_at": base.start_at}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        cfg = self.cfg
        start_at = int(start["start_at"])
        issues, total = fetch_page(make_transport(cfg), cfg, self._jql, start_at)
        if not issues or start_at >= total:
            return iter([]), {"start_at": start_at}
        rows = [issue_to_row(raw) for raw in issues]
        latest = max((r[10] for r in rows if r[10]), default=None)
        if cfg.checkpoint_dir:
            OFF.save(cfg.checkpoint_dir, cfg.project,
                     OFF.Offset(start_at + len(rows), latest))
        return iter(rows), {"start_at": start_at + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministically re-read a committed-but-unprocessed batch
        during failure recovery (Spark calls this when restarting from a
        checkpoint mid-batch; the base class raises otherwise). The
        paged source is deterministic by range, so this is the batch
        page loop from ``start.start_at`` to ``end.start_at``."""
        return read_pages(self.cfg, self._jql, int(start["start_at"]),
                          int(end["start_at"]))

    def commit(self, end: dict) -> None:
        pass  # offset file already mirrored in read(); Spark log is canonical


# ---------------------------------------------------------------------------
# DataSource registration
# ---------------------------------------------------------------------------

class JiraRestDataSource(DataSource):
    """``spark.read.format("jira_rest")`` / ``spark.readStream.format("jira_rest")``."""

    @classmethod
    def name(cls) -> str:
        return "jira_rest"

    def schema(self) -> T.StructType:
        return ISSUE_SCHEMA

    def reader(self, schema: T.StructType) -> JiraRestReader:
        return JiraRestReader(dict(self.options))

    def simpleStreamReader(self, schema: T.StructType) -> JiraRestStreamReader:
        return JiraRestStreamReader(dict(self.options))


def register_jira_source(spark) -> None:
    spark.dataSource.register(JiraRestDataSource)
