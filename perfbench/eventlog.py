"""Per-job-group totals from an uncompressed Spark event log.

The event log is JSON lines, one listener event per line, so the
standard library parses it. Jobs carry their group in the
``spark.jobGroup.id`` property (set with ``setJobGroup``); a stage
belongs to the first job that lists it, and a task to its stage.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
          "task_cpu_s", "gc_s", "input_mb", "output_mb",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _zero() -> dict[str, float]:
    return dict.fromkeys(FIELDS, 0)


def parse(lines) -> dict[str, dict[str, float]]:
    """Totals per job group over an iterable of event-log lines. Jobs
    without a group are reported under ``""``."""
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            acc = out[stage_group.get(ev["Stage ID"], "")]
            acc["tasks"] += 1
            if (ev.get("Task Info") or {}).get("Failed"):
                acc["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            acc["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return dict(out)


def parse_files(paths) -> dict[str, dict[str, float]]:
    def lines():
        for p in paths:
            with open(p) as f:
                yield from f
    return parse(lines())


def total(groups: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Sum of every group whose id starts with ``prefix``."""
    acc = _zero()
    for g, m in groups.items():
        if g.startswith(prefix):
            for k in FIELDS:
                acc[k] += m[k]
    return acc
