"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import eventlog
import procfs
import workloads
from jira_server import SEARCH_PATH, Corpus, serve

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus(seed: int) -> Corpus:
    return Corpus(seed, ["ALPHA", "BETA"], 60, 10)


def test_corpus_and_faults_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = _corpus(1), _corpus(1), _corpus(2)
    assert a.issues == b.issues and a.faults == b.faults
    assert a.advance() == b.advance()
    assert a.issues == b.issues
    assert _corpus(1).issues != c.issues
    assert a.faults != c.faults
    # one 503, on the same page whatever the seed; the seed places the 429s
    for k in (a, c):
        assert [p for p, code in k.faults.items() if code == 503] == [("ALPHA", 0)]
        assert 429 in k.faults.values()


def test_advance_changes_a_tenth_and_resets():
    k = _corpus(3)
    day = (dt.date.fromisoformat(k.newest[:10]) + dt.timedelta(days=1)).isoformat()
    order = {p: k.keys(p) for p in k.projects}
    changed = k.advance()
    for p in k.projects:
        assert len(changed[p]) == 6
        # the changed issues are exactly the ones updated after the old newest
        assert k.keys(p, day) == sorted(changed[p], key=order[p].index)
    k.reset()
    assert all(k.keys(p, day) == [] for p in k.projects)


def test_datagen_repeats_for_a_seed_and_differs_across_seeds():
    a, b, c = (datagen.tables(0.001, s) for s in (1, 1, 2))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_registry_checker_rejects_corrupted_rows():
    normalize = workloads._load_normalizer(ROOT)
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, 3.0)]
    assert workloads.compare(normalize, cols, rows, ["v", "k"], [(3.0, 2), (2.5, 1)]) is None
    assert "values differ" in workloads.compare(normalize, cols, [(1, 2.5), (2, 3.5)], cols, rows)
    assert "row count" in workloads.compare(normalize, cols, rows[:1], cols, rows)
    assert "columns differ" in workloads.compare(normalize, ["k", "w"], rows, cols, rows)


def _write_leg(data_dir: str, wl, ids: dict, lines: dict, start_at: dict) -> None:
    for p in wl.projects:
        silver = os.path.join(data_dir, "silver", f"project={p}")
        os.makedirs(silver, exist_ok=True)
        pq.write_table(pa.table({"id": ids[p]}), os.path.join(silver, "part-0.parquet"))
        jl = os.path.join(data_dir, "processed", f"{p}_issues.jsonl")
        os.makedirs(jl, exist_ok=True)
        with open(os.path.join(jl, "part-00000"), "w") as f:
            f.writelines("{}\n" for _ in range(lines[p]))
        os.makedirs(os.path.join(data_dir, "checkpoints"), exist_ok=True)
        with open(os.path.join(data_dir, "checkpoints", f"{p}.json"), "w") as f:
            json.dump({"start_at": start_at[p],
                       "last_updated": wl.corpus.newest}, f)


def test_etl_checker_accepts_the_corpus_and_rejects_corruption(tmp_path):
    wl = workloads.EtlWorkload(ROOT, str(tmp_path), seed=4, ncpu=1)
    wl.projects = ["ALPHA", "BETA"]
    wl.corpus = _corpus(4)
    ok = {"success": True}
    good = {p: wl.corpus.keys(p) for p in wl.projects}
    n = {p: len(v) for p, v in good.items()}

    _write_leg(str(tmp_path / "a"), wl, good, n, n)
    assert wl.check(str(tmp_path / "a"), "full", ok) is None
    assert "not successful" in wl.check(str(tmp_path / "a"), "full", {"success": False})

    dropped = {**good, "BETA": good["BETA"][1:]}
    _write_leg(str(tmp_path / "b"), wl, dropped, n, n)
    assert "silver holds" in wl.check(str(tmp_path / "b"), "full", ok)

    _write_leg(str(tmp_path / "c"), wl, good, {**n, "ALPHA": n["ALPHA"] - 1}, n)
    assert "JSONL" in wl.check(str(tmp_path / "c"), "full", ok)

    _write_leg(str(tmp_path / "d"), wl, good, n, {**n, "ALPHA": 0})
    assert "start_at" in wl.check(str(tmp_path / "d"), "full", ok)


def test_granted_share_takes_steal_out():
    assert procfs.granted(3.0, 1.0) == 0.75
    assert procfs.granted(2.0, 0.0) == 1.0
    assert procfs.granted(0.0, 0.0) == 1.0
    busy, steal = procfs.host_cpu()
    assert busy > 0 and steal >= 0


def test_eventlog_parser_sums_a_known_session():
    def ev(kind, **kw):
        return json.dumps({"Event": kind, **kw})

    def task(stage, run_ms, cpu_ns, read=0, failed=False):
        return ev("SparkListenerTaskEnd", **{
            "Stage ID": stage, "Task Info": {"Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 10, "Input Metrics": {"Bytes Read": read},
                "Output Metrics": {"Bytes Written": 0},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 2_000_000},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000},
                "Disk Bytes Spilled": 0}})

    lines = [
        ev("SparkListenerApplicationStart"),
        ev("SparkListenerJobStart", **{"Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "t1/a"}}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}}),
        task(0, 1500, 1_000_000_000, read=3_000_000),
        task(0, 500, 500_000_000, failed=True),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
        task(1, 250, 0),
        # a later job that reuses stage 1 does not move it
        ev("SparkListenerJobStart", **{"Stage IDs": [1, 2],
           "Properties": {"spark.jobGroup.id": "t1/b"}}),
        ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        task(2, 1000, 0),
        ev("SparkListenerJobStart", **{"Stage IDs": [3], "Properties": {}}),
    ]
    groups = eventlog.parse(lines)
    a = groups["t1/a"]
    assert (a["jobs"], a["stages"], a["tasks"], a["failed_tasks"]) == (1, 2, 3, 1)
    assert abs(a["task_run_s"] - 2.25) < 1e-9
    assert abs(a["task_cpu_s"] - 1.5) < 1e-9
    assert abs(a["gc_s"] - 0.03) < 1e-9
    assert abs(a["input_mb"] - 3.0) < 1e-9
    assert abs(a["shuffle_read_mb"] - 6.0) < 1e-9
    assert abs(a["shuffle_write_mb"] - 3.0) < 1e-9
    assert groups["t1/b"]["tasks"] == 1
    assert groups[""]["jobs"] == 1
    both = eventlog.total(groups, "t1/")
    assert (both["jobs"], both["tasks"]) == (2, 4)
    assert abs(both["task_run_s"] - 3.25) < 1e-9


def test_server_filters_renumbers_and_faults_once():
    corpus = _corpus(5)
    srv = serve(corpus, concurrency=2)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def get(jql, start, n=10):
        q = urllib.parse.urlencode({"jql": jql, "startAt": start, "maxResults": n})
        try:
            with urllib.request.urlopen(f"{base}{SEARCH_PATH}?{q}", timeout=10) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, None

    try:
        (p, s), code = next(iter(corpus.faults.items()))
        jql = f"project = {p} ORDER BY created ASC"
        assert get(jql, s)[0] == code
        status, body = get(jql, s)
        assert status == 200 and body["total"] == 60
        assert [i["key"] for i in body["issues"]] == corpus.keys(p)[s:s + 10]
        cut = corpus.issues[p][30]["fields"]["updated"][:10]
        status, body = get(f"project = {p} AND updated >= '{cut}' ORDER BY created ASC", 0, 100)
        assert status == 200 and body["startAt"] == 0
        assert [i["key"] for i in body["issues"]] == corpus.keys(p, cut)
        with urllib.request.urlopen(base + "/_bench/stats", timeout=10) as r:
            stats = json.loads(r.read())
        assert stats["requests"] == 3 and stats["ok"] == 2
        assert stats["r429"] + stats["r503"] == 1 and stats["bytes"] > 0
    finally:
        srv.shutdown()
        srv.server_close()
