"""Seeded loopback Jira server for the ``etl_jira`` workload.

Serves ``GET /rest/api/latest/search`` the way Jira does for the JQL the
``jira_rest`` source builds (``project = X [AND updated >= 'date']
ORDER BY created ASC``): it filters on project and the ``updated``
cutoff, orders by ``created`` and renumbers the filtered set from 0, so
``startAt`` indexes into it. Issues are serialized once up front and a
page is a byte concatenation.

Faults follow a schedule fixed at start: data pages of the full
(cutoff-free) scan answer their FIRST request with 429 or 503 and
succeed on the retry. Exactly one page gets a 503, always the first page
of the first project: the client's first 5xx backoff is
``retry_backoff_base ** 0`` = 1 s whatever the base, so a varying count,
or a page that is on the longest read task for one seed and not for
another, would move the pass time by a second from seed to seed. The
seed picks the 429 pages, whose backoff is short.

Control endpoints (loopback only, used by the benchmark between passes):

* ``GET  /_bench/stats``   request / 200 / 429 / 503 / byte counters;
* ``POST /_bench/advance`` re-update a seeded ~10% of each project's
  issues to a day after the corpus' newest update;
* ``POST /_bench/reset``   restore the original corpus, counters and
  fault schedule (each pass starts from the same state).

Run as a program it prints ``{"port": N}`` on its first stdout line and
serves until terminated::

    python3 perfbench/jira_server.py --seed 1 --projects ALPHA,BETA --issues 500
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import random
import re
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

FRAC_429 = 0.06        # share of full-scan data pages that 429 first (at least one)
ADVANCE_FRAC = 0.10    # share of issues the incremental leg re-updates
SEARCH_PATH = "/rest/api/latest/search"

_WORDS = ("cluster executor shuffle driver partition memory spill join "
          "broadcast stage task schedule parquet schema column timeout "
          "retry offset commit stream batch checkpoint window watermark "
          "kafka hive metastore catalog codegen plan optimizer").split()
_STATUSES = ("Open", "In Progress", "Resolved", "Closed", "Reopened")
_PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
_TYPES = ("Bug", "Improvement", "New Feature", "Task", "Sub-task")
_EPOCH = dt.datetime(2024, 1, 1)
_JQL_PROJECT = re.compile(r"project\s*=\s*([A-Za-z0-9_]+)")
_JQL_CUTOFF = re.compile(r"updated\s*>=\s*'([^']+)'")


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000+0000")


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _description(rng: random.Random, i: int) -> str | None:
    """Varied-length Jira markup: questions, {code} blocks, HTML, URLs
    and stack traces, so every branch of ``clean_text`` does work."""
    roll = rng.random()
    if roll < 0.05:
        return None
    parts = [_sentence(rng, 5, 30).capitalize() + "."
             for _ in range(rng.randint(1, 6))]
    if rng.random() < 0.5:
        parts.append(f"Why does the {rng.choice(_WORDS)} {rng.choice(_WORDS)} fail?")
    if rng.random() < 0.3:
        parts.append("{code:java}\nval df = spark.read.parquet(path)\n"
                     "df.groupBy(\"k\").count()\n{code}")
    if rng.random() < 0.3:
        parts.append(f"<p>See <b>stage {i % 97}</b> &amp; <i>task {i % 13}</i></p>")
    if rng.random() < 0.25:
        parts.append(f"Build: https://ci-hadoop.apache.org/job/spark-{i % 50}/console")
    if rng.random() < 0.25:
        parts.append(f"Docs: https://spark.apache.org/docs/latest/{rng.choice(_WORDS)}.html")
    if rng.random() < 0.2:
        parts.append("java.lang.IllegalStateException: executor lost\n"
                     "\tat org.apache.spark.scheduler.DAGScheduler.run(DAGScheduler.scala:42)\n"
                     "\tat java.base/java.lang.Thread.run(Thread.java:833)\n"
                     "Restarting the job fixed it.")
    return "\n".join(parts)


def _issue(rng: random.Random, project: str, i: int,
           created: dt.datetime, updated: dt.datetime) -> dict:
    comments = [{
        "author": ({"displayName": f"user{rng.randint(0, 40)}"}
                   if rng.random() > 0.05 else None),
        "body": (_sentence(rng, 3, 40) + ("?" if rng.random() < 0.3 else "."))
                if rng.random() > 0.03 else "",
        "created": _iso(created + dt.timedelta(hours=c + 1)),
    } for c in range(rng.randint(0, 8))]
    return {
        "key": f"{project}-{i + 1}",
        "fields": {
            "project": {"key": project},
            "summary": _sentence(rng, 2, 12).capitalize()
                       + ("?" if rng.random() < 0.2 else ""),
            "description": _description(rng, i),
            "status": {"name": rng.choice(_STATUSES)},
            "priority": ({"name": rng.choice(_PRIORITIES)}
                         if rng.random() > 0.15 else None),
            "reporter": {"displayName": f"user{rng.randint(0, 40)}"},
            "assignee": ({"displayName": f"dev{rng.randint(0, 12)}"}
                         if rng.random() > 0.3 else None),
            "issuetype": {"name": rng.choice(_TYPES)},
            "created": _iso(created),
            "updated": _iso(updated),
            "labels": rng.sample(_WORDS, rng.randint(0, 3)),
            "components": [{"name": c} for c in rng.sample(_WORDS, rng.randint(0, 2))],
            "comment": {"comments": comments},
        },
    }


class Corpus:
    """The server's issues for one seed, plus its fault schedule.

    Pure and deterministic: the benchmark builds its own copy from the
    same arguments to know what a correct pipeline output holds."""

    def __init__(self, seed: int, projects: list[str], n_issues: int,
                 page_size: int):
        self.seed, self.projects = seed, list(projects)
        self.n_issues, self.page_size = n_issues, page_size
        rng = random.Random(f"corpus:{seed}")
        self._base: dict[str, list[dict]] = {}
        for p in self.projects:
            offs = sorted(rng.uniform(0, 450 * 86400) for _ in range(n_issues))
            issues = []
            for i, off in enumerate(offs):
                created = _EPOCH + dt.timedelta(seconds=int(off))
                updated = min(created + dt.timedelta(
                    seconds=int(rng.uniform(0, 30 * 86400))),
                    _EPOCH + dt.timedelta(days=455))
                issues.append(_issue(rng, p, i, created, updated))
            self._base[p] = issues
        self.newest = max(i["fields"]["updated"]
                          for lst in self._base.values() for i in lst)
        pages = [(p, s) for p in self.projects
                 for s in range(0, n_issues, page_size)]
        rest = pages[1:]
        random.Random(f"faults:{seed}").shuffle(rest)
        n429 = max(1, round(FRAC_429 * len(pages)))
        self.faults = {pages[0]: 503, **{k: 429 for k in rest[:n429]}}
        self.reset()

    def reset(self) -> None:
        self.issues = {p: list(lst) for p, lst in self._base.items()}
        self._encode()

    def advance(self) -> dict[str, list[str]]:
        """Re-update a seeded ``ADVANCE_FRAC`` of each project's issues
        to times on the day after ``newest``; returns the changed keys.
        The same seed always picks the same issues and times."""
        rng = random.Random(f"advance:{self.seed}")
        day = (dt.datetime.strptime(self.newest[:10], "%Y-%m-%d")
               + dt.timedelta(days=1))
        changed = {}
        for p in self.projects:
            lst = self.issues[p]
            picks = sorted(rng.sample(range(len(lst)),
                                      max(1, round(ADVANCE_FRAC * len(lst)))))
            for i in picks:
                issue = json.loads(json.dumps(lst[i]))
                f = issue["fields"]
                f["updated"] = _iso(day + dt.timedelta(seconds=rng.randint(0, 86399)))
                f["status"] = {"name": rng.choice(_STATUSES)}
                f["comment"]["comments"].append({
                    "author": {"displayName": "bot"},
                    "body": "Fixed in the latest build?",
                    "created": f["updated"]})
                lst[i] = issue
            changed[p] = [lst[i]["key"] for i in picks]
        self._encode()
        return changed

    def _encode(self) -> None:
        self._bytes = {p: [json.dumps(i, separators=(",", ":")).encode()
                           for i in lst] for p, lst in self.issues.items()}
        self._filtered: dict[tuple, list[int]] = {}

    def matching(self, project: str, cutoff: str | None) -> list[int]:
        """Indexes of ``project``'s issues with ``updated >= cutoff``,
        in created order (the renumbered result set)."""
        key = (project, cutoff)
        if key not in self._filtered:
            lst = self.issues.get(project, [])
            self._filtered[key] = [i for i, x in enumerate(lst)
                                   if cutoff is None
                                   or x["fields"]["updated"] >= cutoff]
        return self._filtered[key]

    def keys(self, project: str, cutoff: str | None = None) -> list[str]:
        return [self.issues[project][i]["key"]
                for i in self.matching(project, cutoff)]

    def page(self, project: str, cutoff: str | None, start: int,
             n: int) -> bytes:
        idx = self.matching(project, cutoff)
        body = b",".join(self._bytes[project][i] for i in idx[start:start + n])
        head = json.dumps({"startAt": start, "maxResults": n,
                           "total": len(idx)})[:-1].encode()
        return head + b',"issues":[' + body + b"]}"


class _State:
    def __init__(self, corpus: Corpus, concurrency: int):
        self.corpus = corpus
        self.gate = threading.BoundedSemaphore(concurrency)
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.corpus.reset()
            self.seen: set = set()
            self.stats = {"requests": 0, "ok": 0, "r429": 0, "r503": 0,
                          "bytes": 0}


def _handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _send(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path == "/_bench/stats":
                with state.lock:
                    return self._send(200, json.dumps(state.stats).encode())
            if url.path != SEARCH_PATH:
                return self._send(404, b"{}")
            with state.gate:
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                jql = q.get("jql", "")
                m = _JQL_PROJECT.search(jql)
                project = m.group(1) if m else ""
                m = _JQL_CUTOFF.search(jql)
                cutoff = m.group(1) if m else None
                start = int(q.get("startAt", 0))
                n = int(q.get("maxResults", 50))
                code = 200
                with state.lock:
                    state.stats["requests"] += 1
                    key = (project, start)
                    if cutoff is None and n > 1 and key not in state.seen:
                        state.seen.add(key)
                        code = state.corpus.faults.get(key, 200)
                    body = (state.corpus.page(project, cutoff, start, n)
                            if code == 200 else b'{"errorMessages":["busy"]}')
                    state.stats[{200: "ok", 429: "r429", 503: "r503"}[code]] += 1
                    state.stats["bytes"] += len(body)
                self._send(code, body)

        def do_POST(self):
            path = urlparse(self.path).path
            if path == "/_bench/reset":
                state.reset()
                return self._send(200, b"{}")
            if path == "/_bench/advance":
                with state.lock:
                    changed = state.corpus.advance()
                return self._send(200, json.dumps(changed).encode())
            self._send(404, b"{}")

    return Handler


def serve(corpus: Corpus, concurrency: int) -> ThreadingHTTPServer:
    """Bind a server on a free port of 127.0.0.1; the caller runs
    ``serve_forever`` and closes it."""
    ThreadingHTTPServer.request_queue_size = 64
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _handler(_State(corpus, concurrency)))
    srv.daemon_threads = True
    return srv


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--projects", required=True)
    ap.add_argument("--issues", type=int, required=True)
    ap.add_argument("--page-size", type=int, default=50)
    ap.add_argument("--concurrency", type=int, default=4)
    a = ap.parse_args(argv)
    corpus = Corpus(a.seed, a.projects.split(","), a.issues, a.page_size)
    srv = serve(corpus, a.concurrency)
    print(json.dumps({"port": srv.server_address[1]}), flush=True)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
