"""The benchmark's three workloads and the closed loop that drives them.

One driver thread issues steps back to back through the package's
public entry points (``plans.QUERIES[name].fn``, ``seams.release_seams``
and ``streaming.pipeline.run_pipeline``). A *pass* is every step of the
workload once, in the order the seed fixed.

* Registry steps (``analytics_sql``, ``llm_curation``) materialize all
  rows through the ``noop`` sink, then call ``release_seams()``. There
  is no sleep-based drain: GC and ContextCleaner debt stays in the pass
  that caused it. The first (cold) pass collects each result instead
  and checks it against the DuckDB oracle; that pass is set-up.
* ``etl_jira`` steps are the two legs of a scheduled run: a full
  ``run_pipeline`` over a fresh data directory, then, after the server
  re-updates ~10% of issues, an ``incremental=True`` re-run. Every leg's
  files are checked against the server's corpus between legs, outside
  the timed region.

In a traced pass each step also gets a Spark job group, its executed
plan forced and counted, and a ``/proc`` sample at its boundaries.
"""

from __future__ import annotations

import dataclasses
import glob
import importlib.util
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager

import datagen
import procfs
from jira_server import Corpus

ANALYTICS_STEPS = (
    "q1_pricing_summary",              # scan + grouped aggregate
    "q3_shipping_priority",            # 3-way join + top-k
    "q5_local_supplier_volume",        # 6-way broadcast join
    "q18_large_volume_customers",      # aggregate + semi join
    "window_top3_orders_per_customer",  # ranking window
    "events_session_30m",              # event-time sessionization
    "merge_upsert_customer_balance",   # warehouse MERGE
)
# bpe_learn_merges (iterative checkpoint loop) is left out: it doubled
# the pass and the JIT warm-up, and the run budget has no room for both.
LLM_STEPS = (
    "dedup_minhash_lsh",     # eager persist-seam fills inside fn()
    "mm_png_pixel_stats",    # mapInPandas PNG inflate + unfilter
)
# Sizes keep one run (JVM start, cold pass, settle and measured passes,
# stop) near 60 s on 4 cores, so that 22 runs of each of two workloads
# fit in an hour; the sizes tried and their timings are in CHANGES.md.
ANALYTICS_SF = 0.05
LLM_SF = 0.02
ETL_PROJECTS = ("ALPHA",)
ETL_ISSUES = 300
ETL_PAGE = 50

_EXCHANGE = re.compile(r"\bExchange (hashpartitioning|rangepartitioning|"
                       r"SinglePartition|RoundRobinPartitioning)")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")


class Tracer:
    """In-memory spans: name, start, end, parent and attributes."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, under: int | None = None, key: str | None = None) -> float:
        """Sum of ``end - start`` (or of attribute ``key``) over spans
        called ``name`` that descend from span ``under``."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name and (under is None or self._descends(s, under)):
                out += s.get(key, 0) if key else s["end"] - s["start"]
        return out

    def _descends(self, s: dict, root: int) -> bool:
        while s["parent"] is not None:
            if s["parent"] == root:
                return True
            s = self.spans[s["parent"]]
        return False


@dataclasses.dataclass
class Run:
    """What one benchmark run shares with its workload."""
    spark: object
    tracer: Tracer
    sampler: object
    log: object  # callable(str)


def _load_normalizer(root: str):
    """``tools/check_oracle.py``'s row normalizer (order-insensitive,
    column-name-sorted, type-canonical)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def compare(normalize, s_cols, s_rows, o_cols, o_rows) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    if sorted(s_cols) != sorted(o_cols):
        return f"columns differ: {sorted(s_cols)} vs {sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"row count {len(s_rows)} vs oracle {len(o_rows)}"
    if normalize(s_rows, s_cols) != normalize(o_rows, o_cols):
        return "values differ from the oracle"
    return None


def plan_counts(plan: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in a plan string."""
    return len(_EXCHANGE.findall(plan)), len(_BROADCAST.findall(plan))


class RegistryWorkload:
    """A seeded order of oracle-backed registry steps over generated
    tables at one scale factor."""

    def __init__(self, name: str, steps, sf: float, root: str, work: str,
                 seed: int, settle: int, min_passes: int):
        self.name, self.sf, self.root, self.seed = name, sf, root, seed
        self.settle, self.min_passes = settle, min_passes
        self.order = list(steps)
        random.Random(seed).shuffle(self.order)
        self.data = os.path.join(work, "data")
        self.work = work
        from jira_scraper_etl_spark import plans
        self.queries = plans.QUERIES
        missing = [s for s in self.order if self.queries.get(s) is None
                   or self.queries[s].oracle is None]
        if missing:
            raise RuntimeError(f"steps without an oracle-backed entry: {missing}")

    def make_inputs(self) -> float:
        """Generate the tables; returns the seconds it took."""
        t = time.perf_counter()
        datagen.write(self.data, self.sf, self.seed)
        return time.perf_counter() - t

    def warm(self, run: Run) -> tuple[float, int, int]:
        """Cold pass that collects every step and checks it against the
        DuckDB oracle. Returns (seconds excluding the checks, steps,
        failures)."""
        import duckdb
        from jira_scraper_etl_spark.catalog import TABLES
        from jira_scraper_etl_spark.seams import release_seams

        normalize = _load_normalizer(self.root)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        spent, failed = 0.0, 0
        for name in self.order:
            with run.tracer.span("verify", step=name):
                t = time.perf_counter()
                try:
                    df = self.queries[name].fn(run.spark, self.data)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                except Exception as exc:  # a failing step is a result
                    run.log(f"FAIL {name}: {exc}")
                    failed += 1
                    continue
                finally:
                    release_seams()
                    spent += time.perf_counter() - t
                res = con.execute(self.queries[name].oracle)
                why = compare(normalize, cols, rows,
                              [d[0] for d in res.description], res.fetchall())
                if why:
                    run.log(f"FAIL {name}: {why}")
                    failed += 1
        con.close()
        return spent, len(self.order), failed

    def run_pass(self, run: Run, k: int, traced: bool) -> dict:
        """One timed pass; returns per-step walls and the failure count."""
        from jira_scraper_etl_spark.seams import release_seams

        sc = run.spark.sparkContext
        walls, failed = {}, 0
        span = run.tracer.span
        start = run.sampler.sample()
        with span("pass", index=k, traced=traced) as ps:
            for name in self.order:
                group = f"{'t' if traced else 'u'}{k}/{name}"
                before = run.sampler.sample() if traced else None
                with span("step", step=name) as st:
                    try:
                        if traced:
                            sc.setJobGroup(group + "/build", name)
                        with span("build"):
                            df = self.queries[name].fn(run.spark, self.data)
                        if traced:
                            with span("plan") as sp:
                                plan = df._jdf.queryExecution().executedPlan().toString()
                            sp["exchanges"], sp["broadcasts"] = plan_counts(plan)
                            sc.setJobGroup(group + "/execute", name)
                        with span("execute"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # a failing step is a result
                        run.log(f"FAIL {name}: {exc}")
                        failed += 1
                    finally:
                        with span("release") as sr:
                            sr["seams"] = release_seams()
                walls[name] = st["end"] - st["start"]
                if traced:
                    after = run.sampler.sample()
                    st["pyworker_cpu_s"] = after.pyworker_cpu_s - before.pyworker_cpu_s
        end = run.sampler.sample()
        return {"span": ps["id"], "walls": walls, "cpu_s": end.cpu_s - start.cpu_s,
                "granted": procfs.granted(end.busy_s - start.busy_s,
                                          end.steal_s - start.steal_s),
                "failed": failed, "attempted": len(self.order)}

    def close(self) -> None:
        pass


class EtlWorkload:
    """The reference pipeline against a seeded loopback Jira server."""

    name = "etl_jira"
    # The cold pass runs the full leg; passes take 6-10 s, so three fit.
    settle, min_passes = 0, 3

    def __init__(self, root: str, work: str, seed: int, ncpu: int):
        self.root, self.work, self.seed, self.ncpu = root, work, seed, ncpu
        self._cutoff: dict[str, str] = {}
        self.projects = list(ETL_PROJECTS)
        self.server: subprocess.Popen | None = None
        self.base_url = ""

    def make_inputs(self) -> float:
        """Build the corpus (the server builds its own identical copy),
        start the server; returns the seconds it took."""
        t = time.perf_counter()
        self.corpus = Corpus(self.seed, self.projects, ETL_ISSUES, ETL_PAGE)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "jira_server.py"),
             "--seed", str(self.seed), "--projects", ",".join(self.projects),
             "--issues", str(ETL_ISSUES), "--page-size", str(ETL_PAGE),
             "--concurrency", str(self.ncpu)],
            stdout=subprocess.PIPE, text=True)
        line = self.server.stdout.readline()
        if not line:
            raise RuntimeError("the Jira server did not start")
        self.base_url = f"http://127.0.0.1:{json.loads(line)['port']}"
        return time.perf_counter() - t

    def _call(self, path: str, method: str = "GET") -> dict:
        req = urllib.request.Request(self.base_url + path, method=method)
        with urllib.request.urlopen(req, timeout=30) as r:
            return json.loads(r.read())

    def _config(self, data_dir: str, incremental: bool):
        from jira_scraper_etl_spark.streaming.pipeline import PipelineConfig
        return PipelineConfig(
            projects=self.projects, data_dir=data_dir, base_url=self.base_url,
            max_results=ETL_PAGE, rate_limit_sleep_seconds=0.05,
            retry_backoff_base=2.0, max_retries=5, incremental=incremental,
            transport="requests", pages_per_partition=4)

    def warm(self, run: Run) -> tuple[float, int, int]:
        """The full leg once, checked: it compiles the same plans the
        incremental leg runs."""
        res = self.run_pass(run, -1, traced=False, legs=("full",))
        return sum(res["walls"].values()), res["attempted"], res["failed"]

    def run_pass(self, run: Run, k: int, traced: bool,
                 legs=("full", "incremental")) -> dict:
        from jira_scraper_etl_spark.streaming import pipeline as P

        data_dir = os.path.join(self.work, "etl", f"pass{k}")
        shutil.rmtree(data_dir, ignore_errors=True)
        self._call("/_bench/reset", "POST")
        self.corpus.reset()
        walls, failed, cpu_s, out = {}, 0, 0.0, {}
        busy = steal = 0.0
        originals = (P.extract_project, P.transform_project)
        with run.tracer.span("pass", index=k, traced=traced) as ps:
            for leg in legs:
                if leg == "incremental":
                    changed = self._call("/_bench/advance", "POST")
                    if changed != self.corpus.advance():
                        raise RuntimeError("server and benchmark corpora diverged")
                    out["changed"] = sum(len(v) for v in changed.values())
                before = run.sampler.sample()
                if traced:
                    self._tag(run, P, originals, f"t{k}/{leg}")
                try:
                    with run.tracer.span("step", step=leg) as st:
                        report = P.run_pipeline(run.spark, self._config(
                            data_dir, leg == "incremental"))
                finally:
                    P.extract_project, P.transform_project = originals
                after = run.sampler.sample()
                walls[leg] = st["end"] - st["start"]
                cpu_s += after.cpu_s - before.cpu_s
                busy += after.busy_s - before.busy_s
                steal += after.steal_s - before.steal_s
                st["report"] = report
                st["pyworker_cpu_s"] = after.pyworker_cpu_s - before.pyworker_cpu_s
                st["server"] = self._call("/_bench/stats")
                with run.tracer.span("verify", step=leg):
                    why = self.check(data_dir, leg, report)
                if why:
                    run.log(f"FAIL etl_jira {leg}: {why}")
                    failed += 1
        shutil.rmtree(data_dir, ignore_errors=True)
        return {"span": ps["id"], "walls": walls, "cpu_s": cpu_s,
                "granted": procfs.granted(busy, steal),
                "failed": failed, "attempted": len(legs), **out}

    @staticmethod
    def _tag(run: Run, P, originals, prefix: str) -> None:
        """Wrap the pipeline's per-project phases so their Spark jobs
        carry a job group and each call gets a span."""
        def wrap(fn, phase):
            def tagged(spark, cfg, project):
                spark.sparkContext.setJobGroup(f"{prefix}/{phase}/{project}", phase)
                with run.tracer.span(phase, project=project):
                    return fn(spark, cfg, project)
            return tagged
        P.extract_project = wrap(originals[0], "extract")
        P.transform_project = wrap(originals[1], "transform")

    def check(self, data_dir: str, leg: str, report: dict) -> str | None:
        """Compare a leg's outputs with the server's corpus: silver key
        set and count, JSONL line count, and the saved offset."""
        import pyarrow.parquet as pq

        if not report.get("success"):
            return f"run report not successful: {report}"
        for p in self.projects:
            with open(os.path.join(data_dir, "checkpoints", f"{p}.json")) as f:
                off = json.load(f)
            if leg == "full":
                expected = self.corpus.keys(p)
                self._cutoff[p] = off["last_updated"].split("T")[0]
                want_start = len(expected)
            else:
                expected = self.corpus.keys(p, self._cutoff[p])
                want_start = ETL_ISSUES + len(expected)
            ids = pq.read_table(os.path.join(data_dir, "silver", f"project={p}"),
                                columns=["id"]).column("id").to_pylist()
            if len(ids) != len(expected) or set(ids) != set(expected):
                return (f"{p}: silver holds {len(ids)} ids, expected "
                        f"{len(expected)} ({len(set(ids) ^ set(expected))} differ)")
            lines = 0
            for part in glob.glob(os.path.join(
                    data_dir, "processed", f"{p}_issues.jsonl", "part-*")):
                with open(part, "rb") as f:
                    lines += sum(1 for _ in f)
            if lines != len(expected):
                return f"{p}: JSONL has {lines} lines, expected {len(expected)}"
            if off["start_at"] != want_start:
                return f"{p}: offset start_at {off['start_at']}, expected {want_start}"
        return None

    def close(self) -> None:
        if self.server is not None:
            self.server.terminate()
            try:
                self.server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()
            self.server.stdout.close()
            self.server = None


def make(name: str, root: str, work: str, seed: int, ncpu: int):
    if name == "analytics_sql":
        # Passes take 5-12 s, so fewer fit in a run; CPU per pass levels
        # off after about four.
        return RegistryWorkload(name, ANALYTICS_STEPS, ANALYTICS_SF, root, work,
                                seed, settle=4, min_passes=3)
    if name == "llm_curation":
        # After the cold pass, CPU per pass falls from about 10 s to under
        # 4 s over the next eight passes while the JIT compiles (4 cores),
        # and wall time with it; from then on passes agree within about 10%.
        return RegistryWorkload(name, LLM_STEPS, LLM_SF, root, work, seed,
                                settle=8, min_passes=6)
    if name == "etl_jira":
        return EtlWorkload(root, work, seed, ncpu)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_jira", "analytics_sql", "llm_curation")
