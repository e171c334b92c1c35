"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. A run

1. sets up: generates the workload's inputs from ``--seed``, starts the
   session through ``session.get_spark`` and makes one cold pass that
   also checks every output (``setup_s``);
2. settles: runs the workload's ``settle`` passes, which no metric
   counts, while the JIT is still compiling the hot paths;
3. measures: repeats passes until ``--seconds`` have elapsed and at
   least the workload's ``min_passes`` times, checking every output
   outside the timed region;
4. prints every metric with its unit on stderr and, as the last line of
   stdout, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``.
``wall_s`` and ``setup_s`` are wall times with the CPU time the
hypervisor stole taken out (see ``_granted_wall``); stderr also gives
them as read.
``--trace 1`` turns on the Spark event log, alternates untraced and
traced passes, reports the per-layer metrics from the traced ones and
writes the spans to ``.bench_out/``. See ``perfbench/README.md``.

Everything the run writes stays under ``.bench_work/`` (deleted at exit)
and ``.bench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Keep every file the run, Spark and its JVM write inside ``work``
    and make the package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_jvm(spark, grace_s: float = 30.0) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    for it and the Python workers it forked."""
    import procfs
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = procfs.subtree(procfs.snapshot(), proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=grace_s)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                 and procfs._read(p) is not None]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_wall(p: dict) -> float:
    """Wall time of one pass: the sum of its steps, without the checks."""
    return sum(p["walls"].values())


def _granted_wall(p: dict) -> float:
    """A pass's wall time on the CPU time the hypervisor granted: each
    second stolen from a CPU that wanted to run is taken out, divided by
    the pass's mean parallelism (busy + steal) / wall."""
    return _pass_wall(p) * p["granted"]


def _layers(wl, tracer, passes, groups, setup: dict) -> dict:
    """Per-layer metrics: each summed per traced pass, median over the
    traced passes."""
    import eventlog

    per_pass = []
    for p in passes:
        ps = p["span"]
        ev = eventlog.total(groups, f"t{p['index']}/")
        m = {
            "session.start_s": setup["start_s"],
            "session.warm_s": setup["warm_s"],
            "plans.build_s": tracer.total("build", ps),
            "seams.filled": tracer.total("release", ps, "seams"),
            "seams.release_s": tracer.total("release", ps),
            "spark.plan_s": tracer.total("plan", ps),
            "spark.exchanges": tracer.total("plan", ps, "exchanges"),
            "spark.broadcasts": tracer.total("plan", ps, "broadcasts"),
            "pyworker.cpu_s": tracer.total("step", ps, "pyworker_cpu_s"),
            "spark.jobs": ev["jobs"], "spark.stages": ev["stages"],
            "spark.tasks": ev["tasks"],
            "spark.task_run_s": ev["task_run_s"],
            "spark.task_cpu_s": ev["task_cpu_s"], "spark.gc_s": ev["gc_s"],
            "spark.input_mb": ev["input_mb"], "spark.output_mb": ev["output_mb"],
            "spark.shuffle_read_mb": ev["shuffle_read_mb"],
            "spark.shuffle_write_mb": ev["shuffle_write_mb"],
            "spark.spill_mb": ev["spill_mb"],
        }
        m.update(dict.fromkeys(ETL_LAYERS, 0.0))
        if wl.name == "etl_jira":
            m.update(_etl_layers(wl, tracer, p, groups))
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}


ETL_LAYERS = ("jira_rest.extract_s", "jira_rest.requests", "jira_rest.retries",
              "jira_rest.useful_ratio", "jira_rest.served_mb", "transform.s",
              "transform.actions", "offsets.reread_ratio", "pipeline.extract_s",
              "pipeline.transform_s", "pipeline.incremental_s")


def _etl_layers(wl, tracer, p, groups) -> dict:
    import eventlog

    k, ps = p["index"], p["span"]
    legs = {s["step"]: s for s in tracer.spans
            if s["name"] == "step" and s["parent"] == ps}
    stats = legs["incremental"]["server"]  # counters since the pass's reset
    reports = [legs[l]["report"] for l in ("full", "incremental")]
    extract = sum(eventlog.total(groups, f"t{k}/{l}/extract/")["task_run_s"]
                  for l in ("full", "incremental"))
    t_jobs = sum(eventlog.total(groups, f"t{k}/{l}/transform/")["jobs"]
                 for l in ("full", "incremental"))
    refetched = sum(v.get("extracted", 0)
                    for v in reports[1]["projects"].values())
    return {
        "jira_rest.extract_s": extract,
        "jira_rest.requests": stats["requests"],
        "jira_rest.retries": stats["r429"] + stats["r503"],
        "jira_rest.useful_ratio": stats["ok"] / max(stats["requests"], 1),
        "jira_rest.served_mb": stats["bytes"] / 1e6,
        "transform.s": tracer.total("transform", ps),
        "transform.actions": t_jobs / (2 * len(wl.projects)),
        "offsets.reread_ratio": refetched / max(p["changed"], 1),
        "pipeline.extract_s": sum(r["extract_seconds"] or 0 for r in reports),
        "pipeline.transform_s": sum(r["transform_seconds"] or 0 for r in reports),
        "pipeline.incremental_s": p["walls"]["incremental"],
    }


def bench(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import procfs
    import workloads
    from jira_scraper_etl_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    tracer = workloads.Tracer()
    wl = workloads.make(workload, ROOT, work, seed, ncpu)
    spark = None
    try:
        host0 = procfs.host_cpu()
        gen_s = wl.make_inputs()
        conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.ui.showConsoleProgress": "false"}
        evdir = os.path.join(work, "eventlog")
        if trace:
            os.makedirs(evdir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + evdir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}", cpus=ncpu,
                          extra_conf=conf)
        start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        sampler = procfs.Sampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        run = workloads.Run(spark, tracer, sampler, log)
        warm_s, attempted, failed = wl.warm(run)
        (b0, s0), (b1, s1) = host0, procfs.host_cpu()
        setup = {"gen_s": gen_s, "start_s": start_s, "warm_s": warm_s,
                 "granted": procfs.granted(b1 - b0, s1 - s0)}
        log(f"setup: inputs {gen_s:.3f} s, session {start_s:.3f} s, "
            f"cold pass {warm_s:.3f} s, {failed} of {attempted} checks failed")

        passes, t0 = [], None
        while (len(passes) < wl.settle + wl.min_passes
               or time.perf_counter() - t0 < seconds):
            k = len(passes)
            if k == wl.settle:
                t0 = time.perf_counter()
            traced = trace and k >= wl.settle and (k - wl.settle) % 2 == 1
            spark.sparkContext.setJobGroup(f"{'t' if traced else 'u'}{k}", "pass")
            res = wl.run_pass(run, k, traced)
            res.update(index=k, traced=traced)
            passes.append(res)
            attempted += res["attempted"]
            failed += res["failed"]
            log(f"pass {k}{' (traced)' if traced else ''}"
                f"{' (settle)' if k < wl.settle else ''}: "
                f"{_pass_wall(res):.3f} s, cpu {res['cpu_s']:.3f} s, "
                f"granted {res['granted']:.3f} ("
                + ", ".join(f"{s} {w:.3f}" for s, w in res["walls"].items()) + ")")
        peak_rss = sampler.peak_rss_mb()
    finally:
        wl.close()
        if spark is not None:
            _stop_jvm(spark)

    measured = passes[wl.settle:]
    plain = [p for p in measured if not p["traced"]]
    walls = sorted(_granted_wall(p) for p in plain)
    raw_setup = gen_s + start_s + warm_s
    metrics = {
        "wall_s": (_median(walls), "s"),
        "cpu_s": (_median([p["cpu_s"] for p in plain]), "s"),
        "setup_s": (raw_setup * setup["granted"], "s"),
    }
    for s in plain[0]["walls"]:
        log(f"step {s}: median {_median([p['walls'][s] for p in plain]):.3f} s")
    log(f"{workload}: wall_s over {len(walls)} untraced passes: median "
        f"{_median(walls):.3f} s, p100 {walls[-1]:.3f} s; before taking out "
        f"steal: median {_median([_pass_wall(p) for p in plain]):.3f} s, "
        f"granted {_median([p['granted'] for p in plain]):.3f}")
    log(f"setup_s before taking out steal: {raw_setup:.3f} s, "
        f"granted {setup['granted']:.3f}")
    log(f"  {'failed_frac':28s} {failed / attempted:14.4f} ratio "
        f"({failed} of {attempted} checks)")
    if workload == "etl_jira":
        inc = _median([p["walls"]["incremental"] for p in plain])
        log(f"  {'incremental_s':28s} {inc:14.4f} s")
    else:
        log(f"  {'incremental_s':28s} {'n/a':>14s}   (no incremental leg)")
    log(f"  {'peak_rss_mb':28s} {peak_rss:14.4f} MB")
    for k, (v, unit) in metrics.items():
        log(f"  {k:28s} {v:14.4f} {unit}")
    if trace:
        import eventlog

        groups = eventlog.parse_files(
            os.path.join(evdir, f) for f in sorted(os.listdir(evdir)))
        traced = [p for p in measured if p["traced"]]
        layers = _layers(wl, tracer, traced, groups, setup)
        # Both sides run with the event log on, so this is the cost of
        # the spans, job groups, forced plans and /proc samples only.
        layers["trace.wall_s"] = _median([_granted_wall(p) for p in traced])
        layers["trace.overhead_s"] = layers["trace.wall_s"] - _median(walls)
        layers["peak_rss_mb"] = peak_rss
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace_{workload}_{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "setup": setup,
                       "spans": tracer.spans, "groups": groups}, f, default=str)
        metrics = {k: (v, UNITS.get(k, "s")) for k, v in layers.items()}
        for k, (v, unit) in metrics.items():
            log(f"  {k:28s} {v:14.4f} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


UNITS = {
    "peak_rss_mb": "MB",
    "jira_rest.requests": "count", "jira_rest.retries": "count",
    "jira_rest.useful_ratio": "ratio", "jira_rest.served_mb": "MB",
    "transform.actions": "count", "offsets.reread_ratio": "ratio",
    "seams.filled": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.exchanges": "count",
    "spark.broadcasts": "count", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="sparketl benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("etl_jira", "analytics_sql", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for need in ("jira_scraper_etl_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found under {ROOT}; run from a full checkout")
            return 2
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        result = bench(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
