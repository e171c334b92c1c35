"""CLI tests — the reference's main.py/worker.py argparse surface
(reference tests/test_extract.py:205-245 runs main() end-to-end the
same way: synthetic transport, temp data dir)."""

from __future__ import annotations

import json
import signal
import threading

from jira_scraper_etl_spark import cli
from jira_scraper_etl_spark.sources import offsets as OFF


def write_config(tmp_path, **kw) -> str:
    base = dict(projects=["SPARK", "KAFKA"], data_dir=str(tmp_path / "data"),
                transport="synthetic", synthetic_total=60, max_results=50)
    base.update(kw)
    p = tmp_path / "config.json"
    p.write_text(json.dumps(base))
    return str(p)


def test_default_runs_both_phases(spark, tmp_path, capsys):
    # lookback_days is no longer a config key; old files that carry it
    # still load (unknown keys are dropped)
    cfgp = write_config(tmp_path, lookback_days=7)
    ok = cli.pipeline_main(["--config", cfgp], spark=spark)
    assert ok
    captured = capsys.readouterr()
    report = json.loads(captured.out)
    for p in ("SPARK", "KAFKA"):
        assert report["projects"][p]["extracted"] == 60
        assert report["projects"][p]["transformed"] == 60
    assert (tmp_path / "data" / "silver" / "project=SPARK").exists()
    # per-phase wall-clock log lines (reference main.py:139,162-166,188-190)
    assert "extract phase completed in " in captured.err
    assert "transform phase completed in " in captured.err
    assert "pipeline completed in " in captured.err


def test_single_project_and_phase_flags(spark, tmp_path, capsys):
    cfgp = write_config(tmp_path)
    assert cli.pipeline_main(["--extract", "--project", "KAFKA",
                              "--config", cfgp], spark=spark)
    report = json.loads(capsys.readouterr().out)
    assert list(report["projects"]) == ["KAFKA"]
    assert "transformed" not in report["projects"]["KAFKA"]  # extract only


def test_unknown_project_fails(spark, tmp_path, capsys):
    cfgp = write_config(tmp_path)
    assert not cli.pipeline_main(["--project", "NOPE", "--config", cfgp],
                                 spark=spark)
    assert "not found" in capsys.readouterr().err


def test_clean_removes_checkpoints_and_bronze(spark, tmp_path, capsys):
    cfgp = write_config(tmp_path, projects=["SPARK"])
    assert cli.pipeline_main(["--config", cfgp], spark=spark)
    ck = tmp_path / "data" / "checkpoints"
    assert OFF.load(str(ck), "SPARK").start_at == 60
    assert (tmp_path / "data" / "bronze" / "project=SPARK").exists()
    # --clean starts fresh, then the run re-extracts from zero
    assert cli.pipeline_main(["--clean", "--config", cfgp], spark=spark)
    assert OFF.load(str(ck), "SPARK").start_at == 60  # re-extracted, not 120


def test_missing_config_uses_defaults(tmp_path):
    cfg = cli.load_config(str(tmp_path / "nope.json"))
    assert cfg.projects == ["SPARK"]


def test_worker_cli_no_initial_run_and_stop(spark, tmp_path):
    """worker.py:104-116 argparse surface + graceful stop: stop_event
    set before any run → zero runs, final status written."""
    cfgp = write_config(tmp_path, projects=["SPARK"], synthetic_total=10)
    stop = threading.Event()
    stop.set()
    out = cli.worker_main(["--interval", "1", "--no-initial-run",
                           "--config", cfgp], spark=spark, stop_event=stop)
    assert out["runs"] == 0
    status = json.loads(
        (tmp_path / "data" / "worker_status.json").read_text())
    assert status["message"] == "worker stopped"


def test_worker_cli_executes_a_run(spark, tmp_path):
    """End-to-end: the worker CLI performs an immediate run (initial_run
    default), reports it, and writes healthy status."""
    cfgp = write_config(tmp_path, projects=["SPARK"], synthetic_total=20)
    out = cli.worker_main(["--interval", "1", "--config", cfgp],
                          spark=spark, max_runs=1)
    assert out["runs"] == 1 and out["last_successful_run"] is not None
    assert (tmp_path / "data" / "silver" / "project=SPARK").exists()


def test_worker_signal_handler_sets_stop_event():
    """SIGINT/SIGTERM handlers set the stop event (worker.py:118-128)
    and the previous handlers are restorable."""
    stop = threading.Event()
    prev = cli.install_signal_handlers(stop)
    try:
        handler = signal.getsignal(signal.SIGINT)
        handler(signal.SIGINT, None)
        assert stop.is_set()
        assert signal.getsignal(signal.SIGTERM) is handler
    finally:
        for s, h in prev.items():
            signal.signal(s, h)
    assert signal.getsignal(signal.SIGINT) is prev[signal.SIGINT]
