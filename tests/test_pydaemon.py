"""The Python-worker daemon module: zip importers re-read an archive's
directory only when the archive changed on disk, and the sessions that
``get_spark`` builds run their Python tasks under that daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from jira_scraper_etl_spark import _pydaemon
from jira_scraper_etl_spark.session import DAEMON_MODULE


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_mod_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # restored at teardown, after install() below replaces it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_pydaemon, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import pydaemon_mod_a

        assert pydaemon_mod_a.X == 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # stock zipimport re-reads

        _pydaemon.install()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"pydaemon_mod_a": "X = 1\n",
                             "pydaemon_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import pydaemon_mod_b

        assert pydaemon_mod_b.Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in ("pydaemon_mod_a", "pydaemon_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_tasks_run_under_the_daemon_module(spark):
    """Two back-to-back mapInPandas tasks: each finds the stat-checked
    ``invalidate_caches`` in place and every cached zip importer holding
    the directory read at its archive's current stat key."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    # the daemon must import whatever the driver's cwd
    root = conf.get("spark.executorEnv.PYTHONPATH")
    assert os.path.isfile(os.path.join(root, *DAEMON_MODULE.split(".")) + ".py")

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        daemon = sys.modules["__main__"]
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        current = all(
            daemon._read_at.get(z.archive) == daemon._stat_key(z.archive)
            and z._files is zipimport._zip_directory_cache[z.archive]
            for z in importers)
        for _ in batches:
            yield pd.DataFrame({
                "daemon": [daemon.__spec__.name],
                "patched": [zipimport.zipimporter.invalidate_caches
                            is daemon.invalidate_caches],
                "importers": [len(importers)],
                "current": [current]})

    df = spark.range(10).repartition(1)
    schema = "daemon string, patched boolean, importers long, current boolean"
    for _ in range(2):
        [row] = df.mapInPandas(probe, schema).collect()
        assert row.daemon == DAEMON_MODULE
        assert row.patched
        assert row.importers > 0
        assert row.current
