"""The worker-start hook: zip importers re-read an archive's directory
only when the archive changed on disk, and every Python process of a
``get_spark`` session runs under it: the Data Source planner workers
as well as the executor workers."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from jira_scraper_etl_spark.session import _WORKER_SITE
from jira_scraper_etl_spark.worker_site import sitecustomize as hook

HOOK_FILE = os.path.join(_WORKER_SITE, "sitecustomize.py")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    late = str(tmp_path / "late.zip")
    _write_zip(archive, {"worker_site_mod_a": "X = 1\n"})
    _write_zip(late, {"worker_site_mod_c": "Z = 3\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    # both restored at teardown, after install() below replaces them
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(hook, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import worker_site_mod_a

        assert worker_site_mod_a.X == 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # stock zipimport re-reads

        hook.install()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"worker_site_mod_a": "X = 1\n",
                             "worker_site_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import worker_site_mod_b

        assert worker_site_mod_b.Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        # an archive first read after install is stamped at that read,
        # so its first reset finds it current
        importer = zipimport.zipimporter(late)
        assert reads.count(late) == 1
        importer.invalidate_caches()
        assert reads.count(late) == 1
    finally:
        for name in ("worker_site_mod_a", "worker_site_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_hook_runs_the_sitecustomize_it_shadows(tmp_path):
    """The hook directory sits ahead of site-packages on the worker
    path; the ``sitecustomize`` it shadows still runs, after the hook
    is installed."""
    marker = tmp_path / "marker"
    (tmp_path / "sitecustomize.py").write_text(
        "import zipimport\n"
        f"open({str(marker)!r}, 'w').write(\n"
        "    zipimport.zipimporter.invalidate_caches.__module__)\n")
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join([_WORKER_SITE, str(tmp_path)]))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sitecustomize, zipimport; "
         "print(sitecustomize.__file__); "
         "print(zipimport.zipimporter.invalidate_caches.__code__.co_filename)"],
        env=env, capture_output=True, text=True, check=True, timeout=60)
    assert out.stdout.split() == [HOOK_FILE, HOOK_FILE], out
    assert marker.read_text() == "sitecustomize"


def _reset_probe():
    """A function that reports where its process's zip-importer reset
    comes from, and whether every cached zip importer holds the
    directory read at its archive's current stat key. Built in a
    function so it pickles by value into the workers."""

    def reset_state():
        import sys
        import zipimport

        site = sys.modules.get("sitecustomize")
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        current = hasattr(site, "_read_at") and all(
            site._read_at.get(z.archive) == site._stat_key(z.archive)
            and z._files is zipimport._zip_directory_cache[z.archive]
            for z in importers)
        return (zipimport.zipimporter.invalidate_caches.__code__.co_filename,
                len(importers), current)

    return reset_state


def test_python_tasks_run_under_the_hook(spark):
    """Two back-to-back mapInPandas tasks: each finds the stat-checked
    ``invalidate_caches`` in place and every cached zip importer holding
    the directory read at its archive's current stat key."""
    # the hook must load whatever the driver's cwd
    root = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert root.split(os.pathsep)[0] == _WORKER_SITE
    assert os.path.isfile(HOOK_FILE)

    reset_state = _reset_probe()

    def probe(batches):
        import pandas as pd

        reset, importers, current = reset_state()
        for _ in batches:
            yield pd.DataFrame({"reset": [reset], "importers": [importers],
                                "current": [current]})

    df = spark.range(10).repartition(1)
    schema = "reset string, importers long, current boolean"
    for _ in range(2):
        [row] = df.mapInPandas(probe, schema).collect()
        assert row.reset == HOOK_FILE
        assert row.importers > 0
        assert row.current


def _probe_source():
    """A Python data source that reports the reset state of the worker
    running each of its planner and executor calls. Built in a function
    so the classes pickle by value."""
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)
    from pyspark.sql.types import StringType, StructField, StructType

    reset_state = _reset_probe()

    def state():
        reset, importers, current = reset_state()
        return f"{reset}|{importers > 0 and current}"

    class Reader(DataSourceReader):
        def partitions(self):  # plan_data_source_read worker
            return [InputPartition(state())]

        def read(self, partition):  # executor worker
            yield (partition.value, state())

    class Source(DataSource):
        @classmethod
        def name(cls):
            return "worker_site_probe"

        def schema(self):  # create_data_source worker
            return StructType([
                StructField(f"plan {state()}", StringType()),
                StructField("read", StringType())])

        def reader(self, schema):
            return Reader()

    return Source


def test_data_source_planner_workers_run_under_the_hook(spark):
    """The planner workers fork from a daemon module Spark fixes, so
    only a startup hook reaches them: ``schema()`` reports through its
    field names, ``partitions()`` through its ``InputPartition`` and
    ``read()`` through its rows."""
    spark.dataSource.register(_probe_source())
    df = spark.read.format("worker_site_probe").load()
    created = df.columns[0].removeprefix("plan ")
    assert created == f"{HOOK_FILE}|True"
    [row] = df.collect()
    assert tuple(row) == (f"{HOOK_FILE}|True", f"{HOOK_FILE}|True")
