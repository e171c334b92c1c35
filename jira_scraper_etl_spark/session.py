"""SparkSession construction with scale-conscious defaults.

The engine targets large clusters (the design point is ~1000 executors /
~100 TB inputs) but tests on ``local[N]``. The defaults below are the
ones that matter at both scales:

* AQE on — runtime shuffle-partition coalescing + skew-join splitting.
* ``spark.sql.session.timeZone=UTC`` — deterministic timestamp semantics
  (the reference compares ISO timestamps as strings, which is only safe
  because Jira emits one offset; we parse to real timestamps and pin UTC).
* ``spark.sql.legacy.parquet.nanosAsLong=true`` — the synthetic ``events``
  table stores TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
  reading nanos as int64 keeps the scan vectorized and we convert to
  TIMESTAMP_NTZ columnar-side (see ``catalog.load_events``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs the engine relies on. Applied both at
# builder time (our own sessions) and defensively at runtime for
# externally provided sessions (the correctness driver builds its own).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 32 MB: dims broadcast comfortably at bench SFs, while a 15M-row
    # FACT projection (orders at the sf10 decade, ~40 MB estimated)
    # rides the shuffle: the 64 MB setting this replaced built it as a
    # hash relation, q9 9.5 s vs 5.6 s with the SMJ (round-12).
    # The broadcast rule: this threshold and AQE choose join sides.
    # Catalyst sizes scans from file statistics and an aggregate with
    # no grouping keys at one row. Hint ``F.broadcast`` only on a side
    # small at every scale whose size Catalyst cannot see: a
    # createDataFrame over a Python list (Long.MaxValue) or a grouped
    # aggregate over a bounded key space (sized from its input). Never
    # hint a table that grows with the data: at 100 TB it OOMs.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas UDFs / toPandas — the only sane Python<->JVM path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let Python data sources (sources/jira_rest.py) receive pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` before every
    # explode and predicate-pushdown then drags it through the fan-out
    # exchange into the parquet scan — for an explode over a
    # HOF-computed array (tokenize/shingle pipelines, most of the text
    # family) that re-evaluates the whole pipeline scan-side,
    # SERIALIZED into however few splits the file has, before the
    # balanced post-exchange pass runs it again. Pure pessimization in
    # this engine (the generates sit directly on their projection, so
    # the inferred filter never saves a shuffle; results are identical
    # by construction — it only skips already-empty generator inputs).
    # Plan-audit's HOF-SCAN-FILTER rule keeps the class out; this conf
    # removes the optimizer-injected instances the rule would flag.
    # Known trade (ADVICE r8): the exclusion is session-global, so a
    # future plan exploding a STORED (non-computed) array column loses
    # the legitimate size()>0 scan pruning too — perf only, never
    # results; if such a plan appears, the HOF-SCAN-FILTER audit run is
    # the signal to revisit (scope the exclusion or pre-filter the scan
    # with a cheap source-column predicate, the winnowing pattern).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


# Every Python task (pandas UDF, mapInPandas / mapInArrow, the Jira
# data source), on a fresh or a reused worker, runs pyspark's
# ``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
# On CPython 3.11 that eagerly re-reads the whole directory of every
# cached zip importer, and a worker holds 16: 12 over pyspark.zip
# (1,328 entries each), 2 over the Spark core jar the JVM puts on the
# worker path (5,359 entries each) and 2 over py4j. Measured in a
# worker, that reset is 0.21-0.27 s of CPU per task, while an identity
# mapInPandas task over 1,000 rows takes 0.34-0.42 s in all and a plain
# scan task 0.09 s. The daemon module makes the re-read stat-checked
# (see ``_pydaemon``); sessions built elsewhere keep ``pyspark.daemon``.
DAEMON_MODULE = "jira_scraper_etl_spark._pydaemon"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "jira-scraper-etl-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a session tuned for the local harness.

    ``shuffle_partitions`` defaults to the core count: at test scale a
    shuffle partition per core avoids tiny-task overhead; on a real
    cluster this is sized to ~128 MB per post-shuffle partition and
    AQE coalesces the rest. ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` is that
    deployment dial for the decade probes: at the sf30 warehouse
    decade the per-core default puts ~400 MB of lineitem in each
    sort-merge partition and the SMJ sorts spill (measured q21 7.6×
    for 3× rows; 512 partitions restore 3.0×). It is an env dial, not
    a raised default, because persisted seams pin their partitioning
    BEFORE AQE coalescing — a blanket high initialPartitionNum made
    every cached text-family pipeline pay 128-512 tiny cached
    partitions at bench SFs (measured text_tfidf_topk 0.65 s → 1.5 s).
    """
    n = cpus or default_parallelism()
    raw_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    try:
        env_sp = int(raw_sp)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_SHUFFLE_PARTITIONS must be an integer, got "
            f"{raw_sp!r}") from None
    if env_sp < 0:
        raise ValueError(
            f"SPARK_GRAFT_SHUFFLE_PARTITIONS must be >= 1 (or 0/unset "
            f"for the per-core default), got {env_sp}")
    sp = shuffle_partitions or env_sp or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # The default 240 MB JIT code cache fills under codegen-heavy
        # workloads (measured: the RP-LSH 512-expression projection at
        # the sf10 soak printed "compilation: disabled (not enough
        # contiguous free space)" and fell back to interpreted
        # bytecode, a >10x slowdown on every subsequent stage). A
        # wide-plan engine wants JIT headroom; same dial a production
        # Spark cluster sets in spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        # the daemon starts before any task can ship code, so the
        # package must be importable whatever the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply engine-required SQL confs to an externally built session.

    All confs in ``RUNTIME_CONFS`` are runtime-settable SQL confs; a
    failure to set one (e.g. a future Spark removing a legacy flag) is
    non-fatal — the corresponding loader falls back (see catalog).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
