"""Catalog loader tests.

The driver's generator has emitted ``ts`` as TIMESTAMP(NANOS) in some
rounds and TIMESTAMP(MICROS) in others; ``load_events`` must read both
to identical timestamp_ntz values (nanos truncate to micros, matching
DuckDB). ``load_table`` infers a table file's schema once and reuses it
until the file changes."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jira_scraper_etl_spark.catalog import (
    _events_ts_unit, load_events, load_table)
from jira_scraper_etl_spark.streaming import events as SE

TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 1, 28, 13, 16, 50, 465735),
    datetime.datetime(2024, 3, 31, 23, 59, 59, 999999),
]


def _write_events(path: str, unit: str) -> None:
    n = len(TS)
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(TS, pa.timestamp(unit)),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": pa.array(["click"] * n, pa.string()),
        "value": pa.array([1.5] * n, pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    pq.write_table(tbl, path)


@pytest.mark.parametrize("unit", ["ns", "us", "ms"])
def test_load_events_any_unit(spark, tmp_path, unit):
    d = tmp_path / f"events_{unit}"
    d.mkdir()
    _write_events(str(d / "events.parquet"), unit)
    assert _events_ts_unit(str(d / "events.parquet")) == unit
    df = load_events(spark, str(d))
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    if unit == "ms":  # millis lose sub-milli digits at write time
        want = [t.replace(microsecond=t.microsecond // 1000 * 1000) for t in TS]
    else:
        want = TS
    assert got == want


def test_event_loaders_keep_caller_session_confs(spark, tmp_path):
    """The event loaders read with the session as the caller set it: a
    run with forced shuffle joins and AQE off must still plan that way
    after loading events."""
    d = tmp_path / "events_conf"
    d.mkdir()
    _write_events(str(d / "events.parquet"), "us")
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "-1")
        spark.conf.set(keys[1], "false")
        load_events(spark, str(d))
        SE.stream_events(spark, str(d))
        assert [spark.conf.get(k) for k in keys] == ["-1", "false"]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_load_table_infers_a_file_schema_once(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert count_jobs(lambda: load_table(spark, str(tmp_path), "t")) >= 1
    holder = {}
    assert count_jobs(lambda: holder.update(
        df=load_table(spark, str(tmp_path), "t"))) == 0
    assert sorted(r.a for r in holder["df"].collect()) == [1, 2]

    # same path, new schema: the loader sees the change and infers again
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()),
                             "b": pa.array([b"x"], pa.binary())}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.fieldNames() == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, bytearray(b"x"))]

    # an inference conf change infers again too
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(conf, prev)
    assert load_table(spark, str(tmp_path), "t").schema["b"] \
        .dataType.typeName() == "binary"


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_events_any_unit(spark, tmp_path, unit):
    d = tmp_path / f"sevents_{unit}"
    d.mkdir()
    _write_events(str(d / "01.parquet"), unit)
    stream = SE.stream_events(spark, str(d), glob="*.parquet")
    q = (stream.writeStream.format("memory").queryName(f"ev_{unit}")
         .option("checkpointLocation", str(tmp_path / f"ck_{unit}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = sorted(r.ts for r in spark.table(f"ev_{unit}").collect())
    assert got == TS


def test_session_filter_pushdown_immunity(spark):
    """Minimal repro of the session-window filter-pushdown hazard
    (found at the sf10 soak): Catalyst pushes a filter on a grouping
    expression below the aggregation — sound for tumbling windows,
    UNSOUND for session windows, because the pre-merge window column is
    [ts, ts+gap) per EVENT. Two events 21 minutes apart form ONE
    session; filtering the naive w.end spelling on a cut between
    first_ts+gap and the merged end cuts the second event pre-merge and
    fabricates a phantom 1-event session. The engine's plans expose
    session bounds as AGGREGATES (min/max+gap), which no filter can
    push through — this test pins both the hazard (so a Spark upgrade
    that fixes it upstream is visible) and the engine's immunity."""
    import datetime

    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.plans import event_time  # noqa: F401
    from jira_scraper_etl_spark import plans

    t0 = datetime.datetime(2024, 1, 1, 21, 11, 36)
    t1 = datetime.datetime(2024, 1, 1, 21, 33, 6)   # 21m30s later: merges
    cut = datetime.datetime(2024, 1, 1, 21, 59, 25)  # t0+30m < cut < t1+30m
    df = spark.createDataFrame(
        [(1, 100, t0, 1.0), (2, 100, t1, 2.0)],
        "event_id long, user_id long, ts timestamp_ntz, value double")

    # the HAZARD, pinned: the naive w.end spelling loses the merge
    naive = (df.groupBy("user_id",
                        F.session_window("ts", "30 minutes").alias("w"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select("user_id", F.col("w.end").alias("session_end"), "n"))
    assert [tuple(r) for r in naive.collect()] == [
        (100, t1 + datetime.timedelta(minutes=30), 2)]
    phantom = naive.where(F.col("session_end") < F.lit(cut)).collect()
    if phantom:  # Spark 4.1 behavior; an upstream fix empties this
        assert [tuple(r) for r in phantom] == [
            (100, t0 + datetime.timedelta(minutes=30), 1)]

    # the engine's spelling is immune: filter-then-collect equals
    # collect-then-filter
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        sess = plans.QUERIES["events_session_30m"].fn(spark, d)
        unf = [tuple(r) for r in sess.collect()]
        assert len(unf) == 1 and unf[0][3] == 2  # one merged 2-event session
        filt = [tuple(r) for r in
                sess.where(F.col("session_end") < F.lit(cut)).collect()]
        assert filt == [t for t in unf if t[2] < cut] == []
