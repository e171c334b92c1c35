"""Table loaders for the synthetic benchmark star schema.

All loaders return lazily planned DataFrames straight off the parquet
scans so Catalyst can push filters and prune columns into the file scan
(`PushedFilters` / `ReadSchema` in `.explain`). Nothing here collects.

The ``events`` table needs special handling: the data generator has
emitted its ``ts`` column as TIMESTAMP(NANOS) in some runs and
TIMESTAMP(MICROS) in others. We sniff the parquet footer (a pure
metadata read, a few KB regardless of file size — safe at any scale)
and pick the matching scan:

* micros/millis → Spark's native reader handles it; just normalize to
  ``timestamp_ntz`` so downstream plans and oracle hashes are stable.
* nanos → Spark's parquet reader refuses the type outright. With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as
  int64 nanoseconds and we convert columnar-side — integer division to
  microseconds then ``timestamp_micros`` — keeping the scan vectorized
  (this matches DuckDB's nanos→micros truncation semantics exactly).
"""

from __future__ import annotations

import os
import stat

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # nanos-as-long (see module doc)
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


# Session confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# abspath -> (file stat key + inference confs, schema Spark inferred)
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a local file's schema once.

    Inference runs one Spark job to read the footer (0.09-0.11 s warm,
    against 0.016-0.02 s for a load with the schema passed). A local
    regular file's inferred schema is kept while its
    ``(st_mtime_ns, st_size, st_ino)`` and the inference confs stay the
    same, so a rewritten file is inferred again. Directories and
    non-local paths always infer.
    """
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (st.st_mtime_ns, st.st_size, st.st_ino,
           *(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    path = os.path.abspath(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def _events_ts_unit(path: str) -> str:
    """Sniff the parquet footer for the ``ts`` column's timestamp unit.

    Footer-only read: O(KB) no matter the data size, done once on the
    driver before planning the scan. Returns 'ns', 'us', 'ms', or 's'
    ('us' if anything about the footer is surprising).
    """
    try:
        import pyarrow.parquet as pq

        field = pq.ParquetFile(path).schema_arrow.field("ts")
        return getattr(field.type, "unit", "us") or "us"
    except Exception:
        return "us"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_unit(path) != "ns":
        # Native-unit timestamps: Spark's vectorized reader handles
        # micro/milli directly; normalize to ntz for stable plans/hashes.
        df = _read_parquet(spark, path)
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
    # integer `div`, not `/`: double division loses microsecond
    # precision on ~1.7e18 nanosecond values
    return df.withColumn(
        "ts",
        F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))

