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

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import apply_runtime_confs

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Tables small enough to broadcast at ANY scale factor (bounded-size dims).
BROADCASTABLE = {"region", "nation"}

EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # nanos-as-long (see module doc)
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


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
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_unit(path) != "ns":
        # Native-unit timestamps: Spark's vectorized reader handles
        # micro/milli directly; normalize to ntz for stable plans/hashes.
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    try:
        df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
        # integer `div`, not `/`: double division loses microsecond
        # precision on ~1.7e18 nanosecond values
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    except Exception:
        # Fallback for sessions where the legacy conf is unavailable:
        # arrow-side cast on the driver. Only viable at test scale; the
        # primary path above is the scalable one.
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        import pyarrow as pa

        ts = tbl.column("ts").cast(pa.timestamp("us"))
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
        return spark.createDataFrame(tbl.to_pandas())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

