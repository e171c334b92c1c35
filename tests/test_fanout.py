"""Regime tests for operators/fanout.fan_out — the conditional exchange
in front of interpreted per-row map stages. Three regimes, each pinned:

* toy input  -> no exchange (single-task pass beats the shuffle)
* mid-size narrow scan -> repartition to defaultParallelism
* warehouse-wide scan  -> no exchange (already >= par splits)
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from jira_scraper_etl_spark.operators.fanout import MIN_FAN_OUT_BYTES, fan_out


def test_toy_input_skips_exchange(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    assert fan_out(d).rdd.getNumPartitions() == d.rdd.getNumPartitions()


def _mid_size_df(spark, tmp_path, n_rows=30000):
    p = str(tmp_path / f"docs_{n_rows}.parquet")
    # md5-derived text so the parquet is incompressible and its size
    # scales with the row count (30000 rows: several MB)
    text = F.concat_ws(" ", *[
        F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{i}")))
        for i in range(10)])
    (spark.range(0, n_rows)
     .select(F.col("id").alias("doc_id"), text.alias("text"))
     .coalesce(1).write.mode("overwrite").parquet(p))
    return spark.read.parquet(p).select("doc_id", "text")


def test_mid_size_narrow_scan_fans_out(spark, tmp_path):
    d = _mid_size_df(spark, tmp_path)
    par = spark.sparkContext.defaultParallelism
    assert d.rdd.getNumPartitions() < par  # single-file narrow scan
    assert fan_out(d).rdd.getNumPartitions() == par


def test_token_projection_sized_scan_fans_out(spark, tmp_path):
    # ~200 KB, the size of the sf0.1 token projections: above the
    # 64 KiB floor, so it fans out like any larger narrow scan
    d = _mid_size_df(spark, tmp_path, n_rows=1200)
    (path,) = d.inputFiles()
    size = os.path.getsize(path.removeprefix("file://"))
    assert 4 * MIN_FAN_OUT_BYTES < size < 400 * 1024
    assert fan_out(d).rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def test_wide_scan_skips_exchange(spark, tmp_path):
    d = _mid_size_df(spark, tmp_path)
    # shrink the split size so the same file counts as a wide scan
    # (estimated size >= defaultParallelism x maxPartitionBytes)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536b")
        out = fan_out(d)
        # same DataFrame object back - no Repartition node added
        assert "Repartition" not in out._jdf.queryExecution() \
            .optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_out_preserves_rows(spark, tmp_path):
    d = _mid_size_df(spark, tmp_path)
    assert fan_out(d).count() == d.count()
