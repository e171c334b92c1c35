"""Salted-join equivalence and compaction row-preservation tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from jira_scraper_etl_spark.operators.maintenance import compact_parquet, dir_stats
from jira_scraper_etl_spark.operators.skew import salted_join


def test_salted_join_identical_to_plain(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .withColumnRenamed("o_custkey", "custkey")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .withColumnRenamed("c_custkey", "custkey")
    plain = orders.join(customer, "custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "custkey", salt=4) \
        .select("o_orderkey", "c_name")
    assert salted.count() == plain.count()
    assert salted.subtract(plain).count() == 0
    assert plain.subtract(salted).count() == 0


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must occupy every salt bucket on the big side —
    the property that splits its shuffle partition S ways."""
    hot = spark.range(0, 10000).select(F.lit(1).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(1, "x")], "k int, v string")
    out = salted_join(hot, dim, "k", salt=4)
    assert out.count() == 10000
    salts = (hot.withColumn("_salt", F.pmod(F.monotonically_increasing_id(),
                                            F.lit(4)))
             .select("_salt").distinct().count())
    assert salts == 4


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = str(tmp_path / "frag")
    src.repartition(24).write.parquet(d)  # fragment into many small files
    n_before, _ = dir_stats(d)
    assert n_before >= 24
    want = spark.read.parquet(d).count()
    stats = compact_parquet(spark, d, target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1
    assert spark.read.parquet(d).count() == want


def test_salted_band_self_join_matches_unsalted(spark, sf_dir):
    """join_skewed_peers_1h row-equals the unsalted band join, and its
    physical join keys on the hour bucket: with (event_type, hour) as
    the equi-key the band predicate only examines peers in two hour
    buckets, so the join stays linear. The plan may broadcast or
    shuffle; which one depends on the scale, not on correctness."""
    import re

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.catalog import load_events

    out = plans.QUERIES["join_skewed_peers_1h"].fn(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join = re.search(r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
                     r" \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert join, plan
    left, right = ({re.sub(r"#\d+L?$", "", k.strip()) for k in side.split(",")}
                   for side in join.groups())
    assert {"event_type", "hb"} <= left, (left, plan)
    assert {"peer_type", "phb"} <= right, (right, plan)

    ev = load_events(spark, sf_dir)
    a = ev.select("event_id", "event_type", "ts")
    b = ev.select(F.col("event_id").alias("peer_id"),
                  F.col("event_type").alias("peer_type"),
                  F.col("ts").alias("peer_ts"),
                  F.col("value").alias("peer_value"))
    unsalted = (a.join(b, (F.col("peer_type") == F.col("event_type"))
                       & (F.col("peer_id") != F.col("event_id"))
                       & (F.col("peer_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
                       & (F.col("peer_ts") <= F.col("ts")), "left")
                .groupBy("event_id", "event_type")
                .agg(F.count("peer_id").cast("long").alias("n_recent_peers"),
                     F.max("peer_value").alias("max_peer_value")))
    assert out.count() == unsalted.count()
    assert out.subtract(unsalted).count() == 0
    assert unsalted.subtract(out).count() == 0


def test_hotkey_isolated_join_parity_and_hot_set(spark, sf_dir):
    """hotkey_salted_join: result row-identical to the plain join, and
    at hot_fraction=0.25 exactly the dominant 'en' key takes the salted
    branch (the cold tail joins unsalted, unreplicated)."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.functions import hashing as H

    out = plans.QUERIES["join_hotkey_isolated_lang"].fn(spark, sf_dir)
    d = (load_table(spark, sf_dir, "documents")
         .where(F.col("text").isNotNull())
         .select("doc_id", "lang",
                 F.size(H.word_tokens(F.col("text"))).alias("n_tokens")))
    dim = d.groupBy("lang").agg(
        (F.sum("n_tokens").cast("long") / F.count(F.lit(1)))
        .alias("lang_avg_tokens"))
    plain = d.join(dim, "lang").select(
        "doc_id", "lang", "n_tokens", "lang_avg_tokens",
        (F.col("n_tokens") / F.col("lang_avg_tokens")).alias("rel_len"))
    assert out.count() == plain.count()
    assert out.subtract(plain).count() == 0
    assert plain.subtract(out).count() == 0

    total = d.count()
    hot = {r.lang for r in d.groupBy("lang").count()
           .where(F.col("count") > total * 0.25).collect()}
    assert hot == {"en"}, hot


def test_hotkey_salted_join_random_distributions(spark):
    """hotkey_salted_join equals the plain join on seeded random key
    distributions across the interesting shapes: no hot keys, one hot
    key, all keys hot, and keys present on only one side (inner-join
    semantics must drop them identically)."""
    import random

    from jira_scraper_etl_spark.operators.skew import hotkey_salted_join

    for seed, weights in ((1, [1] * 10), (2, [20, 1, 1, 1]), (3, [5, 5])):
        rng = random.Random(seed)
        keys = [f"k{i}" for i in range(len(weights))]
        big_rows = [(rng.choices(keys, weights)[0], i) for i in range(300)]
        big = spark.createDataFrame(big_rows, "k string, v long")
        small_rows = [(k, f"dim-{k}") for k in keys[:-1]]  # last key dimless
        small = spark.createDataFrame(small_rows, "k string, d string")
        out = hotkey_salted_join(big, small, "k", salt=4, hot_fraction=0.3)
        plain = big.join(small, "k")
        assert out.count() == plain.count(), seed
        assert out.subtract(plain).count() == 0, seed
        assert plain.subtract(out).count() == 0, seed
