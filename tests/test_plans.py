"""Physical-plan regression tests: the scale-critical properties the
docstrings claim — column pruning into the scan, no cartesian products,
broadcast dims, top-k without a global sort — asserted on the actual
executed plan so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

from jira_scraper_etl_spark import plans


def executed_plan(spark, sf_dir, name: str) -> str:
    df = plans.QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(spark, sf_dir, name: str) -> str:
    df = plans.QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


# Queries whose candidate generation must be keyed joins, never a
# cartesian/broadcast-nested-loop product (the all-pairs ground-truth
# twins are gated and excluded by design).
BUCKETED = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "similarity_ann_signlsh",
    "dedup_cluster_canonical",
    "dedup_incremental_novel",
]


@pytest.mark.parametrize("name", BUCKETED)
def test_no_cartesian_in_bucketed_operators(spark, sf_dir, name):
    plan = executed_plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_column_pruning_reaches_scan(spark, sf_dir):
    """split_train_test consumes only doc_id — the parquet ReadSchema
    must not carry text (the wide column)."""
    plan = executed_plan(spark, sf_dir, "split_train_test")
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines
    assert all("text" not in l for l in scan_lines)
    assert any("doc_id" in l for l in scan_lines)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """The gated ground-truth twin's doc_id/vec_id gate must push into
    the parquet scan, not filter post-scan."""
    plan = executed_plan(spark, sf_dir, "dedup_embedding_cosine_exact")
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,300)" in plan


def test_dims_broadcast_in_star_join(spark, sf_dir):
    plan = executed_plan(spark, sf_dir, "join_revenue_by_nation")
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle the fact


# Entries whose joins are all between base-table scans (filtered or
# not). Catalyst sizes those sides from file statistics, so none of them
# carries a broadcast hint: customer, part and supplier grow with SF
# (GBs at SF100) and a forced broadcast of them OOMs at 100 TB.
SCAN_JOINS = [
    "join_revenue_by_nation",
    "window_top3_orders_per_customer",
    "agg_listagg_rich_customers",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q10_returned_items",
    "q14_promotion_effect",
    "q16_part_supplier_relation",
]


@pytest.mark.parametrize("name", SCAN_JOINS)
def test_customer_is_not_force_broadcast(spark, sf_dir, name):
    """With the size-based threshold disabled (and AQE off, so nothing
    re-plans at runtime) a hinted side would still broadcast: 0
    BroadcastHashJoins proves the entry carries no hint. Under the
    default settings the same small dims do broadcast, from their file
    statistics alone."""
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.enabled":
            spark.conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = executed_plan(spark, sf_dir, name)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert plan.count("BroadcastHashJoin") == 0, name
    assert "SortMergeJoin" in plan, name
    assert executed_plan(spark, sf_dir, name).count("BroadcastHashJoin") >= 1


def test_salted_join_sprays_hot_key(spark, sf_dir):
    """join_skewed_events_by_type must show the salt machinery in its
    physical plan: the small side's explode (replication across salts)
    and a join keyed on (event_type, _salt) — plus row-identity with the
    plain unsalted join."""
    plan = executed_plan(spark, sf_dir, "join_skewed_events_by_type")
    assert "explode" in plan.lower()
    assert "_salt" in plan

    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_events
    from jira_scraper_etl_spark.plans.registry import davg

    out = plans.QUERIES["join_skewed_events_by_type"].fn(spark, sf_dir)
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(davg("value", "type_avg"))
    plain = (ev.join(dim, "event_type")
             .select("event_id", "event_type", "value", "type_avg",
                     (F.col("value") - F.col("type_avg")).alias("value_dev")))
    assert out.count() == plain.count()
    assert out.exceptAll(plain).count() == 0


def test_embedding_decontamination_never_shuffles_corpus(spark, sf_dir):
    """decontaminate_embedding's only exchanges are on the TINY eval
    side (a SinglePartition agg of <20 rows plus its broadcast) — the
    corpus path is scan → map → done, the property that makes it viable
    at 100 TB."""
    plan = executed_plan(spark, sf_dir, "decontaminate_embedding")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row eval array
    # the single shuffle is the eval-side global agg, nothing else
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Exchange hashpartitioning") == 0


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = executed_plan(spark, sf_dir, "topk_expensive_orders")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_scan_agg(spark, sf_dir):
    df = plans.QUERIES["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" is the whole-stage-codegen stage marker in plan strings;
    # both the partial and final aggregate must sit inside codegen
    assert "*(1) HashAggregate" in plan or "*(2) HashAggregate" in plan
    assert "isFinalPlan=true" in plan


def test_packing_window_is_sharded(spark, sf_dir):
    """pack_sequences must partition its running-sum window by shard —
    a global (single-partition) window would serialize the corpus."""
    exec_plan = executed_plan(spark, sf_dir, "pack_sequences")
    win = [l for l in exec_plan.splitlines() if "Window" in l]
    assert win and all("shard" in l for l in win)


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    plan = executed_plan(spark, sf_dir, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan


def test_pivot_has_no_distinct_values_job(spark, sf_dir):
    """events_pivot_type_counts pins the pivot value list, so the plan
    is exactly the two keyed hash aggregations (pre-agg on
    (user_id, event_type), pivotfirst on user_id) — no extra
    distinct-values scan, every exchange hash-keyed and preceded by a
    map-side partial aggregate."""
    plan = executed_plan(spark, sf_dir, "events_pivot_type_counts")
    assert plan.count("Exchange") == 2
    assert plan.count("hashpartitioning") == 2
    assert "partial_count" in plan and "partial_pivotfirst" in plan


def test_ntile_orders_by_unique_tiebreaker(spark, sf_dir):
    """window_ntile_distribution must carry o_orderkey in the window
    sort — ntile at a tie boundary is otherwise nondeterministic."""
    plan = optimized_plan(spark, sf_dir, "window_ntile_distribution")
    win = [l for l in plan.splitlines() if "ntile" in l.lower()]
    assert win and all("o_orderkey" in l for l in win)


def test_pii_redact_is_map_only(spark, sf_dir):
    """The redaction pass must be a pure scan+project — any Exchange
    means a shuffle snuck into a compliance pass that runs over the
    full corpus."""
    plan = executed_plan(spark, sf_dir, "text_pii_redact")
    assert "Exchange" not in plan
    assert "FileScan" in plan


def test_span_dedup_shuffles_are_keyed(spark, sf_dir):
    plan = executed_plan(spark, sf_dir, "dedup_span_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_freq_join_is_keyed(spark, sf_dir):
    plan = executed_plan(spark, sf_dir, "text_corpus_freq_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_election_is_partial_aggregated(spark, sf_dir):
    """The first-occurrence election must be a hash aggregation with a
    map-side partial (shuffle volume O(distinct spans)), not a window
    over the span hash (which funnels every copy of a hot span through
    one reducer)."""
    plan = executed_plan(spark, sf_dir, "dedup_span_exact")
    assert "partial_min" in plan
    assert "Window" not in plan.split("collect_list")[0]


def test_corpus_freq_tokenize_runs_once(spark, sf_dir):
    """Both consumers of the (doc, token) counts — the vocabulary
    aggregation and the scoring join — must read the persisted tf, not
    re-run the tokenize+explode pipeline (Catalyst doesn't reuse the
    exchange across the two subtrees)."""
    plan = executed_plan(spark, sf_dir, "text_corpus_freq_score")
    # (FileScan strings still appear inside the InMemoryRelation's
    # cached-build description; the executed readers are the two
    # InMemoryTableScans.)
    assert plan.count("InMemoryTableScan") >= 2


def test_corpus_v3_char_fold_not_duplicated(spark):
    """The 37-scan char-stat fold must appear exactly ONCE in the
    physical plan: gate predicates pushed back through the map
    projection re-inline it (measured 3x before the dedup-then-gate
    reorder and 4.5x the wall time)."""
    from jira_scraper_etl_spark import plans

    df = plans.QUERIES["curate_corpus_v3"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(array") == 1


def test_rp_lsh_key_join_is_shuffle_join(spark, sf_dir):
    """The RP key-table self-join must stay a shuffle join (merge hint):
    broadcasting would rebuild the hyperplane arithmetic inside the
    driver-side broadcast build, and at real scale the key table is
    never broadcastable."""
    df = plans.QUERIES["dedup_embedding_cosine_rp"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_runtime_bloom_filter_semijoin_reduction_available(spark, sf_dir):
    """At warehouse scale a selective dim predicate should prune the
    fact-side SHUFFLE via Spark's runtime bloom filter (semi-join
    reduction) — the fact rows that cannot join are dropped before the
    exchange, not after. The size thresholds that gate the rewrite
    (10 GB application side by default) are scaled down here so the
    test pins the plan the engine produces at real scale: a
    bloom_filter_agg on the dim side and a might_contain gate on the
    fact scan. The session's own config keeps the feature enabled
    (spark.sql.optimizer.runtime.bloomFilter.enabled)."""
    import pyspark.sql.functions as F

    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        p = spark.read.parquet(f"{sf_dir}/part.parquet") \
            .where(F.col("p_size") < 5)
        j = li.join(p, li.l_partkey == p.p_partkey)
        ex = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in ex
        # and the rewrite does not change results vs the plain join
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = li.join(p, li.l_partkey == p.p_partkey).count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        assert j.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold")


def test_regression_aggregates_match_exact_python_replay(spark, sf_dir):
    """The REGR_* entry equals an exact-integer Python replay with the
    identical IEEE op order — bit-identical doubles, no tolerance."""
    from decimal import ROUND_HALF_UP, Decimal
    from math import sqrt

    from jira_scraper_etl_spark import plans

    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_extendedprice").collect()
    agg: dict[str, list[int]] = {}
    for r in rows:
        xc = int(Decimal(str(r.l_quantity)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        yc = int(Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        a = agg.setdefault(r.l_returnflag, [0, 0, 0, 0, 0, 0])
        a[0] += 1; a[1] += xc; a[2] += yc
        a[3] += xc * xc; a[4] += xc * yc; a[5] += yc * yc
    got = {r.l_returnflag: r for r in
           plans.QUERIES["agg_regression_price_qty"].fn(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for flag, (n, sx, sy, sxx, sxy, syy) in agg.items():
        cov = float(n * sxy - sx * sy)
        varx = float(n * sxx - sx * sx)
        vary = float(n * syy - sy * sy)
        slope = cov / varx
        intercept = (float(sy) / 100.0 - slope * (float(sx) / 100.0)) / float(n)
        r = got[flag]
        assert r.n_obs == n
        assert r.slope == slope, flag
        assert r.intercept == intercept, flag
        assert r.corr_r == cov / sqrt(varx * vary), flag
        assert abs(r.corr_r) <= 1.0


def test_shuffle_partitions_env_validated(monkeypatch):
    """ADVICE r12: a non-numeric or negative SPARK_GRAFT_SHUFFLE_PARTITIONS
    must fail with an error NAMING the variable, before any builder work."""
    import pytest

    from jira_scraper_etl_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        S.get_spark("never-built")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "-4")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        S.get_spark("never-built")


def test_minhash_bands_rows_must_travel_together(spark, sf_dir):
    """ADVICE r12: passing exactly one of bands/rows used to silently
    rederive BOTH, discarding the caller's value — now it raises."""
    import pytest

    from jira_scraper_etl_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="bands and rows together"):
        D.minhash_near_dup_pairs(d, bands=8)
    with pytest.raises(ValueError, match="bands and rows together"):
        D.minhash_near_dup_pairs(d, rows=2)
