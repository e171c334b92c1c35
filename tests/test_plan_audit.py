"""The plan audit's violation rules must actually fire — a waiver list
that silently allows everything is worse than none. Synthetic cases
drive tools/plan_audit.py's detection (cartesian plans, budget
overruns, stale waivers, row-Python) without a full registry sweep."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import plan_audit as PA  # noqa: E402
from jira_scraper_etl_spark import plans  # noqa: E402


def test_audit_one_detects_cartesian(spark):
    """A deliberately-cartesian plan must show nested_loop >= 1 in the
    extracted features — the detector the waiver budgets gate."""
    a = spark.range(10).withColumnRenamed("id", "x")
    b = spark.range(10).withColumnRenamed("id", "y")
    feats = PA.audit_one(spark, "synthetic", lambda s, d: a.crossJoin(b),
                         "/root/testdata/sf0.001")
    assert feats["nested_loop"] >= 1


def test_audit_one_counts_and_releases_seams(spark):
    """An entry that fills seams inside fn() shows them in its ``seams``
    feature and is flagged PARTIAL (its shuffles before the seams are
    not in the returned plan); the audit releases them afterwards."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.seams import (checkpoint_seam, outstanding,
                                              persist_seam)

    def grouped(s, d):
        return s.range(100).groupBy((F.col("id") % 7).alias("k")).count()

    def seamed(s, d):
        return persist_seam(checkpoint_seam(grouped(s, d))).select("k")

    before = outstanding()
    feats = PA.audit_one(spark, "synthetic_seamed", seamed,
                         "/root/testdata/sf0.001")
    assert feats["seams"] == 2
    assert feats["exchanges"] == 0  # the groupBy shuffle ran before the plan
    assert outstanding() == before
    flags, violations = PA.check_features("synthetic_seamed", feats)
    assert flags == ["PARTIAL"] and not violations

    plain = PA.audit_one(spark, "synthetic_plain", grouped,
                         "/root/testdata/sf0.001")
    assert plain["seams"] == 0 and plain["exchanges"] >= 1
    assert PA.check_features("synthetic_plain", plain) == ([], [])


def test_audit_one_counts_a_seam_read_twice_once(spark, sf_dir):
    """The executed-plan string prints a persisted seam's cached plan
    under every read of it; the audit counts that subtree once, so a
    second read adds no exchanges or scans that never ran."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.seams import persist_seam

    def seam(s):
        return persist_seam(
            s.range(100).groupBy((F.col("id") % 7).alias("k")).count())

    def read_twice(s, d):
        t = seam(s)
        return t.unionByName(t)

    once = PA.audit_one(spark, "synthetic_once", lambda s, d: seam(s),
                        sf_dir)
    twice = PA.audit_one(spark, "synthetic_twice", read_twice, sf_dir)
    assert once["exchanges"] == 1
    assert twice["exchanges"] == once["exchanges"]
    assert twice["scans"] == once["scans"]
    assert twice["seams"] == once["seams"] == 1


def test_unwaived_nested_loop_is_a_violation():
    feats = {"nested_loop": 1, "py_eval": 0}
    flags, violations = PA.check_features("not_on_any_list", feats)
    assert "UNEXPECTED-NESTED-LOOP" in flags
    assert violations and "no waiver" in violations[0]


def test_waived_query_cannot_exceed_its_budget():
    """The hole the flat allowlist had: a query waived for its 1-row
    calibration join must still flag when a SECOND nested loop
    appears."""
    name = "embedding_quantize_int8"  # tiny-build, budget 1
    tag, budget = PA.ALLOWED_NESTED_LOOP[name]
    assert tag == "tiny-build" and budget == 1
    ok_flags, ok_viol = PA.check_features(name, {"nested_loop": 1,
                                                 "py_eval": 0})
    assert not ok_flags and not ok_viol
    bad_flags, bad_viol = PA.check_features(name, {"nested_loop": 2,
                                                   "py_eval": 0})
    assert "UNEXPECTED-NESTED-LOOP" in bad_flags
    assert "exceeds waiver budget 1" in bad_viol[0]
    assert "tiny-build" in bad_viol[0]


def test_row_python_outside_allowlist_is_a_violation():
    flags, violations = PA.check_features("some_query",
                                          {"nested_loop": 0, "py_eval": 1})
    assert "ROW-PYTHON-UDF" in flags and violations
    flags, violations = PA.check_features("jira_qa_pairs_udtf",
                                          {"nested_loop": 0, "py_eval": 1})
    assert not flags and not violations


def test_hof_scan_filter_detected_and_flagged(spark):
    """The round-8 straggler class: a filter on a HOF-computed column
    gets inlined into the scan's DataFilters (duplicate serialized
    work). Both the extraction (a synthetic plan built exactly that
    way) and the violation rule must fire; the clean formulation —
    filtering the source column — must not."""
    import pyspark.sql.functions as F

    def bad(s, d):
        df = s.read.parquet(f"{d}/documents.parquet")
        toks = df.select(
            "doc_id",
            F.expr("transform(sequence(1, length(text)), i -> md5(text))")
            .alias("ks"))
        return toks.where(F.size("ks") > 3)

    feats = PA.audit_one(spark, "synthetic_bad", bad,
                         "/root/testdata/sf0.001")
    assert feats["hof_scan_filter"] >= 1
    flags, violations = PA.check_features(
        "synthetic_bad", {"nested_loop": 0, "py_eval": 0,
                          "hof_scan_filter": 1})
    assert "HOF-SCAN-FILTER" in flags and violations
    # the selective-gate waiver admits its budget and no more
    name = "curate_pretrain_corpus"
    tag, budget = PA.ALLOWED_HOF_SCAN_FILTER[name]
    assert tag == "selective-gate"
    ok_f, ok_v = PA.check_features(name, {"nested_loop": 0, "py_eval": 0,
                                          "hof_scan_filter": budget})
    assert not ok_f and not ok_v
    bad_f, bad_v = PA.check_features(name, {"nested_loop": 0, "py_eval": 0,
                                            "hof_scan_filter": budget + 1})
    assert "HOF-SCAN-FILTER" in bad_f and "selective-gate" in bad_v[0]

    def good(s, d):
        df = s.read.parquet(f"{d}/documents.parquet")
        return df.where(F.length("text") > 3).select(
            "doc_id",
            F.expr("transform(sequence(1, length(text)), i -> md5(text))")
            .alias("ks"))

    feats = PA.audit_one(spark, "synthetic_good", good,
                         "/root/testdata/sf0.001")
    assert feats["hof_scan_filter"] == 0


def test_every_waiver_names_a_live_registry_entry():
    """Stale-waiver rule, asserted directly against today's registry:
    every allowlisted name must exist and carry a known tag."""
    for name, (tag, budget) in PA.ALLOWED_NESTED_LOOP.items():
        assert name in plans.QUERIES, f"stale waiver: {name}"
        assert tag in ("gated", "tiny-build"), (name, tag)
        assert budget >= 1, (name, budget)
    for name in PA.ALLOWED_ROW_PYTHON:
        assert name in plans.QUERIES, f"stale row-python waiver: {name}"


def test_session_pushdown_detector_flags_the_unsound_shape(spark):
    """The r10 upstream-bug repro — a filter on the naive w.end
    spelling pushed below MergingSessions — must trip the detector;
    the engine's aggregate-bounds spelling and a sound pre-agg source
    filter must not."""
    import datetime

    import pyspark.sql.functions as F

    t0 = datetime.datetime(2024, 1, 1, 21, 11, 36)
    cut = datetime.datetime(2024, 1, 1, 21, 59, 25)
    df = spark.createDataFrame(
        [(1, 100, t0, 1.0)],
        "event_id long, user_id long, ts timestamp_ntz, value double")

    naive = (df.groupBy("user_id",
                        F.session_window("ts", "30 minutes").alias("w"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select("user_id", F.col("w.end").alias("session_end"), "n")
             .where(F.col("session_end") < F.lit(cut)))
    plan = naive._jdf.queryExecution().executedPlan().toString()
    assert PA._session_pushdown_filters(plan) >= 1, plan

    # the engine's immune spelling: bounds as aggregates
    immune = (df.groupBy("user_id",
                         F.session_window("ts", "30 minutes").alias("w"))
              .agg((F.max("ts") + F.expr("INTERVAL 30 MINUTES"))
                   .alias("session_end"),
                   F.count(F.lit(1)).alias("n"))
              .select("user_id", "session_end", "n")
              .where(F.col("session_end") < F.lit(cut)))
    plan = immune._jdf.queryExecution().executedPlan().toString()
    assert PA._session_pushdown_filters(plan) == 0, plan

    # a sound pre-aggregation filter on the SOURCE column is fine
    sound = (df.where(F.col("ts") > F.lit(t0 - datetime.timedelta(days=1)))
             .groupBy("user_id",
                      F.session_window("ts", "30 minutes").alias("w"))
             .agg(F.count(F.lit(1)).alias("n")))
    plan = sound._jdf.queryExecution().executedPlan().toString()
    assert PA._session_pushdown_filters(plan) == 0, plan


def test_session_pushdown_is_an_unwaiverable_violation():
    feats = {"nested_loop": 0, "py_eval": 0, "hof_scan_filter": 0,
             "session_pushdown": 1}
    flags, violations = PA.check_features("any_query_at_all", feats)
    assert "SESSION-WINDOW-PUSHDOWN" in flags
    assert any("fabricates split sessions" in v for v in violations)
