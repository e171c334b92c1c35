"""The driver runs bench.py as a subprocess and parses its single JSON
stdout line — pin that contract so a refactor can't break the round
recording."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path


def test_bench_emits_single_json_line_on_stdout():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    out = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True,
        cwd=Path(__file__).resolve().parents[1], env=env, timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    assert len(lines) == 1, lines
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_suite_wall_clock"
    assert payload["unit"] == "sec" and payload["value"] > 0
    assert payload["sf"] == 0.001
    assert set(payload["queries"]) >= {
        "q1_pricing_summary", "dedup_minhash_lsh", "dedup_cluster_canonical",
        "text_vocab_topk", "jira_source_scan"}
    assert all(v >= 0 for v in payload["queries"].values())


def test_run_suite_crashes_on_genuine_valueerror(spark):
    """A ValueError from a query is a bug — run_suite must NOT swallow
    it (ADVICE r8: a genuine bug silently dropped from the wall-clock
    total keeps the bench green)."""
    import pytest

    import bench
    from jira_scraper_etl_spark import plans

    q = plans.QUERIES["dedup_jaccard_prefix"]
    orig = q.fn

    def boom(s, d):
        raise ValueError("genuine bug")

    try:
        q.fn = boom
        with pytest.raises(ValueError, match="genuine bug"):
            bench.run_suite(spark, "/root/testdata/sf0.001",
                            ["dedup_jaccard_prefix"])
    finally:
        q.fn = orig


def test_run_suite_names_each_query_job(spark, sf_dir, monkeypatch):
    """run_suite runs each registry entry's build and action under the
    job description <query name>; a seam filled inside the build nests
    its own label, the query's comes back after it, and the caller's
    description and job group are restored at the end."""
    import types

    import bench
    from jira_scraper_etl_spark import plans, seams

    sc = spark.sparkContext
    seen = []
    cls = type(spark.range(1))
    orig_count = cls.count

    def count(self):
        seen.append(("count", sc.getLocalProperty("spark.job.description")))
        return orig_count(self)

    def fake(s, d):
        seen.append(("fn", sc.getLocalProperty("spark.job.description")))
        seams.persist_seam(s.range(5))
        seen.append(("fn", sc.getLocalProperty("spark.job.description")))
        return s.range(3)

    monkeypatch.setattr(cls, "count", count)
    monkeypatch.setattr(bench, "GC_PAUSE", 0.0)
    monkeypatch.setitem(plans.QUERIES, "fake_named_query",
                        types.SimpleNamespace(fn=fake))
    sc.setLocalProperty("spark.jobGroup.id", "outer-group")
    sc.setJobDescription("outer")
    try:
        timings = bench.run_suite(
            spark, sf_dir, ["fake_named_query"], runs=1)
        assert "fake_named_query" in timings
        assert seen == [("fn", "fake_named_query"),
                        ("count", "persist_seam:fake"),
                        ("fn", "fake_named_query"),
                        ("count", "fake_named_query")]
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        seams.release_seams()


def test_every_registry_output_survives_driver_canonicalization(spark, sf_dir):
    """The external correctness harness canonicalizes each query's
    output by pandas-sorting over ALL columns before hashing typed
    values — a bare array/struct/map column materializes as numpy
    arrays/dicts there and dies with 'unhashable type' (the round-3
    embedding_quantize_int8 driver err). Run every registered entry's
    output through those exact steps at sf0.001 so a shape regression
    is caught before any external harness sees it."""
    import pandas as pd

    from jira_scraper_etl_spark import plans

    failures = []
    for name, q in plans.QUERIES.items():
        try:
            pdf = q.fn(spark, sf_dir).toPandas()
            pdf = pdf.sort_values(by=list(pdf.columns))
            if q.oracle is not None:
                # hash compare only runs for oracle-backed entries
                pd.util.hash_pandas_object(pdf, index=False)
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
    assert not failures, failures


def test_force_full_entries_justify_their_noop_path(spark, sf_dir):
    """Every FORCE_FULL_MATERIALIZE entry must (a) be in the headline
    and (b) actually exhibit the count()-elimination that justifies
    timing it through the noop sink: its count plan optimizes to a
    bare scan (no join, no hash pipeline). If a future change makes
    count() stop eliminating, the set is stale and this flags it."""
    import bench
    from jira_scraper_etl_spark import plans

    assert bench.FORCE_FULL_MATERIALIZE <= set(bench.HEADLINE)
    for name in bench.FORCE_FULL_MATERIALIZE:
        df = plans.QUERIES[name].fn(spark, sf_dir)
        p = (df.groupBy().count()._jdf.queryExecution()
             .optimizedPlan().toString())
        assert "Join" not in p, (name, p[:300])


def test_mini_headline_selection():
    """Round-13 verdict #8: at sf >= 1 the bench times the 5-query
    scaling subset once each; below sf 1 (every driver run) the full
    headline suite with median-of-3 is untouched. The mini set must be
    a subset of the headline (no new query names enter the recording
    namespace) and must exclude the noop-timed entries (run_suite's
    FORCE_FULL_MATERIALIZE branch still applies regardless)."""
    import bench

    assert bench.select_headline("0.1") == (bench.HEADLINE, 3)
    assert bench.select_headline("0.001") == (bench.HEADLINE, 3)
    assert bench.select_headline("1") == (bench.MINI_HEADLINE, 1)
    assert bench.select_headline("10") == (bench.MINI_HEADLINE, 1)
    assert bench.select_headline("custom") == (bench.HEADLINE, 3)
    assert set(bench.MINI_HEADLINE) <= set(bench.HEADLINE)


def test_gc_pause_scaled_to_sf():
    """Round-14: the cleaner-drain pause must stay short at the
    contract test's sf0.001 (fits the 420 s budget) and full-length at
    sf0.01+ (0.25 s measured insufficient at sf0.1 — the round-13
    debt disease returned)."""
    import bench

    assert bench.select_gc_pause("0.001") == 0.25
    assert bench.select_gc_pause("0.01") == 1.0
    assert bench.select_gc_pause("0.1") == 1.0
    assert bench.select_gc_pause("1") == 1.0
    assert bench.select_gc_pause("custom") == 1.0


def test_control_queries_pinned_and_in_headline():
    """The churn controls must stay a subset of the headline set (they
    normalize its round-over-round ratios) and keep 3-5 members — the
    band the BASELINE.md protocol calls for."""
    import bench

    assert set(bench.CONTROL_QUERIES) <= set(bench.HEADLINE)
    assert 3 <= len(bench.CONTROL_QUERIES) <= 5
    # controls must not be noop-timed: their trend lines anchor every
    # older BENCH_r*.json, and the timing method must never change
    assert not set(bench.CONTROL_QUERIES) & bench.FORCE_FULL_MATERIALIZE


def test_churn_normalization_separates_box_churn_from_regression():
    """Round-12 verdict #6: a UNIFORM slowdown (box churn) must
    normalize to ~1.0 with no regressions flagged; a single-query
    slowdown on a quiet box must be flagged with its true ratio."""
    import bench

    prev = {q: 1.0 for q in bench.CONTROL_QUERIES}
    prev.update({"dedup_minhash_lsh": 2.0, "embedding_kmeans_exact": 2.0})

    # (a) everything 1.25x slower — pure churn
    churn = {q: v * 1.25 for q, v in prev.items()}
    r = bench.churn_normalized_ratios(churn, prev)
    assert r["control_ratio"] == 1.25
    assert abs(r["shared_ratio_normalized"] - 1.0) < 1e-9
    assert r["regressions"] == {}

    # (b) one query 2x slower, controls flat — genuine regression
    reg = dict(prev)
    reg["dedup_minhash_lsh"] = 4.0
    r = bench.churn_normalized_ratios(reg, prev)
    assert r["control_ratio"] == 1.0
    assert r["regressions"] == {"dedup_minhash_lsh": 2.0}

    # (c) regression UNDER box churn: 1.2x churn everywhere plus a real
    # 2x on one query — still separable after normalization
    both = {q: v * 1.2 for q, v in prev.items()}
    both["dedup_minhash_lsh"] = prev["dedup_minhash_lsh"] * 1.2 * 2
    r = bench.churn_normalized_ratios(both, prev)
    assert abs(r["control_ratio"] - 1.2) < 1e-9
    assert list(r["regressions"]) == ["dedup_minhash_lsh"]
    assert abs(r["regressions"]["dedup_minhash_lsh"] - 2.0) < 0.01

    # (d) tiny-query jitter below the absolute bar is NOT flagged
    tiny_prev = {q: 1.0 for q in bench.CONTROL_QUERIES}
    tiny_prev["layout_compaction_bins"] = 0.1
    tiny_cur = dict(tiny_prev)
    tiny_cur["layout_compaction_bins"] = 0.25  # 2.5x but +0.15s only
    r = bench.churn_normalized_ratios(tiny_cur, tiny_prev)
    assert r["regressions"] == {}

    # (e) fewer than 3 shared controls -> no basis, empty dict
    assert bench.churn_normalized_ratios({"a": 1.0}, {"a": 1.0}) == {}


def test_latest_recorded_bench_picks_newest_round(tmp_path):
    import json as J

    import bench

    # driver-wrapped shape (the real recording) and a bare bench line
    (tmp_path / "BENCH_r02.json").write_text(
        J.dumps({"queries": {"a": 1.0}, "sf": 0.1}))
    (tmp_path / "BENCH_r11.json").write_text(
        J.dumps({"parsed": {"queries": {"a": 2.0}, "sf": 0.1}}))
    rnd, sf, qs = bench.latest_recorded_bench(str(tmp_path))
    assert rnd == 11 and sf == 0.1 and qs == {"a": 2.0}
    assert bench.latest_recorded_bench(str(tmp_path / "nope")) is None
