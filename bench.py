"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

from jira_scraper_etl_spark import plans
from jira_scraper_etl_spark.seams import named_job, release_seams
from jira_scraper_etl_spark.session import get_spark

# Headline set: one per operator family — agg, join, window, event-time,
# dedup-sketch, similarity, text analysis, iterative clustering,
# top-k aggregation, the custom-source scan path, the salted skew join,
# and the composed curation flagship (the realistic customer workload:
# quality filter → span dedup → hash split → corpus accounting).
HEADLINE = [
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "window_top3_orders_per_customer",
    "events_session_30m",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "text_quality_score",
    "dedup_cluster_canonical",
    "text_vocab_topk",
    "jira_source_scan",
    "dedup_span_exact",
    "text_corpus_freq_score",
    "join_skewed_events_by_type",
    "join_skewed_peers_1h",
    "curate_corpus_v2",
    "mm_byte_stats",
    "decontaminate_hashed",
    "curate_corpus_v3",
    "text_tfidf_topk",
    "mm_dedup_phash",
    "dedup_jaccard_prefix",
    "bpe_learn_merges",
    # round-4 flagships (warehouse maintenance, stateful journey,
    # iterative clustering, robust outlier stats) — benched from
    # round 6 so their families carry trend lines
    "events_user_journey",
    "dq_profile_orders",
    "embedding_kmeans_exact",
    "events_anomaly_mad",
    # round-7 additions (layout planning, distribution profiling,
    # transition-level LM scoring)
    "layout_compaction_bins",
    "dq_histogram_totalprice",
    "text_bigram_novelty",
    # round-8 additions: the warehouse/CDC family had no trend line
    # (merge-upsert, SCD2 history, snapshot diff), plus the widest join
    # tree in the suite (TPC-H Q5) and the map-only winnowing pass
    "merge_upsert_customer_balance",
    "events_scd2_history",
    "snapshot_diff_customers",
    "q5_local_supplier_volume",
    "text_winnow_fingerprints",
    "customer_rfm_segments",
    # round-9 additions: the ANN path is the 100 TB similarity story —
    # wall-clock-track it across decades (derived-parameter sign-LSH
    # search + random-projection embedding near-dup), plus the
    # correlated-subquery flagship (Catalyst decorrelation)
    "similarity_ann_signlsh",
    "dedup_embedding_cosine_rp",
    "q17_small_qty_revenue",
    # round-10 addition: the xxhash64 winnowing twin is the named
    # 100 TB fingerprinting path — trend-line it alongside the md5
    # oracle anchor (32.9 s vs 55.8 s at the sf10 decade)
    "text_winnow_fingerprints_fast",
    # round-11 additions: the hardest TPC-H decorrelation class (Q21:
    # EXISTS + NOT EXISTS both correlated on lineitem) and the
    # compressed-payload decode path (PNG inflate + unfilter over
    # Arrow batches)
    "q21_suppliers_kept_waiting",
    "mm_png_pixel_stats",
    # round-11 second batch: the 22-query TPC-H suite is complete —
    # trend-line its widest join tree (Q8: 8 relations, two nation
    # branches, conditional share aggregate)
    "q8_national_market_share",
    # round-11 third batch: the two new LLM-pipeline flagships —
    # SemDeDup (k-adaptive integer Lloyd + within-cluster dominance
    # prune) and tokenizer application (per-doc BPE token counts via
    # the vocabulary join, the corpus-free encode path)
    "dedup_semantic_semdedup",
    "text_bpe_encode_stats",
    # round-12 additions: the O(n) per-row dedup VERDICT forms — the
    # production output shape at 100 TB (pair listings grow ~n² on
    # pair-dense corpora); trend-line both families' verdict paths
    "dedup_embedding_rp_verdict",
    "dedup_minhash_verdict",
    # round-13 addition: the baseline-JPEG entropy decode (Huffman +
    # integer IDCT over Arrow batches) — the multimodal family's last
    # decode caveat, closed; trend-line it beside the PNG inflate path
    "mm_jpeg_pixel_stats",
    # round-13 third batch: ExactSubstr-style duplicated-substring
    # coverage — stride-1 window hashing is the family's highest
    # site-volume plan (O(total tokens) rows through one keyed
    # shuffle), so trend-line it beside the span/minhash dedups
    "dedup_substring_exact",
    # round-13 third batch: the FineWeb-style composed verdict — the
    # curation family's staged flagship (language -> quality -> C4 ->
    # repetition -> dedup election in ONE seam-shared plan)
    "curate_fineweb_keep",
]

# Scaling mini-headline (round-13 verdict #8): at sf0.1 the suite is
# scheduler/overhead-bound (8-vs-32-core ratios cluster at ~1, several
# below), so the driver's scaling block measures task-launch overhead,
# not the plans. When $SPARK_GRAFT_SF_DIR points at an sf >= 1
# directory (e.g. the tools/make_sf.py output), bench.py times this
# 5-query heavy subset with runs=1 instead of the 49-query suite —
# per-query work there is seconds of genuine compute, so core-count
# ratios reflect plan parallelism (mm_jpeg sf1: 13.8 s single-task
# before the round-13 fan-out, 1.7 s after — visible only at sf >= 1).
# The JSON contract is unchanged (same shape, same sf tagging); the
# sf0.1 recordings the round comparisons use are untouched because the
# switch never triggers below sf 1.
MINI_HEADLINE = [
    "mm_jpeg_pixel_stats",        # Python-boundary Arrow decode fan-out
    "curate_fineweb_keep",        # composed curation flagship
    "dedup_substring_exact",      # O(total tokens) keyed-shuffle family
    "text_winnow_fingerprints",   # md5-per-char map-only (pure scan CPU)
    "dedup_minhash_lsh",          # seam + banded join + verify
]

# Queries whose ``count()`` plan Catalyst can optimize down to a bare
# scan: the verdict entries end in a LEFT join against an aggregate
# with a provably-unique key, and count-only consumption eliminates
# the join AND the whole candidate/verify pipeline behind it (verified
# via optimizedPlan: `Aggregate <- Project <- Relation`). These are
# timed through the noop sink, which materializes every row JVM-side —
# the measurement the entry actually claims. count()-timed queries are
# untouched, preserving cross-round trend lines.
FORCE_FULL_MATERIALIZE = {
    "dedup_embedding_rp_verdict",
    "dedup_minhash_verdict",
    # same shape: ends in a LEFT join against a doc_id-unique
    # aggregate, so count() prunes the whole window/coverage pipeline
    "dedup_substring_exact",
    # round-14 measurement fix (declared in OPTIMIZATION_r14.md): the
    # old join-back shape's count() collapsed to a BARE FILTERED SCAN
    # (no shingles, no joins — the recorded 0.36-0.51 s bench rows
    # measured a row count, which is also why its sf1 noop sweep
    # looked "23x super-linear" vs the bench). The round-14 single-agg
    # shape made count() honest for the gram pass but still prunes the
    # two broadcast membership probes; noop times the full claim.
    "decontaminate_hashed",
}
# (curate_fineweb_keep stays count()-timed: its base->election join is
# INNER, which Catalyst cannot prune for count — verified by the
# contract test — so count() measures the real pipeline.)

# Churn controls (round-12 verdict #6): queries pinned as the box-noise
# reference for round-over-round comparison. Criteria: in the suite
# since round 1, plan untouched for many rounds, and spanning distinct
# plan shapes (scan+agg, multi-join, window, event-time session, and a
# map-only text pass) so cache churn that hits one shape still shows.
# The BASELINE.md churn protocol in code: a whole-run slowdown that
# moves the controls too is box churn, not a regression — so shared-
# query ratios are reported both raw and normalized by the controls'
# median movement.
CONTROL_QUERIES = [
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "window_top3_orders_per_customer",
    "events_session_30m",
    "text_quality_score",
]

# A query only counts as a machine-flagged regression when its
# control-normalized ratio clears BOTH a relative and an absolute bar —
# single-query swing is ±30% on this box and sub-0.3 s queries move by
# scheduler jitter alone.
REGRESSION_RATIO = 1.5
REGRESSION_ABS_SEC = 0.3


def latest_recorded_bench(bench_dir: str) -> tuple[int, float | str, dict] | None:
    """The newest driver-recorded BENCH_r{N}.json — (round, sf,
    per-query timings) — or None before round 1. The driver wraps the
    bench JSON line under a ``parsed`` key; a bare bench.py output file
    is accepted too."""
    best = None
    for path in glob.glob(os.path.join(bench_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            try:
                doc = json.load(open(path))
            except (OSError, ValueError):
                continue
            inner = doc.get("parsed", doc)
            qs = inner.get("queries")
            if qs:
                best = (rnd, inner.get("sf"), qs)
    return best


def churn_normalized_ratios(current: dict[str, float],
                            previous: dict[str, float]) -> dict:
    """Round-over-round comparison, normalized by the pinned controls.

    ``control_ratio`` is the MEDIAN current/previous ratio over the
    control queries — the box-churn estimate (a uniform 1.2× page-cache
    slowdown moves every control by ~1.2×; a genuine single-query
    regression moves none of them). ``shared_ratio_raw`` is the plain
    shared-query wall-clock ratio; ``shared_ratio_normalized`` divides
    out the control movement — the number a regression claim should be
    judged on. ``regressions`` lists shared queries whose NORMALIZED
    per-query ratio clears REGRESSION_RATIO with an absolute normalized
    slowdown past REGRESSION_ABS_SEC. Returns {} when fewer than 3
    controls are shared (no normalization basis — e.g. a renamed
    suite)."""
    shared = [q for q in current if q in previous and previous[q] > 0]
    controls = [q for q in CONTROL_QUERIES if q in shared]
    if len(controls) < 3:
        return {}
    control_ratio = statistics.median(
        current[q] / previous[q] for q in controls)
    prev_sum = sum(previous[q] for q in shared)
    raw = sum(current[q] for q in shared) / prev_sum
    regressions = {}
    for q in shared:
        norm = current[q] / previous[q] / control_ratio
        if (norm > REGRESSION_RATIO
                and current[q] - previous[q] * control_ratio
                > REGRESSION_ABS_SEC):
            regressions[q] = round(norm, 3)
    return {
        "control_ratio": round(control_ratio, 4),
        "shared_ratio_raw": round(raw, 4),
        "shared_ratio_normalized": round(raw / control_ratio, 4),
        "n_shared": len(shared),
        "regressions": regressions,
    }


# Drain-pause seconds per gc() call; main() scales it to the scale
# factor with select_gc_pause below (the ContextCleaner debt a query
# leaves behind grows with data size).
GC_PAUSE = 1.0


def select_gc_pause(sf: str) -> float:
    """How long gc_quiesce sleeps after each System.gc(). Round-14
    calibration: at sf0.1 a 0.25 s drain is NOT enough — the suite
    reproduced the round-13 disease (bpe 7.0 s, dq_profile 6.8 s,
    every query after position ~22 absorbing 3-12x debt; total 109 s),
    and restoring 1.0 s cleaned it in the same session (total 47.4 s,
    bpe 1.85 s). At sf0.001 the per-query debt is tiny (the suite ran
    clean there in every round BEFORE gc_quiesce existed), so the
    contract test's 49-query run keeps the short pause and stays well
    inside its 420 s budget."""
    try:
        return 1.0 if float(sf) >= 0.01 else 0.25
    except ValueError:
        return 1.0


def gc_quiesce(spark, pause: float | None = None) -> None:
    """Drain the driver JVM's garbage + ContextCleaner backlog OUTSIDE
    any timed region (round-13 measurement-isolation fix, guide §1).

    In one long-lived local-mode session, every query leaves shuffle
    files, broadcast blocks and hash-relation garbage behind; Spark's
    ContextCleaner only reclaims them when a GC finally collects the
    owning references — which, mid-suite, happens DURING some later
    query's jobs and is charged to it. Measured at sf0.1: the 21
    queries before ``bpe_learn_merges`` inflate it 1.6→13.4 s (the
    job-heavy iterative entries absorb the whole backlog; their
    single-session isolated times are unchanged), and a forced
    System.gc() + drain pause between queries restores 1.6–2.0 s.
    Two gc() calls because the first enqueues the weak references and
    the second collects what the cleaner's own work released.

    Round-14: the pause is SF-scaled (select_gc_pause) instead of a
    flat 1.0 s. The round-13 verdict suggested capping it at ~0.25 s
    to fit the 420 s contract-test budget; measured at sf0.1 that is
    NOT enough drain (the disease returned: 109 s suite, dq_profile
    6.8 s) while at the contract test's sf0.001 the debt is tiny and
    0.25 s is plenty — so the short pause applies exactly where the
    budget matters and the full drain where the debt lives."""
    if pause is None:
        pause = GC_PAUSE
    try:
        for _ in range(2):
            spark._jvm.System.gc()
            time.sleep(pause)
    except Exception:
        pass  # non-JVM test double — isolation is best-effort


def run_suite(spark, sf_dir: str, headline: list[str],
              runs: int = 3) -> dict[str, float]:
    """Measure each headline query (median-of-``runs``, default 3:
    single measurements swing ~30% run-to-run on a shared machine —
    BENCH_r02→r03 showed a 1.45× driver-to-driver swing on unchanged
    queries; the median is robust to one outlier without the minimum's
    bias. The decade probes pass runs=1 at sf100, where a third run of
    a 10-minute query buys noise rejection the scaling curve doesn't
    need — super-linearity shows up as multiples, not percents). An
    exception from a query is a genuine failure and crashes the run
    (ADVICE r8).

    Between queries, persist seams are reclaimed via
    ``seams.release_seams()`` — targeted to the frames the operators
    registered, so (unlike the ``spark.catalog.clearCache()`` this
    replaces, ADVICE r9) embedding run_suite in a larger session does
    NOT drop caller-owned caches or warm fixtures."""
    timings: dict[str, float] = {}
    for name in headline:
        fn = plans.QUERIES[name].fn
        measured, n = [], 0
        for _ in range(runs):
            t0 = time.perf_counter()
            # every job of the build and the action says which query
            # ran (seam fills nest their own label inside this one)
            with named_job(spark, name):
                df = fn(spark, sf_dir)
                if name in FORCE_FULL_MATERIALIZE:
                    df.write.format("noop").mode("overwrite").save()
                    n = df.count()  # cheap: the count plan IS the scan
                else:
                    n = df.count()
            measured.append(time.perf_counter() - t0)
        srt = sorted(measured)
        mid = len(srt) // 2
        # true median: average the two middle elements for even run
        # counts (ADVICE r11 — upper-middle alone reports the slower
        # of two runs when runs=2).
        med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
        dt = round(med, 3)
        timings[name] = dt
        print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        # each fn() call builds FRESH DataFrames, so persist seams
        # (minhash shingles, RP keys, …) accumulate three copies per
        # query plus one per warm run (ADVICE r8) — drop them before
        # the next query so a 39-query suite doesn't hoard memory.
        release_seams()
        # measurement isolation (round-13): reclaim this query's
        # shuffle/broadcast garbage NOW, between timed regions, so the
        # next query's jobs don't pay for it (see gc_quiesce).
        gc_quiesce(spark)
    return timings


def select_headline(sf: str) -> tuple[list[str], int]:
    """Which suite a bench invocation times: the full headline
    (median-of-3) below sf 1, the 5-query MINI_HEADLINE (runs=1) at
    sf >= 1 — see the MINI_HEADLINE comment. Non-numeric sf strings
    (custom dirs) get the full suite."""
    try:
        big = float(sf) >= 1
    except ValueError:
        big = False
    return (MINI_HEADLINE, 1) if big else (HEADLINE, 3)


def main() -> int:
    global GC_PAUSE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    headline, runs = select_headline(sf)
    big_sf = headline is MINI_HEADLINE
    GC_PAUSE = select_gc_pause(sf)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm each query's whole-stage-codegen path at the smallest SF so
    # per-query numbers measure steady-state engine throughput, not
    # first-run JIT/codegen compilation (which dominates at test scale:
    # the MinHash pipeline is 9.5s cold vs 3.8s warm at sf0.1).
    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        try:
            plans.QUERIES[name].fn(spark, warm_dir).count()
        except Exception:
            plans.QUERIES["q1_pricing_summary"].fn(spark, sf_dir).collect()
        release_seams()
    # drain the warmup's accumulated garbage before the first timed run
    gc_quiesce(spark)

    timings = run_suite(spark, sf_dir, headline, runs=runs)
    out = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if big_sf:
        out["mini_headline"] = True  # 5-query scaling subset, runs=1
    prev = latest_recorded_bench(os.path.dirname(os.path.abspath(__file__)))
    # ratios are only meaningful against a recording at the SAME scale
    # factor (the driver records sf0.1; a local sf0.001 smoke run would
    # otherwise "improve" every query 10x)
    if prev is not None and prev[1] == out["sf"]:
        ratios = churn_normalized_ratios(timings, prev[2])
        if ratios:
            out["vs_round"] = prev[0]
            out.update(ratios)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
