"""Semantic invariants for plans/analysis_ops.py (value-level parity vs
DuckDB is covered by tools/check_oracle.py; these pin the properties the
oracle compare can't express as a hash)."""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans


def test_tfidf_topk_ranking_invariants(spark, sf_dir):
    rows = plans.QUERIES["text_tfidf_topk"].fn(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1)), lang
        assert len(rs) <= 10
        # score is the exact ratio sum_tf·N/df and non-increasing in rank
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert r.df >= 1 and r.sum_tf >= 1 and r.score > 0


def test_pareto_cumulative_share_monotone_to_one(spark, sf_dir):
    rows = sorted(
        plans.QUERIES["pareto_revenue_by_brand"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rk)
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    revs = [r.rev for r in rows]
    assert revs == sorted(revs, reverse=True)
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)
    # exact-decimal cumsum: the last cumulative share is exactly 1.0
    assert shares[-1] == 1.0
    assert abs(sum(revs) - rows[-1].cum_rev) < 1e-6 * rows[-1].cum_rev


def test_yoy_growth_only_across_adjacent_years(spark, sf_dir):
    rows = plans.QUERIES["orders_yoy_growth"].fn(spark, sf_dir).collect()
    seen_growth = 0
    by_key = {(r.priority, r.yr): r for r in rows}
    for r in rows:
        if r.yoy_growth is not None:
            seen_growth += 1
            prev = by_key[(r.priority, r.yr - 1)]  # adjacent year must exist
            assert r.prev_rev == prev.rev
            assert abs(r.yoy_growth - (r.rev - prev.rev) / prev.rev) == 0.0
    assert seen_growth > 0


def test_debounce_keeps_first_event_per_key_and_gaps_exceed_5m(spark, sf_dir):
    out = plans.QUERIES["events_debounce_5m"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    firsts = sum(1 for r in rows if r.gap_us is None)
    n_keys = (out.select("user_id", "event_type").distinct().count())
    # exactly one null-gap (first) event per surviving key
    assert firsts == n_keys
    assert all(r.gap_us > 300_000_000 for r in rows if r.gap_us is not None)
    # debounced output is a subset of the input
    n_events = plans.QUERIES["events_debounce_5m"].fn(spark, sf_dir) \
        .sparkSession.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(rows) <= n_events


def test_phash_clusters_partition_the_corpus(spark, sf_dir):
    df = plans.QUERIES["mm_dedup_phash"].fn(spark, sf_dir)
    rows = df.collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs  # every doc labeled exactly once
    by_sig: dict[str, list] = {}
    for r in rows:
        by_sig.setdefault(r.phash, []).append(r)
    for sig, rs in by_sig.items():
        ids = {r.doc_id for r in rs}
        canon = {r.canonical_id for r in rs}
        sizes = {r.cluster_size for r in rs}
        assert canon == {min(ids)} and sizes == {len(ids)}, sig
        for r in rs:
            assert r.is_dup == (r.doc_id != min(ids))
        # signature prefix agrees with the deterministic media type
        mt = {0: "image", 1: "audio", 2: "video"}
        for r in rs:
            assert sig.startswith(mt[r.doc_id % 3] + "-")
    # the signature space is bounded: 3 media types × 4 levels^4
    assert len(by_sig) <= 3 * 4 ** 4


def test_phash_join_is_broadcast(spark, sf_dir):
    plan = plans.QUERIES["mm_dedup_phash"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cooccurrence_bounds_and_ordering(spark, sf_dir):
    rows = plans.QUERIES["events_type_cooccurrence"].fn(spark, sf_dir).collect()
    assert rows
    types = {t for r in rows for t in (r.type_a, r.type_b)}
    assert len(rows) <= len(types) * (len(types) - 1) // 2
    for r in rows:
        assert r.type_a < r.type_b
        assert 1 <= r.n_co <= min(r.n_a, r.n_b)
        union = r.n_a + r.n_b - r.n_co
        assert r.jaccard == r.n_co / union and 0 < r.jaccard <= 1


def test_incremental_merge_equals_direct_aggregation(spark, sf_dir):
    """Merge-of-partials must equal a single full aggregation — the
    monoid property the nightly-refresh pattern relies on."""
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.registry import dsum

    merged = {tuple(r) for r in
              plans.QUERIES["agg_incremental_merge"].fn(spark, sf_dir).collect()}
    direct = {tuple(r) for r in (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
             dsum("o_totalprice", "total_price"))
        .collect())}
    assert merged == direct and merged


def test_hll_merge_of_partials_equals_direct_sketch(spark, sf_dir):
    """Sketch union must be lossless over sketch state: merging the 8
    shard partials gives the SAME estimate as one direct sketch over
    all rows, and both land inside HLL's error envelope of exact."""
    from jira_scraper_etl_spark.catalog import load_table

    merged = {(r.event_type, r.est_users) for r in
              plans.QUERIES["agg_hll_mergeable"].fn(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events")
    direct = {(r.event_type, r.est)
              for r in e.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id")).alias("est")).collect()}
    assert merged == direct and merged
    exact = {r.event_type: r.n
             for r in e.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for etype, est in merged:
        assert abs(est - exact[etype]) <= max(2, 0.05 * exact[etype])


def test_weighted_sample_decision_is_exact_hash_function(spark, sf_dir):
    """Recompute the keep decision in Python over every doc: the kept
    set must match exactly (pure function of id and weight)."""
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "n_chars").collect()
    want = set()
    for r in docs:
        u = int(hashlib.md5(f"ws:{r.doc_id}".encode()).hexdigest()[:4], 16)
        w = min(r.n_chars, 2000)
        if u * 2000 < w * 65536:
            want.add((r.doc_id, w, u))
    got = {(r.doc_id, r.w, r.u) for r in
           plans.QUERIES["sample_weighted_hash"].fn(spark, sf_dir).collect()}
    assert got == want and want


def test_winsorize_bounds_and_row_preservation(spark, sf_dir):
    out = plans.QUERIES["events_winsorize_p1_p99"].fn(spark, sf_dir)
    rows = out.collect()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(rows) == n_events  # clamp never drops rows
    n_clamped = 0
    for r in rows:
        assert r.lo <= r.value_w <= r.hi
        if r.lo <= r.value <= r.hi:
            assert r.value_w == r.value
        else:
            n_clamped += 1
            assert r.value_w in (r.lo, r.hi)
    # ~2% of rows sit outside [p1, p99] by construction
    assert 0 < n_clamped <= 0.05 * n_events


def test_scd2_ranges_tile_each_users_timeline(spark, sf_dir):
    rows = plans.QUERIES["events_scd2_history"].fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(1 for r in rs if r.valid_to is None) == 1
        assert rs[-1].valid_to is None  # only the latest state is open
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from  # ranges tile, no gaps
            assert a.state != b.state  # consecutive states differ


def _plan(spark, sf_dir, name):
    return plans.QUERIES[name].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_scd2_single_exchange(spark, sf_dir):
    """Both SCD2 windows must share ONE user_id hash exchange — the
    change-filter preserves the partitioning and sort, so a second
    Exchange (or Sort) appearing means the plan regressed."""
    p = _plan(spark, sf_dir, "events_scd2_history")
    assert p.count("Exchange") == 1
    assert p.count("+- Sort") == 1


def test_winsorize_clamp_join_is_broadcast(spark, sf_dir):
    """The per-type bounds table (|types| rows) must join back as a
    broadcast, never shuffling the event stream a second time."""
    p = _plan(spark, sf_dir, "events_winsorize_p1_p99")
    assert "BroadcastHashJoin" in p


def test_tfidf_persisted_seam_feeds_both_consumers(spark, sf_dir):
    """The tokenize→explode→count pipeline is the expensive stage; the
    persisted tf seam must serve BOTH the df aggregation and the
    scoring join (two InMemoryTableScans, zero re-reads of text)."""
    p = _plan(spark, sf_dir, "text_tfidf_topk")
    assert p.count("InMemoryTableScan") == 2
    # WindowGroupLimit: Spark pushes the per-language top-10 below the
    # exchange, which is what keeps the ranking safe in a wide-vocab
    # regime — pin that it stays in the plan
    assert "WindowGroupLimit" in p


def test_winsorize_approx_consistent_with_exact(spark, sf_dir):
    """The sketch-based twin must preserve every row, clamp only
    against its own bounds, and land each bound inside a ±1-percentile
    rank window of the true distribution (approx_percentile's index
    convention differs from the exact plan's floor-based order
    statistic, so exact equality is not the contract — rank proximity
    is)."""
    vals: dict[str, list] = {}
    for r in spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for v in vals.values():
        v.sort()
    out = plans.QUERIES["events_winsorize_approx"].fn(spark, sf_dir)
    rows = out.collect()
    n_events = sum(len(v) for v in vals.values())
    assert len(rows) == n_events
    for r in rows:
        assert r.lo <= r.value_w <= r.hi
        if r.lo <= r.value <= r.hi:
            assert r.value_w == r.value
        v = vals[r.event_type]
        n = len(v)
        assert v[0] <= r.lo <= v[min(n - 1, (2 * (n - 1)) // 100 + 1)]
        assert v[max(0, (98 * (n - 1)) // 100 - 1)] <= r.hi <= v[n - 1]


def test_rolling_distinct_hll_within_envelope_of_exact(spark, sf_dir):
    """The 24h sketch rollup must land inside HLL's error envelope of
    the exact trailing distinct for EVERY hour, and the window must
    never span more than 24 hour-buckets."""
    rows = sorted(
        plans.QUERIES["events_rolling_distinct_hll"].fn(
            spark, sf_dir).collect(), key=lambda r: r.hr)
    assert rows
    per_hour: dict[int, set] = {}
    for r in spark.read.parquet(f"{sf_dir}/events.parquet") \
            .selectExpr("unix_micros(cast(ts as timestamp))"
                        " div 3600000000 as hr", "user_id").collect():
        per_hour.setdefault(r.hr, set()).add(r.user_id)
    hrs = [r.hr for r in rows]
    assert hrs == sorted(set(hrs)) and set(hrs) == set(per_hour)
    for i, r in enumerate(rows):
        window_hrs = [h for h in hrs[max(0, i - 23):i + 1]]
        exact = len(set().union(*(per_hour[h] for h in window_hrs)))
        assert r.n_hours_in_window == len(window_hrs) <= 24
        assert abs(r.est_users_24h - exact) <= max(2, 0.05 * exact), r.hr


def test_pagerank_matches_recompute_from_transition_matrix(spark, sf_dir):
    """Recompute the integer power iteration from the INDEPENDENTLY
    oracle-checked transition matrix and require identical fixed-point
    ranks — plus the structural invariants: node set = distinct event
    types, every rank >= the teleport base, total mass <= SCALE (the
    documented truncation/dangling leak only ever loses mass)."""
    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.plans.event_time import (
        PR_ITERS, PR_SCALE, PR_SHARE)

    tm = plans.QUERIES["events_transition_matrix"].fn(spark, sf_dir).collect()
    types = sorted(r.event_type for r in
                   spark.read.parquet(f"{sf_dir}/events.parquet")
                   .select("event_type").distinct().collect())
    tot: dict[str, int] = {}
    for r in tm:
        tot[r.from_type] = tot.get(r.from_type, 0) + int(r.n)
    edges = [(r.from_type, r.to_type,
              (85 * PR_SHARE * int(r.n)) // (100 * tot[r.from_type]))
             for r in tm]
    nn = len(types)
    base = (15 * PR_SCALE) // (100 * nn)
    rk = {v: PR_SCALE // nn for v in types}
    for _ in range(PR_ITERS):
        nxt = {v: base for v in types}
        for u, w, s in edges:
            nxt[w] += (rk[u] * s) // PR_SHARE
        rk = nxt

    got = plans.QUERIES["events_pagerank_types"].fn(spark, sf_dir).collect()
    assert sorted(r.event_type for r in got) == types
    for r in got:
        assert r.rank_scaled == rk[r.event_type], r.event_type
        assert r.rank_scaled >= base
        assert r.rank_value == r.rank_scaled / PR_SCALE
    assert sum(r.rank_scaled for r in got) <= PR_SCALE


def test_ewma_matches_exact_python_replay(spark, sf_dir):
    """The EWMA entry equals a from-scratch Python fold with the exact
    integer halving recurrence — every scaled bigint and every display
    double — and each value stays inside the running [min, max]
    envelope of its prefix (a smoother never extrapolates)."""
    from decimal import ROUND_HALF_UP, Decimal

    from jira_scraper_etl_spark import plans

    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_id", "ts", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    want: dict[int, tuple[int, float]] = {}
    state: dict[int, int] = {}
    env: dict[int, tuple[int, int]] = {}
    for r in ev:
        v = int(Decimal(str(r.value)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        if r.user_id not in state:
            x = v
            env[r.user_id] = (v, v)
        else:
            s = v + state[r.user_id]
            x = abs(s) // 2 * (1 if s >= 0 else -1)
            lo, hi = env[r.user_id]
            env[r.user_id] = (min(lo, v), max(hi, v))
        state[r.user_id] = x
        want[r.event_id] = (x, x / 100)
        lo, hi = env[r.user_id]
        assert lo - 1 <= x <= hi + 1, r.event_id  # +-1 for truncation

    got = plans.QUERIES["events_ewma_value"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        assert (r.ewma_scaled, r.ewma) == want[r.event_id], r.event_id
