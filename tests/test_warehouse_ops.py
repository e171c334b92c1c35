"""Semantic invariants for plans/warehouse_ops.py and plans/setsim_ops.py
(value-level parity vs DuckDB is covered by tools/check_oracle.py; these
pin the properties the oracle compare can't express as a hash)."""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans
from jira_scraper_etl_spark.functions import hashing as H


def test_dq_profile_one_row_per_column_with_consistent_counts(spark, sf_dir):
    rows = {r.col_name: r for r in
            plans.QUERIES["dq_profile_orders"].fn(spark, sf_dir).collect()}
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert set(rows) == {"o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice", "o_orderdate", "o_orderpriority"}
    for col, r in rows.items():
        assert r.n_rows == n
        assert 0 <= r.n_nonnull <= n
        assert r.completeness == r.n_nonnull / n
        assert 1 <= r.n_distinct <= r.n_nonnull
        if col in ("o_orderstatus", "o_orderpriority"):
            assert r.min_num is None and r.max_num is None
            assert r.min_str is not None and r.min_str <= r.max_str
        else:
            assert r.min_str is None and r.max_str is None
            assert r.min_num is not None and r.min_num <= r.max_num
    # primary key: every row distinct and present
    pk = rows["o_orderkey"]
    assert pk.n_distinct == pk.n_nonnull == n and pk.completeness == 1.0


def test_merge_upsert_actions_partition_and_balance_arithmetic(spark, sf_dir):
    rows = plans.QUERIES["merge_upsert_customer_balance"].fn(
        spark, sf_dir).collect()
    by_action: dict[str, list] = {}
    for r in rows:
        by_action.setdefault(r.action, []).append(r)
    assert set(by_action) == {"update", "keep", "insert"}
    # the stale snapshot drops every 7th key, so inserts are exactly the
    # source keys ≡ 0 (mod 7); keys never duplicate across actions
    keys = [r.c_custkey for r in rows]
    assert len(keys) == len(set(keys))
    for r in by_action["insert"]:
        assert r.c_custkey % 7 == 0
        assert r.old_bal is None and r.new_bal == r.delta and r.n_orders > 0
    for r in by_action["keep"]:
        assert r.delta is None and r.n_orders == 0
        assert abs(r.new_bal - round(r.old_bal, 2)) < 1e-9
    for r in by_action["update"]:
        assert r.c_custkey % 7 != 0 and r.n_orders > 0
        assert abs(r.new_bal - (round(r.old_bal, 2) + r.delta)) < 1e-6


def test_merge_intervals_disjoint_and_event_conserving(spark, sf_dir):
    rows = plans.QUERIES["events_merge_intervals"].fn(spark, sf_dir).collect()
    per_user_events = {
        r.user_id: r.n for r in
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(per_user_events)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.interval_seq)
        assert [r.interval_seq for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.n_events for r in rs) == per_user_events[uid]
        for r in rs:
            assert r.end_us - r.start_us >= 300_000_000  # ≥ one cover
        for a, b in zip(rs, rs[1:]):
            assert b.start_us > a.end_us  # merged: strictly disjoint


def test_rolling_median_matches_python_recompute(spark, sf_dir):
    rows = plans.QUERIES["window_rolling_median"].fn(spark, sf_dir).collect()
    med = {r.event_id: r for r in rows}
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(rows) == len(ev)
    for uid, rs in by_user.items():
        for i, r in enumerate(rs):
            win = sorted(x.value for x in rs[max(0, i - 4):i + 1])
            n = len(win)
            want = win[n // 2] if n % 2 == 1 else \
                (win[n // 2 - 1] + win[n // 2]) / 2.0
            got = med[r.event_id]
            assert got.n_win == n and got.med == want, (uid, r.event_id)


def test_corr_matrix_agrees_with_builtin_corr(spark, sf_dir):
    rows = plans.QUERIES["stats_corr_matrix"].fn(spark, sf_dir).collect()
    assert len(rows) == 6
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for r in rows:
        assert -1.0 <= r.corr <= 1.0 and r.n == li.count()
        builtin = li.agg(F.corr(r.col_x, r.col_y)).collect()[0][0]
        # built-in corr is order-dependent float; ours is exact-moment —
        # they agree to ~1e-9, not bit-for-bit
        assert abs(r.corr - builtin) < 1e-6, (r.col_x, r.col_y)
    # the exact-moment formulation is DETERMINISTIC: re-evaluating
    # yields bit-identical correlations (built-in corr, order-dependent
    # over co-moments, cannot promise this across partitionings)
    again = {(r.col_x, r.col_y): r.corr for r in
             plans.QUERIES["stats_corr_matrix"].fn(spark, sf_dir).collect()}
    assert again == {(r.col_x, r.col_y): r.corr for r in rows}


def _jaccard_brute_force(spark, sf_dir, tau):
    """All-pairs exact Jaccard ≥ tau over the full corpus (the ground
    truth every dedup_jaccard_prefix regime is measured against)."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
            .where(F.size("sh") > 0))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return {(r.doc_a, r.doc_b): r.jaccard for r in (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (inter.cast("double") / union).alias("jaccard"))
        .where(F.col("jaccard") >= tau).collect())}


def test_jaccard_prefix_equals_brute_force(spark, sf_dir):
    """The whole point of prefix filtering: EXACT results (zero false
    negatives) without the all-pairs join. Compare against brute force
    over the full corpus."""
    rows = plans.QUERIES["dedup_jaccard_prefix"].fn(spark, sf_dir).collect()
    assert rows and all(r.method == "prefix" for r in rows)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    want = _jaccard_brute_force(spark, sf_dir, 0.5)
    assert got == want and want


def test_jaccard_prefix_tau_escalation_rung_is_exact(spark, sf_dir):
    """With a budget that admits the raised-τ rung but not the τ=1/2
    contract rung (sf0.001 pricing: 1926 / 561 / 315 projected
    candidates at τ = 1/2, 2/3, 4/5 — deterministic, fixed testdata +
    xxhash64 keys), the operator must degrade to the EXACT join at
    τ=2/3: the method column says so, and the output equals the
    brute-force all-pairs join thresholded at 2/3 — the prefix lemma's
    zero-false-negative property holds at the escalated threshold, not
    just the contract one."""
    rows = plans.QUERIES["dedup_jaccard_prefix"].fn(
        spark, sf_dir, max_candidates=600).collect()
    assert rows and all(r.method == "prefix_tau=2/3" for r in rows)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    want = _jaccard_brute_force(spark, sf_dir, 2 / 3)
    assert got == want and want


def test_jaccard_prefix_guard_degrades(spark, sf_dir):
    """The candidate-volume guard: with a budget below the corpus's
    projected prefix-bucket candidate volume the operator DEGRADES —
    raised-τ rungs first, then MinHash-banded candidates feeding the
    same exact verify — returning a result whose ``method`` column
    names the regime and whose pairs are a SUBSET of the exact answer
    with exact jaccard values (approximate recall, exact precision)."""
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in
             plans.QUERIES["dedup_jaccard_prefix"].fn(spark, sf_dir)
             .collect()}
    degraded = plans.QUERIES["dedup_jaccard_prefix"].fn(
        spark, sf_dir, max_candidates=1).collect()
    assert degraded and all(r.method == "minhash_lsh" for r in degraded)
    for r in degraded:
        assert exact[(r.doc_a, r.doc_b)] == r.jaccard  # exact precision
    # identical-text dups share full MinHash signatures, hence every
    # band key — banding cannot miss them, so recall on the engineered
    # jaccard=1.0 pairs is total even in the degraded regime
    ones = {p for p, j in exact.items() if j == 1.0}
    assert ones <= {(r.doc_a, r.doc_b) for r in degraded}

    # the default budget admits the test corpus (exactness pinned above)
    assert plans.QUERIES["dedup_jaccard_prefix"].fn(spark, sf_dir).count() >= 0


def test_jaccard_prefix_plan_has_no_cartesian(spark, sf_dir):
    plan = plans.QUERIES["dedup_jaccard_prefix"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlated_subqueries_decorrelate_to_aggregate_joins(spark, sf_dir):
    """The Q17/Q2 flagships run ACTUAL correlated scalar subqueries
    through spark.sql — pin that Catalyst decorrelates them into a
    keyed aggregate + equi-join (the 100 TB shape: two scans of the
    fact, never a per-outer-row re-scan). A regression to a nested
    loop would still produce correct rows at test scale, which is why
    the plan itself is the assertion."""
    import re

    for name, agg_sig in (
            ("q17_small_qty_revenue", r"HashAggregate\(keys=\[l_partkey"),
            ("q2_min_cost_supplier", r"HashAggregate\(keys=\[l_partkey")):
        plan = plans.QUERIES[name].fn(
            spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # the decorrelated per-key aggregate of the inner query exists
        # and feeds an equi-join, i.e. the subquery was rewritten, not
        # re-planned per row (no Subquery/ScalarSubquery node survives
        # into the executed plan's join condition)
        assert re.search(agg_sig, plan), name


def test_lateral_limit_decorrelates_to_window_group_limit(spark, sf_dir):
    """The LATERAL (ORDER BY ... LIMIT 3) subquery must plan as
    WindowGroupLimit — each map task forwards at most k rows per group
    BEFORE the shuffle (the top-k analog of map-side combine) — plus a
    row_number filter and an equi-join, never a per-nation re-sort or
    nested loop."""
    plan = plans.QUERIES["lateral_topk_customers_per_nation"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_matches_python_replay_and_guarantee(spark, sf_dir):
    """Winnowing vs a plain-Python replay of the paper's algorithm
    (hash every k-gram, per window of w keep the minimal hash with
    rightmost tie-break, dedup), plus the density/coverage guarantee:
    every window of w consecutive gram positions contains at least one
    SELECTED position — the property that makes any match of length
    ≥ w + k − 1 detectable."""
    import hashlib

    from jira_scraper_etl_spark.plans.setsim_ops import WINNOW_K, WINNOW_W

    out = plans.QUERIES["text_winnow_fingerprints"].fn(spark, sf_dir)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    n_checked = 0
    for d in docs:
        n = len(d.text) - WINNOW_K + 1
        if n < WINNOW_W:
            assert d.doc_id not in got
            continue
        hs = [hashlib.md5(d.text[i:i + WINNOW_K].encode()).hexdigest()
              for i in range(n)]
        want = set()
        for j in range(n - WINNOW_W + 1):
            best = j
            for p in range(j, j + WINNOW_W):
                if hs[p] <= hs[best]:  # <= : rightmost minimal
                    best = p
            want.add((best + 1, hs[best][:16]))  # 1-based positions
        assert got.get(d.doc_id) == want, d.doc_id
        sel_pos = sorted(p for p, _ in want)
        for a, b in zip(sel_pos, sel_pos[1:]):
            assert b - a <= WINNOW_W  # coverage: no unselected window
        n_checked += 1
    assert n_checked > 0


def test_q18_semi_join_and_threshold(spark, sf_dir):
    """Q18: every returned order's total quantity exceeds the
    threshold, the set equals the brute-force qualifying set (up to the
    LIMIT), and the plan uses a LEFT SEMI join for the IN subquery with
    a TakeOrdered top-k (no global sort)."""
    from jira_scraper_etl_spark.plans.warehouse_ops import Q18_QTY

    out = plans.QUERIES["q18_large_volume_customers"].fn(spark, sf_dir)
    rows = out.collect()
    assert all(r.total_qty > Q18_QTY for r in rows)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = {r.l_orderkey for r in
            li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
            .where(F.col("q") > Q18_QTY).collect()}
    got = {r.o_orderkey for r in rows}
    assert got <= want
    assert len(rows) == min(100, len(want))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_plan_broadcasts_dims_only(spark, sf_dir):
    """Q5: nation/region broadcast; the same-nation condition rides the
    supplier join (no post-join cartesian residue); date pushes to the
    orders scan."""
    df = plans.QUERIES["q5_local_supplier_volume"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "GreaterThanOrEqual" in l
               for l in scans)


def test_count_of_counts_conserves_tokens_and_vocab(spark, sf_dir):
    rows = sorted(
        plans.QUERIES["ngram_count_of_counts"].fn(spark, sf_dir).collect(),
        key=lambda r: r.r)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total_toks = docs.select(
        F.explode(H.word_tokens(F.col("text"))).alias("t")).count()
    vocab = docs.select(
        F.explode(H.word_tokens(F.col("text"))).alias("t")) \
        .select("t").distinct().count()
    assert sum(r.r * r.n_tokens for r in rows) == total_toks
    assert sum(r.n_tokens for r in rows) == vocab
    assert len({r.r for r in rows}) == len(rows)
    by_r = {r.r: r for r in rows}
    for r in rows:
        if r.r + 1 in by_r:
            want = (r.r + 1) * by_r[r.r + 1].n_tokens / r.n_tokens
            assert r.r_star == want
        else:
            assert r.r_star is None


def test_corr_matrix_single_scan(spark, sf_dir):
    """All 15 moments must come from ONE scan of lineitem (one
    FileScan in the plan), not one scan per statistic."""
    plan = plans.QUERIES["stats_corr_matrix"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def _greedy_fold(syms, left, right):
    out = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def _even_offset_islands(syms, left, right):
    n = len(syms)
    matches = [p for p in range(n - 1)
               if syms[p] == left and syms[p + 1] == right]
    keep, run_start, prev = [], None, None
    for p in matches:
        if prev is None or p != prev + 1:
            run_start = p
        if (p - run_start) % 2 == 0:
            keep.append(p)
        prev = p
    ks, skip = set(keep), {k + 1 for k in keep}
    out = []
    for q in range(n):
        if q in ks:
            out.append(left + right)
        elif q not in skip:
            out.append(syms[q])
    return out


def test_bpe_greedy_fold_equals_relational_island_rule():
    """The Spark side applies a merge with a sequential greedy fold;
    the DuckDB oracle applies it relationally (all matches → islands
    of consecutive matches → even offsets). Property-test their
    equivalence — the overlap-handling subtlety lives entirely in
    left==right runs like 'aaa'."""
    import random

    rng = random.Random(0)
    for _ in range(2000):
        syms = [rng.choice("ab") for _ in range(rng.randint(0, 8))]
        for pair in [("a", "a"), ("a", "b"), ("b", "a"), ("aa", "a")]:
            assert _greedy_fold(syms, *pair) == \
                _even_offset_islands(syms, *pair), (syms, pair)


def test_bpe_merges_match_python_reference(spark, sf_dir):
    """Recompute the full BPE loop in plain Python (reference
    get_stats/merge semantics) over the same word-frequency table and
    require identical merge tables."""
    import collections

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.setsim_ops import BPE_STEPS

    d = load_table(spark, sf_dir, "documents")
    words = collections.Counter()
    for row in d.select(
            F.explode(H.word_tokens(F.col("text"))).alias("w")).collect():
        words[row.w] += 1
    vocab = {w: (list(w), f) for w, f in words.items()}
    want = []
    for step in range(1, BPE_STEPS + 1):
        counts = collections.Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # deterministic tie-break: max count, then lexicographically
        # smallest (l, r)
        best = max(counts.values())
        l, r = min(k for k, v in counts.items() if v == best)
        want.append((step, l, r, l + r, best))
        vocab = {w: (_greedy_fold(syms, l, r), f)
                 for w, (syms, f) in vocab.items()}
    got = sorted(
        tuple(row) for row in
        plans.QUERIES["bpe_learn_merges"].fn(spark, sf_dir).collect())
    assert got == sorted(want) and got


def test_trailing_distinct_types_matches_python_recompute(spark, sf_dir):
    rows = {r.event_id: r for r in
            plans.QUERIES["events_trailing_distinct_types"].fn(
                spark, sf_dir).collect()}
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "event_type").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(rows) == len(ev)
    for uid, rs in by_user.items():
        for i, r in enumerate(rs):
            win = [x.event_type for x in rs[max(0, i - 9):i + 1]]
            got = rows[r.event_id]
            assert got.n_win == len(win)
            assert got.n_distinct_types == len(set(win)), (uid, r.event_id)


def test_user_journey_single_exchange(spark, sf_dir):
    """The whole 7-metric profile must run on ONE user_id shuffle: four
    stacked user-partitioned windows (two sort orders) + the final
    aggregation all reuse the same hash distribution."""
    p = plans.QUERIES["events_user_journey"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1
    assert p.count("+- Sort") == 2


def test_user_journey_consistent_with_standalone_operators(spark, sf_dir):
    """The composed flagship must agree metric-for-metric with the
    standalone operators it fuses: per-user session count with
    events_session_30m, debounce survivors with events_debounce_5m,
    and funnel stage with an independent recompute."""
    rows = {r.user_id: r for r in
            plans.QUERIES["events_user_journey"].fn(spark, sf_dir).collect()}
    sessions = plans.QUERIES["events_session_30m"].fn(spark, sf_dir) \
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    for s in sessions:
        assert rows[s.user_id].n_sessions == s.n, s.user_id
    debounced = plans.QUERIES["events_debounce_5m"].fn(spark, sf_dir) \
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    for d in debounced:
        assert rows[d.user_id].n_debounced == d.n, d.user_id
    ev = {}
    for r in spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("user_id", "event_type", "ts").collect():
        ev.setdefault(r.user_id, []).append((r.ts, r.event_type))
    assert set(ev) == set(rows)
    for uid, es in ev.items():
        es.sort()
        stage = 0
        mv = min((t for t, y in es if y == "view"), default=None)
        if mv is not None:
            stage = 1
            mc = min((t for t, y in es if y == "click" and t >= mv),
                     default=None)
            if mc is not None:
                stage = 2
                if any(y == "purchase" and t >= mc for t, y in es):
                    stage = 3
        r = rows[uid]
        assert r.funnel_stage == stage, uid
        assert r.n_events == len(es)
        assert r.first_ts == es[0][0] and r.last_ts == es[-1][0]


def test_anomaly_mad_matches_python_recompute(spark, sf_dir):
    rows = plans.QUERIES["events_anomaly_mad"].fn(spark, sf_dir).collect()
    vals: dict[str, list] = {}
    for r in spark.read.parquet(f"{sf_dir}/events.parquet") \
            .select("event_type", "value", "event_id").collect():
        vals.setdefault(r.event_type, []).append((r.value, r.event_id))
    n_events = sum(len(v) for v in vals.values())
    assert len(rows) == n_events  # labeling never drops rows

    def med_of(pairs):
        s = sorted(pairs)
        n = len(s)
        return (s[(n + 1) // 2 - 1][0] + s[(n + 2) // 2 - 1][0]) / 2.0

    stats = {}
    for t, v in vals.items():
        m = med_of(v)
        stats[t] = (m, med_of([(abs(x - m), eid) for x, eid in v]))
    n_out = 0
    for r in rows:
        m, mad = stats[r.event_type]
        assert r.med == m and r.mad == mad, r.event_type
        if mad > 0:
            want_z = 0.6745 * (r.value - m) / mad
            assert r.robust_z == want_z
            assert r.is_outlier == (abs(want_z) > 3.5)
            n_out += r.is_outlier
        else:
            assert r.robust_z is None and r.is_outlier is False
    # the synthetic value distribution has tails: some outliers exist
    # but robustly few
    assert 0 < n_out < 0.1 * n_events


def test_anomaly_mad_approx_consistent_with_exact(spark, sf_dir):
    exact = {r.event_type: (r.med, r.mad) for r in
             plans.QUERIES["events_anomaly_mad"].fn(spark, sf_dir)
             .select("event_type", "med", "mad").distinct().collect()}
    rows = plans.QUERIES["events_anomaly_mad_approx"].fn(
        spark, sf_dir).collect()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(rows) == n_events
    for r in rows:
        m, d = exact[r.event_type]
        # sketch medians land near the exact ones (value proximity is
        # the usable check here; both distributions are continuous)
        assert abs(r.med - m) <= 0.05 * max(1.0, abs(m)) + abs(d)
        assert abs(r.mad - d) <= 0.25 * max(0.5, d)
        if r.mad > 0:
            want_z = 0.6745 * (r.value - r.med) / r.mad
            assert r.robust_z == want_z
            assert r.is_outlier == (abs(want_z) > 3.5)


def test_referential_integrity_passes_on_consistent_snapshot(spark, sf_dir):
    rows = {r.fk: r for r in
            plans.QUERIES["dq_referential_integrity"].fn(
                spark, sf_dir).collect()}
    assert len(rows) == 4
    for fk, r in rows.items():
        assert r.n_orphan_rows == 0 and r.n_orphan_keys == 0, fk
        assert r.sample_orphan_key is None
        child = fk.split(".")[0]
        assert r.n_child_rows == spark.read.parquet(
            f"{sf_dir}/{child}.parquet").count()


def test_referential_integrity_detects_planted_orphans(spark, sf_dir,
                                                       tmp_path):
    """Break the snapshot on purpose: drop every customer key ≡ 0
    (mod 5) and the audit must count exactly the orders pointing at
    the removed keys, with a sample orphan from that set."""
    import os
    import shutil

    broken = str(tmp_path / "broken_sf")
    os.makedirs(broken)
    for t in ("orders", "lineitem", "part", "supplier", "events"):
        os.symlink(f"{sf_dir}/{t}.parquet", f"{broken}/{t}.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cust.where("c_custkey % 5 != 0").write.mode("overwrite") \
        .parquet(f"{broken}/customer.parquet")
    rows = {r.fk: r for r in
            plans.QUERIES["dq_referential_integrity"].fn(
                spark, broken).collect()}
    r = rows["orders.o_custkey -> customer.c_custkey"]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want_rows = orders.where("o_custkey % 5 = 0").count()
    want_keys = orders.where("o_custkey % 5 = 0") \
        .select("o_custkey").distinct().count()
    assert r.n_orphan_rows == want_rows > 0
    assert r.n_orphan_keys == want_keys
    assert r.sample_orphan_key % 5 == 0
    # unrelated relationships stay green
    assert rows["lineitem.l_partkey -> part.p_partkey"].n_orphan_rows == 0
    shutil.rmtree(broken)


def test_q3_top10_matches_full_ranking(spark, sf_dir):
    """The TakeOrdered top-10 must equal the head of the full exact
    ranking, and revenue must be the exact-decimal sum."""
    rows = plans.QUERIES["q3_shipping_priority"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    # plan: predicates reach the scans; top-k is a TakeOrdered
    plan = plans.QUERIES["q3_shipping_priority"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_cusum_changepoint_invariants(spark, sf_dir):
    rows = plans.QUERIES["events_volume_cusum"].fn(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r.hr)
        total = sum(r.n for r in rs)
        rate = total / len(rs)
        run = 0
        peak = max(abs(r.cusum) for r in rs)
        n_cp = 0
        for i, r in enumerate(rs, 1):
            run += r.n
            assert r.cusum == run - i * rate, (t, r.hr)
            n_cp += r.is_changepoint
            assert r.is_changepoint == (abs(r.cusum) == peak)
        assert n_cp >= 1  # the argmax exists
        # the final cusum telescopes to ~0 (runsum == total at the end)
        assert abs(rs[-1].cusum) < 1e-6 * max(1, total)


def test_path_mining_matches_python_recompute(spark, sf_dir):
    import collections

    rows = sorted(
        plans.QUERIES["events_path_mining"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rk)
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "ts", "event_id").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    counts = collections.Counter()
    users = collections.defaultdict(set)
    gap = lambda a, b: (b.ts - a.ts).total_seconds() * 1e6  # noqa: E731
    for uid, rs in by_user.items():
        for i in range(2, len(rs)):
            if gap(rs[i - 1], rs[i]) <= 1_800_000_000 and \
               gap(rs[i - 2], rs[i - 1]) <= 1_800_000_000:
                p = f"{rs[i-2].event_type}>{rs[i-1].event_type}>{rs[i].event_type}"
                counts[p] += 1
                users[p].add(uid)
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r.path, r.n) for r in rows] == want
    for r in rows:
        assert r.n_users == len(users[r.path])
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))


def test_markov_eval_no_leakage_and_exact_recompute(spark, sf_dir):
    """The model must be a pure function of PRE-cutoff transitions
    (recomputed independently in Python), and the test accounting must
    cover every post-cutoff transition exactly once."""
    import collections
    import datetime as dt

    rows = {r.prev_type: r for r in
            plans.QUERIES["events_markov_eval"].fn(spark, sf_dir).collect()}
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "ts", "event_id").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id))
    cutoff = dt.datetime(2024, 1, 25)
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    train = collections.Counter()
    test = []
    for rs in by_user.values():
        for prev, cur in zip(rs, rs[1:]):
            if cur.ts.replace(tzinfo=None) < cutoff:
                train[(prev.event_type, cur.event_type)] += 1
            else:
                test.append((prev.event_type, cur.event_type))
    pred = {}
    for (a, b), n in train.items():
        cur = pred.get(a)
        if cur is None or n > cur[1] or (n == cur[1] and b < cur[0]):
            pred[a] = (b, n)
    per = collections.Counter()
    hits = collections.Counter()
    for a, b in test:
        per[a] += 1
        hits[a] += (a in pred and pred[a][0] == b)
    assert set(rows) == set(per)
    for a, r in rows.items():
        assert r.predicted == pred[a][0] and r.n_train_obs == pred[a][1]
        assert r.n_test == per[a] and r.n_hit == hits[a]
        assert r.hit_rate == hits[a] / per[a]


def test_watermark_audit_prefix_scan_equals_serial(spark, sf_dir):
    """The two-level prefix-max high-water mark must equal the serial
    arrival-order scan, and drop counts must be monotone in the delay."""
    rows = {r.wm_minutes: r for r in
            plans.QUERIES["events_watermark_audit"].fn(
                spark, sf_dir).collect()}
    assert set(rows) == {5, 30, 60, 120}
    ev = sorted(spark.read.parquet(f"{sf_dir}/events.parquet")
                .select("event_id", "ts").collect(),
                key=lambda r: r.event_id)
    hw = None
    lateness = []
    for r in ev:
        us = int(r.ts.replace(tzinfo=None).timestamp() * 1_000_000)
        hw = us if hw is None else max(hw, us)
        lateness.append(hw - us)
    for m, r in rows.items():
        want = sum(1 for late in lateness if late > m * 60_000_000)
        assert r.n_dropped == want and r.n_total == len(ev)
        assert r.drop_rate == want / len(ev)
        assert r.wm_us == m * 60_000_000
    drops = [rows[m].n_dropped for m in (5, 30, 60, 120)]
    assert drops == sorted(drops, reverse=True)


def test_watermark_audit_no_global_single_partition_sort(spark, sf_dir):
    """The scalable form's windows partition on bucket id — the plan
    must not contain a global (partition-less) sort of the event rows
    feeding a window (the bucket-table window is fine: it sorts ~n/B
    rows)."""
    plan = plans.QUERIES["events_watermark_audit"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re
    # every Window over the event-sized input must carry bkt in its
    # partition spec; the bucket-prefix window is the only global one
    assert plan.count("Window") >= 2
    wins = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert wins
    # EVERY window spec must reference the bucket column — either
    # partitioned by it (the within-bucket running max) or ordered by
    # it (the tiny bucket-prefix table); a spec without bkt would be a
    # global window over the raw event stream, the exact regression
    # this operator exists to avoid
    for w in wins:
        assert "bkt" in w, w


def test_histogram_conserves_rows_and_cdf_is_total(spark, sf_dir):
    """Histogram invariants: bucket counts sum to the table's row
    count per priority; the last cumulative value equals that sum;
    per-bucket min/max actually fall inside the bucket's range; a
    python recompute of the binning agrees."""
    import math

    from jira_scraper_etl_spark.plans.warehouse_ops import HIST_WIDTH

    out = plans.QUERIES["dq_histogram_totalprice"].fn(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderpriority", "o_totalprice").collect()
    want = {}
    for r in o:
        b = math.floor(r.o_totalprice / HIST_WIDTH)
        want[(r.o_orderpriority, b)] = want.get((r.o_orderpriority, b), 0) + 1
    got = {(r.o_orderpriority, r.bin): r.n_orders for r in out}
    assert got == want
    by_prio = {}
    for r in sorted(out, key=lambda r: (r.o_orderpriority, r.bin)):
        assert r.bin_lo == r.bin * HIST_WIDTH
        assert r.bin_lo <= r.min_price <= r.max_price < r.bin_lo + HIST_WIDTH
        by_prio.setdefault(r.o_orderpriority, 0)
        by_prio[r.o_orderpriority] += r.n_orders
        assert r.cum_orders == by_prio[r.o_orderpriority]  # running total


def test_exists_plans_as_semi_join_with_non_equi_conjunct(spark, sf_dir):
    """Q4's EXISTS must rewrite to a LEFT SEMI join on l_orderkey
    carrying the shipdate comparison as an extra join predicate —
    never a per-order probe (nested loop) of lineitem."""
    plan = plans.QUERIES["q4_order_priority_checking"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_predicate_projects_per_table_filters(spark, sf_dir):
    """Q19's cross-table DNF can't push down whole, but its per-table
    projections must: the part scan carries the brand/size disjunction
    and the lineitem scan the quantity-range union, with the exact DNF
    re-applied above an equi-join."""
    plan = plans.QUERIES["q19_disjunctive_revenue"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # part-side projection of the DNF reached the part scan...
    assert plan.count("Brand#16") >= 2  # once in the DNF, once pushed
    # ...and the quantity union reached the lineitem side
    assert "l_quantity" in plan.split("Scan parquet")[1] or \
           "l_quantity" in plan  # pushed or at least filtered pre-join


def test_scalar_subquery_plus_not_exists_plans_once(spark, sf_dir):
    """Q22: the global-average scalar subquery is computed ONCE (a
    Subquery/ReusedSubquery above one aggregate — not re-evaluated per
    row), and NOT EXISTS rewrites to a LEFT ANTI join."""
    plan = plans.QUERIES["q22_global_sales_opportunity"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_double_correlated_exists_plans_as_semi_plus_anti(spark, sf_dir):
    """Q21's EXISTS and NOT EXISTS — both correlated on lineitem, the
    anti side carrying a non-equi conjunct on a second outer table's
    column (o_orderdate) — must decorrelate into ONE LeftSemi and ONE
    LeftAnti hash join on l_orderkey, with the suppkey inequality and
    the shipdate comparison as join conjuncts. Never a per-row
    re-probe of lineitem."""
    plan = plans.QUERIES["q21_suppliers_kept_waiting"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_nested_in_chain_decorrelates_to_semi_joins(spark, sf_dir):
    """Q20's IN(part-name) → IN(suppkey) chain with a correlated
    per-part scalar aggregate must plan as semi joins plus ONE
    decorrelated aggregate joined back on l_partkey with the 20%%
    threshold as a join conjunct — the per-part total is computed in
    one pass, never re-scanned per group."""
    plan = plans.QUERIES["q20_potential_part_promotion"].fn(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2  # part-name IN + suppkey IN
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q13_on_clause_filter_stays_left_outer(spark, sf_dir):
    """Q13's defining hazard: the priority filter lives in the OUTER
    join's ON clause; hoisting it to WHERE would silently make the
    join inner and drop zero-order customers. Pin the LeftOuter join
    and verify the histogram still contains a c_count=0 bucket at
    this SF (every customer has *some* order, but not every customer
    has a non-URGENT one is corpus-dependent — so pin the join type,
    and row-total conservation instead)."""
    df = plans.QUERIES["q13_customer_order_distribution"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_customers  # partition of customers


def test_q15_max_over_view_plans_one_scalar_subquery(spark, sf_dir):
    """Q15's MAX-over-view filter must plan as a scalar Subquery above
    the (dim-sized) revenue aggregate — evaluated once — and the
    result must equal the max row(s) of the view computed directly."""
    df = plans.QUERIES["q15_top_supplier"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert len(rows) >= 1
    assert len({r.total_revenue for r in rows}) == 1  # all tied at the max


def test_bpe_encode_stats_match_python_reference(spark, sf_dir):
    """Full-pipeline replay for the tokenizer APPLY side: re-learn
    the merges in plain Python (the proven reference loop), encode
    every word with the sequential greedy fold, and require every
    document's (n_words, n_bpe_tokens) to match — plus the structural
    invariants n_words <= n_bpe_tokens <= n_chars_of_words."""
    import collections

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.plans.setsim_ops import BPE_STEPS

    d = load_table(spark, sf_dir, "documents")
    doc_words = {r.doc_id: list(r.ws) for r in d.select(
        "doc_id", H.word_tokens(F.col("text")).alias("ws")).collect()}
    words = collections.Counter(w for ws in doc_words.values() for w in ws)
    vocab = {w: list(w) for w in words}
    for _ in range(BPE_STEPS):
        counts = collections.Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += words[w]
        if not counts:
            break
        best = max(counts.values())
        l, r = min(k for k, v in counts.items() if v == best)
        vocab = {w: _greedy_fold(syms, l, r) for w, syms in vocab.items()}

    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in
           plans.QUERIES["text_bpe_encode_stats"].fn(spark, sf_dir).collect()}
    assert set(got) == set(doc_words)
    shrank = False
    for doc_id, ws in doc_words.items():
        want = (len(ws), sum(len(vocab[w]) for w in ws))
        assert got[doc_id] == want, doc_id
        n_chars = sum(len(w) for w in ws)
        assert want[0] <= want[1] <= n_chars
        shrank = shrank or want[1] < n_chars
    assert shrank, "merges never fired on the fixture corpus"
