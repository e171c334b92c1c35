"""Misra-Gries heavy-hitters invariants (operators/sketches.py): the
lb/ub envelope vs exact counts, merge soundness, and the degenerate-
exact regime when the vocabulary fits the counter budget."""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from jira_scraper_etl_spark import plans
from jira_scraper_etl_spark.functions import hashing as H
from jira_scraper_etl_spark.operators.sketches import mg_partials, mg_topk


def _token_stream(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.explode(H.word_tokens(F.col("text"))).alias("tok")))


def test_mg_envelope_brackets_exact_counts(spark, sf_dir):
    toks = _token_stream(spark, sf_dir)
    exact = {r.tok: r.n for r in
             toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = plans.QUERIES["text_heavy_hitters_mg"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.lb <= exact[r.tok] <= r.ub, r.tok
        if r.guaranteed:
            # lb > E means the item's true count beats anything absent
            assert exact[r.tok] > r.ub - r.lb


def test_mg_exact_when_vocab_fits_counters(spark, sf_dir):
    """31-token vocabulary < 64 counters: no evictions ever fire, so
    the sketch degenerates to exact counts with E = 0 and the top-50
    equals the exact ranking."""
    toks = _token_stream(spark, sf_dir)
    exact = {r.tok: r.n for r in
             toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(exact) <= 64
    rows = plans.QUERIES["text_heavy_hitters_mg"].fn(spark, sf_dir).collect()
    got = {r.tok: (r.lb, r.ub, r.guaranteed) for r in rows}
    assert set(got) == set(exact)
    for tok, (lb, ub, g) in got.items():
        assert lb == ub == exact[tok] and g


def test_mg_eviction_regime_still_sound(spark, sf_dir):
    """Force evictions with a tiny counter budget (k=4 over a 31-token
    vocabulary): bounds must still bracket exact counts, the error
    budget must be positive, and every token with true frequency > E
    must be present (the Misra-Gries presence guarantee)."""
    toks = _token_stream(spark, sf_dir)
    exact = {r.tok: r.n for r in
             toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = mg_topk(toks, "tok", k=4, topk=1000).collect()
    got = {r.tok: r for r in out}
    assert got
    E = {r.ub - r.lb for r in out}
    assert len(E) == 1  # one shared error budget
    E = E.pop()
    assert E > 0  # evictions really fired at k=4
    for tok, r in got.items():
        assert r.lb <= exact[tok] <= r.ub
    for tok, n in exact.items():
        if n > E:
            assert tok in got, (tok, n, E)


def test_mg_partial_counters_bounded_per_partition(spark, sf_dir):
    toks = _token_stream(spark, sf_dir)
    p = mg_partials(toks, "tok", k=8)
    per_pid = p.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    assert per_pid
    for r in per_pid:
        assert r.n <= 8  # the shuffle contract: ≤ k rows per partition


def test_mg_null_tokens_ignored_not_counted(spark):
    """Review-found edge: a genuine NULL token must not become a
    counter key (it would be conflated with the empty-partition error
    sentinel and dropped from the merged counts, silently undercounting
    nothing while violating the ≤k-counter accounting). NULLs are
    ignored — SQL-aggregate semantics — and the non-null counts stay
    exact when the vocabulary fits the budget."""
    toks = spark.createDataFrame(
        [("a",), (None,), ("b",), ("a",), (None,), ("c",)],
        "tok string").coalesce(1)
    out = {r.tok: (r.lb, r.ub) for r in
           mg_topk(toks, "tok", k=8, topk=10).collect()}
    assert out == {"a": (2, 2), "b": (1, 1), "c": (1, 1)}
    p = mg_partials(toks.coalesce(1), "tok", k=8).collect()
    assert all(r.tok is not None for r in p)  # no NULL counter rows


def test_mg_error_budget_survives_total_counter_wipe(spark):
    """Review-found edge: a partition whose FINAL decrement-all wipes
    every counter must still deliver its decrement total to the merged
    error budget E (k distinct tokens once each, then one more new
    token as the last element ⇒ zero surviving counters, d=1)."""
    toks = spark.createDataFrame(
        [(t,) for t in ["a", "b", "c", "d", "z"]], "tok string") \
        .coalesce(1)
    out = mg_topk(toks, "tok", k=4, topk=10).collect()
    # all counters died, so no items survive — but E must be 1, which
    # shows up in ub = lb + E for any surviving item; with none
    # surviving the output is empty yet the partials carry the budget
    from jira_scraper_etl_spark.operators.sketches import mg_partials
    p = mg_partials(toks.coalesce(1), "tok", k=4).collect()
    assert sum(r.d for r in {r.pid: r for r in p}.values()) == 1
    assert all(r.tok is None and r.c == 0 for r in p)
    assert out == []  # nothing survives, and nothing pretends to


def test_check_oracle_sampled_verifiers_catch_corruption(spark, sf_dir):
    """The harness-side sampled verifiers (tools/check_oracle.py,
    round-10 verdict #7) must pass on the real query outputs AND fail
    on corrupted ones — a verifier that never fails verifies nothing."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle as CO

    out = plans.QUERIES["text_winnow_fingerprints_fast"].fn(spark, sf_dir)
    cols = out.columns
    rows = [tuple(r) for r in out.collect()]
    assert CO._verify_winnow_fast(spark, sf_dir, rows, cols) == []
    # corrupt one fingerprint value — on the SMALLEST doc_id, which the
    # spread sample (ids[::step] starting at index 0) always includes
    di, ci = cols.index("doc_id"), cols.index("fp")
    first_doc = min(r[di] for r in rows)
    k = next(i for i, r in enumerate(rows) if r[di] == first_doc)
    bad = list(rows)
    bad[k] = tuple(v + 1 if i == ci else v for i, v in enumerate(rows[k]))
    assert CO._verify_winnow_fast(spark, sf_dir, bad, cols)

    mg = plans.QUERIES["text_heavy_hitters_mg"].fn(spark, sf_dir)
    mcols = mg.columns
    mrows = [tuple(r) for r in mg.collect()]
    assert CO._verify_mg_envelope(spark, sf_dir, mrows, mcols) == []
    # corrupt: shrink one ub below the true count
    ui, li = mcols.index("ub"), mcols.index("lb")
    worst = [tuple(0 if i in (ui, li) else v for i, v in enumerate(mrows[0]))]
    worst += mrows[1:]
    assert CO._verify_mg_envelope(spark, sf_dir, worst, mcols)
