"""Physical-plan audit over the whole registry: one line per query with
the plan features that matter at 100 TB — exchange (shuffle) count,
sorts, join strategies, scans, and red flags (cartesian products,
row-at-a-time Python UDFs).

The counts read the returned frame's plan. An entry that fills a
``persist_seam`` or ``checkpoint_seam`` inside ``fn()`` ran part of its
work before that plan, as separate jobs; its ``seams`` column is > 0
and its row is flagged PARTIAL (the shuffles before the seams are not
counted). A persisted seam's cached plan counts once, however many
times the returned plan reads it.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
Writes PLANS.md (default) — a committed snapshot reviewers can diff:
a new Exchange in a query's row is a plan regression you can see in
review, before any benchmark moves.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans, seams  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402

# The only entries allowed nested-loop/cartesian plan nodes, each with
# an explicit justification TAG and a BUDGET (max such nodes in the
# plan at the default sf0.001 audit dir):
#
#   "gated"      — deliberately-quadratic ground-truth twin; the
#                  quadratic form IS the operator's contract and its
#                  docstring gates it to bounded slices / verify use.
#   "tiny-build" — every nested-loop in the plan has a ≤1-row (or
#                  bounded-constant, e.g. a bands/centroids dim) build
#                  side: calibration rows, error budgets, model
#                  broadcasts. O(n·1), not O(n²).
#
# The budget closes the waiver hole the flat allowlist had: a query
# waived for its 1-row calibration join can no longer silently grow a
# SECOND, unjustified nested loop — the audit flags anything beyond
# the recorded count. Stale waivers (name gone from the registry, or
# budget no longer consumed) are reported too, so the list cannot
# accrete.
ALLOWED_NESTED_LOOP = {
    # gated ground-truth twins (quadratic by design)
    "dedup_ngram_jaccard": ("gated", 1),
    "dedup_embedding_cosine_exact": ("gated", 1),
    "dedup_containment": ("gated", 1),
    "similarity_topk_bruteforce": ("gated", 1),
    "similarity_topk_sq8": ("gated", 3),  # + 1-row calibration joins
    # tiny-build calibration / model / dim broadcasts
    "decontaminate_embedding": ("tiny-build", 1),  # benchmark side
    "embedding_quantize_int8": ("tiny-build", 1),  # 1-row calibration
    "events_zorder_code": ("tiny-build", 1),       # 1-row bounds
    "join_range_price_bands": ("tiny-build", 1),   # bands dim
    "orders_basket_affinity": ("tiny-build", 1),   # 1-row totals
    "sample_mixture_weights": ("tiny-build", 1),   # weights row
    "text_bigram_assoc": ("tiny-build", 1),        # 1-row totals
    "text_heavy_hitters_mg": ("tiny-build", 1),    # 1-row E budget
    "text_tfidf_topk": ("tiny-build", 1),          # 1-row doc count
    "dq_referential_integrity": ("tiny-build", 4),  # 4× 1-row n_child
    "customer_rfm_segments": ("tiny-build", 1),    # 1-row corpus max date
}

# The UDTF differential twin exists precisely to exercise the Python
# UDTF surface (SURVEY §2.10); it is a parity twin, never a hot path.
ALLOWED_ROW_PYTHON = {"jira_qa_pairs_udtf"}

# HOF-in-scan-filter waivers. The rule exists for NON-SELECTIVE
# computed-column gates (the round-8 winnowing straggler: a
# keeps-everything filter that bought no pruning and serialized a
# duplicate of the md5 pipeline into the scan). A genuinely SELECTIVE
# computed predicate is different: pushing it to the scan is textbook
# predicate pushdown — it prunes rows before every downstream stage,
# which is exactly what a wide warehouse scan wants; the duplicate
# evaluation for surviving rows is the price of the pruning. Tag:
#   "selective-gate" — the filter drops a meaningful fraction of the
#   corpus at the earliest possible point.
ALLOWED_HOF_SCAN_FILTER = {
    # quality_score(text) >= 0.78 keeps ~60% of docs; the gate IS the
    # pipeline's first stage and belongs at the scan
    "curate_pretrain_corpus": ("selective-gate", 1),
}


def _depth(line: str) -> int:
    """Indentation of a plan-tree line: where its node name starts."""
    m = re.search(r"[A-Za-z*]", line)
    return m.start() if m else 0


def _dedup_cached(plan: str) -> str:
    """``plan`` with each cached subtree kept once. The executed-plan
    string prints a persisted seam's cached plan under every
    ``InMemoryRelation`` that reads it, so without this a seam read N
    times adds its exchanges and scans N times, though they ran once.
    A repeat keeps its ``InMemoryRelation`` line and loses the subtree
    below it; two subtrees are the same when their text, read relative
    to the node, is. A cached plan has already run, so its adaptive
    plan prints a ``Final Plan`` and the ``Initial Plan`` it replaced;
    only the final one is kept."""
    lines = plan.splitlines()
    out, seen, i = [], set(), 0
    while i < len(lines):
        line = lines[i]
        i += 1
        if "== Initial Plan ==" in line:
            col = line.index("+-")
            while i < len(lines) and _depth(lines[i]) > col:
                i += 1
            continue
        out.append(line)
        if "InMemoryRelation" not in line:
            continue
        d = _depth(line)
        end = i
        while end < len(lines) and _depth(lines[end]) > d:
            end += 1
        body = "\n".join(sub[d:] for sub in lines[i:end])
        if body in seen:
            i = end
        seen.add(body)
    return "\n".join(out)


def _hof_scan_filters(plan: str) -> int:
    """Count scans whose DataFilters embed a higher-order-function
    expression — the round-8 winnowing straggler class: filtering on a
    column computed by a HOF projection makes Catalyst inline the whole
    pipeline into the Filter and push it into the SCAN stage, below any
    fan-out exchange, so the expensive map work runs TWICE with one
    copy serialized into however few splits the file has (measured
    682 s → 49 s at sf10 when the filter became a cheap source-column
    predicate). Markers cover the plan's spelling even after DataFilters
    truncation ('lambdafun...')."""
    n = 0
    for line in plan.splitlines():
        if "DataFilters:" not in line:
            continue
        seg = line.split("DataFilters:", 1)[1].split("Format:", 1)[0]
        if re.search(r"lambdafun|transform\(|aggregate\(|zip_with\(", seg):
            n += 1
    return n


def _session_pushdown_filters(plan: str) -> int:
    """Count Filters that Catalyst pushed BELOW a session-window
    aggregation — the upstream-unsound shape found at the r10 sf10
    soak: the pre-merge session column is [ts, ts+gap) per EVENT, so a
    filter on the window's start/end evaluated below MergingSessions
    cuts events out of sessions that straddle the cut and fabricates
    split sessions (minimal repro:
    tests/test_catalog_events.py::test_session_filter_pushdown_immunity).

    Detector: inside the subtree under a ``MergingSessions`` node
    (greater indentation until the first line at or above the node's
    depth), flag any Filter referencing the session-window struct
    (``session_window#``) or comparing a gap-shifted timestamp
    (``… + N minutes … <``). Plain pre-aggregation filters on source
    columns (isnotnull(ts), ts range predicates) are sound and pass."""

    lines = plan.splitlines()
    n = 0
    for i, line in enumerate(lines):
        if "MergingSessions" not in line:
            continue
        d = _depth(line)
        for below in lines[i + 1:]:
            if _depth(below) <= d:
                break  # left the MergingSessions subtree
            if not re.search(r"\bFilter\b", below):
                continue
            if "session_window#" in below or (
                    re.search(r"\+ \d+ (?:seconds|minutes|hours|days)",
                              below)
                    and re.search(r"[<>]=? ", below)):
                n += 1
    return n


def audit_one(spark, name: str, fn, sf_dir: str) -> dict:
    """Plan features of ``fn(spark, sf_dir)``; ``seams`` is how many
    seams ``fn()`` left outstanding. They are released before
    returning."""
    before = seams.outstanding()
    try:
        df = fn(spark, sf_dir)
        plan = _dedup_cached(
            df._jdf.queryExecution().executedPlan().toString())
        n_seams = seams.outstanding() - before
    finally:
        seams.release_seams(spark)
    feats = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "nested_loop": len(re.findall(
            r"BroadcastNestedLoopJoin|CartesianProduct", plan)),
        "scans": len(re.findall(r"Scan parquet|BatchScan", plan)),
        "py_eval": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_py": len(re.findall(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "hof_scan_filter": _hof_scan_filters(plan),
        "session_pushdown": _session_pushdown_filters(plan),
        "seams": n_seams,
    }
    return feats


def check_features(name: str, f: dict) -> tuple[list[str], list[str]]:
    """Pure violation rules over one query's plan features — factored
    out so the synthetic-violation test can drive them directly. A
    PARTIAL flag (seams filled inside ``fn()``) is not a violation."""
    flags, violations = [], []
    if f.get("seams", 0):
        flags.append("PARTIAL")
    tag, budget = ALLOWED_NESTED_LOOP.get(name, (None, 0))
    if f["nested_loop"] > budget:
        flags.append("UNEXPECTED-NESTED-LOOP")
        violations.append(
            f"{name}: nested-loop/cartesian count {f['nested_loop']} "
            f"exceeds waiver budget {budget}"
            + (f" (tag: {tag})" if tag else " (no waiver)"))
    if f["py_eval"] and name not in ALLOWED_ROW_PYTHON:
        flags.append("ROW-PYTHON-UDF")
        violations.append(f"{name}: row-at-a-time Python UDF in plan")
    hof_tag, hof_budget = ALLOWED_HOF_SCAN_FILTER.get(name, (None, 0))
    if f.get("hof_scan_filter", 0) > hof_budget:
        flags.append("HOF-SCAN-FILTER")
        violations.append(
            f"{name}: higher-order-function expression inside a scan's "
            f"DataFilters — the computed-column filter was inlined and "
            f"pushed below the fan-out exchange (serialized duplicate "
            f"work; filter on the source column instead, or waive a "
            f"genuinely selective gate)"
            + (f" (tag: {hof_tag})" if hof_tag else ""))
    if f.get("session_pushdown", 0):
        # No waiver list on purpose: this shape is UNSOUND (fabricates
        # split sessions), never a performance trade-off.
        flags.append("SESSION-WINDOW-PUSHDOWN")
        violations.append(
            f"{name}: Filter below a session-window aggregation "
            f"(MergingSessions) references the window bounds — Catalyst "
            f"pushes grouping-expression filters below the merge, which "
            f"fabricates split sessions; expose session bounds as "
            f"aggregates (min(ts)/max(ts)+gap) instead, the "
            f"plans/event_time.py pattern")
    return flags, violations


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark("plan_audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows, violations = [], []
    stale = [n for n in ALLOWED_NESTED_LOOP if n not in plans.QUERIES]
    for n in stale:
        violations.append(f"{n}: stale nested-loop waiver (not in registry)")
    for n in ALLOWED_ROW_PYTHON:
        if n not in plans.QUERIES:
            violations.append(
                f"{n}: stale row-Python waiver (not in registry)")
    for n in ALLOWED_HOF_SCAN_FILTER:
        if n not in plans.QUERIES:
            violations.append(
                f"{n}: stale HOF-scan-filter waiver (not in registry)")
    for name, q in plans.QUERIES.items():
        try:
            f = audit_one(spark, name, q.fn, sf_dir)
        except Exception as ex:  # audit must cover everything or say so
            rows.append((name, None, f"ERROR {str(ex)[:80]}"))
            violations.append(f"{name}: plan build failed: {str(ex)[:120]}")
            continue
        flags, violations_for_name = check_features(name, f)
        violations.extend(violations_for_name)
        rows.append((name, f, " ".join(flags)))

    with open(out_md, "w") as fh:
        fh.write(
            "# Physical-plan audit (generated by tools/plan_audit.py)\n\n"
            f"Captured at `{sf_dir}` on local[8]; plan shapes, not "
            "timings. A diff in a row = a plan change to review. "
            "`nested-loop` is only legal for the gated ground-truth "
            "twins and 1-row broadcast calibration joins "
            "(ALLOWED_NESTED_LOOP in the tool). `seams` counts the "
            "seams an entry fills inside fn(); such a row is PARTIAL: "
            "the shuffles before its seams ran as separate jobs and are "
            "not in its counts.\n\n"
            "| query | exchanges | sorts | BHJ | SMJ | nested-loop | "
            "scans | arrow-py | seams | flags |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n")
        for name, f, flags in rows:
            if f is None:
                fh.write(f"| {name} | — | — | — | — | — | — | — | — "
                         f"| {flags} |\n")
                continue
            fh.write(
                f"| {name} | {f['exchanges']} | {f['sorts']} | {f['bhj']} "
                f"| {f['smj']} | {f['nested_loop']} | {f['scans']} "
                f"| {f['arrow_py']} | {f['seams']} | {flags} |\n")
        unused = sorted(
            name for name, f, _ in rows
            if f is not None and name in ALLOWED_NESTED_LOOP
            and f["nested_loop"] == 0)
        fh.write(f"\n{len(rows)} queries audited; "
                 f"{len(violations)} violations.\n")
        if unused:
            fh.write("\nUnconsumed nested-loop waivers (candidates for "
                     f"removal): {', '.join(unused)}\n")
        if violations:
            fh.write("\n## Violations\n\n")
            for v in violations:
                fh.write(f"- {v}\n")

    print(f"{len(rows)} queries audited; {len(violations)} violations "
          f"-> {out_md}")
    spark.stop()
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
