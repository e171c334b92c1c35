"""Local differential harness: run every registry query on Spark AND its
DuckDB oracle, compare row count, column names, and exact values
(order-insensitive). Stricter than the driver's hash compare — if this
passes, the hash compare passes.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans  # noqa: E402
from jira_scraper_etl_spark.catalog import TABLES  # noqa: E402
from jira_scraper_etl_spark.seams import release_seams  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows), key=repr
    )


# --- column-type audit -------------------------------------------------------
# The driver hashes TYPED values, so a DuckDB column materializing as a
# different physical type than Spark's (the round-1 failure: windowed
# SUM(BIGINT) -> HUGEINT vs Spark int64) hash-mismatches even when the
# Python-level values compare equal. Canonicalize both engines' types
# and flag any divergence.

_SPARK_CANON = {
    "tinyint": "i64", "smallint": "i64", "int": "i64", "bigint": "i64",
    "float": "f64", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "binary": "bin",
}

_DUCK_CANON = {
    "TINYINT": "i64", "SMALLINT": "i64", "INTEGER": "i64", "BIGINT": "i64",
    "HUGEINT": "i128", "UBIGINT": "i128", "UINTEGER": "i64",
    "FLOAT": "f64", "DOUBLE": "f64", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts", "BLOB": "bin",
}
# int widths below 64 canonicalize together: both engines surface them
# as plain Python ints and the driver upcasts via Arrow to the declared
# width per engine... which agree for <=64-bit. The audit exists to
# catch the types that do NOT agree: HUGEINT/UBIGINT (128-bit paths).


def _canon(t: str, table: dict) -> str:
    t = t.strip()
    if t.lower().startswith("decimal") or t.upper().startswith("DECIMAL"):
        scale = t.rstrip(")").rsplit(",", 1)[-1].strip()
        return f"dec({scale})"
    if t.endswith("[]"):
        return f"arr<{_canon(t[:-2], table)}>"
    if t.lower().startswith("array<") and t.endswith(">"):
        return f"arr<{_canon(t[6:-1], table)}>"
    return table.get(t, table.get(t.upper(), t))


def shape_hazards(s_dtypes) -> list[str]:
    """Driver-harness canonicalization sorts every output column in
    pandas; a bare array/struct/map column materializes as numpy
    arrays / dicts there and dies with 'unhashable type'. Oracle-backed
    entries must therefore emit only scalar columns (join arrays to
    strings, e.g. array_join(codes, ','))."""
    return [f"{c}: {t}" for c, t in s_dtypes
            if t.startswith(("array", "struct", "map"))]


def type_mismatches(s_dtypes, con, oracle_sql) -> list[str]:
    try:
        desc = con.execute(f"DESCRIBE {oracle_sql}").fetchall()
    except Exception:
        return []  # DESCRIBE unsupported for this statement shape
    duck = {row[0]: row[1] for row in desc}
    out = []
    for col, st in s_dtypes:
        if col not in duck:
            continue  # column-name diff reported separately
        cs, cd = _canon(st, _SPARK_CANON), _canon(duck[col], _DUCK_CANON)
        if cs != cd:
            out.append(f"{col}: spark={st}({cs}) duckdb={duck[col]}({cd})")
    return out


# --- sampled verifiers for rows-only entries ---------------------------------
# The rows-only path records only a row count; for the entries with the
# LARGEST unoracled outputs that asymmetry is worth closing per-run
# (round-10 verdict #7): value-check a deterministic sample of the
# query's ACTUAL output against an independent Python recompute, every
# sweep — the pytest replay promoted to a harness invariant.

_WINNOW_SAMPLE = 20


def _verify_winnow_fast(spark, sf_dir, s_rows, s_cols) -> list[str]:
    """Replay the winnowing selection rule (min per 4-window of
    xxhash64 gram hashes, rightmost on ties, distinct) in Python over
    a spread sample of the output's doc_ids, and require exact
    (pos, fp) set equality with the query's own rows."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.plans.setsim_ops import WINNOW_K, WINNOW_W

    ci = {c: i for i, c in enumerate(s_cols)}
    by_doc: dict[int, set] = {}
    for r in s_rows:
        by_doc.setdefault(r[ci["doc_id"]], set()).add(
            (r[ci["pos"]], r[ci["fp"]]))
    ids = sorted(by_doc)
    step = max(1, len(ids) // _WINNOW_SAMPLE)
    sample = ids[::step][:_WINNOW_SAMPLE]
    grams = {r.doc_id: list(r.hs) for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .where(F.col("doc_id").isin(sample))
             .select("doc_id", F.expr(
                 f"transform(sequence(1, greatest(length(text) - {WINNOW_K}"
                 f" + 1, 0)), i -> xxhash64(substring(text, i, {WINNOW_K})))")
                 .alias("hs")).collect()}
    errs = []
    for doc in sample:
        hs = grams.get(doc)
        if hs is None or len(hs) < WINNOW_W:
            errs.append(f"doc {doc}: in output but below winnow length")
            continue
        sel = set()
        for j in range(len(hs) - WINNOW_W + 1):
            win = hs[j:j + WINNOW_W]
            m = min(win)
            pos = j + 1 + max(i for i, h in enumerate(win) if h == m)
            sel.add((pos, m))
        if by_doc[doc] != sel:
            errs.append(f"doc {doc}: output {len(by_doc[doc])} pairs != "
                        f"replay {len(sel)}")
    return errs


def _verify_mg_envelope(spark, sf_dir, s_rows, s_cols) -> list[str]:
    """Misra-Gries envelope vs EXACT token counts (bounded vocabulary
    makes the exact pass cheap): lb ≤ true ≤ ub for every reported
    token, one shared error budget, and guaranteed ⇒ true > E."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.functions import hashing as H

    exact = {r.tok: r.n for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select(F.explode(H.word_tokens(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    ci = {c: i for i, c in enumerate(s_cols)}
    errs = []
    budgets = {r[ci["ub"]] - r[ci["lb"]] for r in s_rows}
    if len(budgets) > 1:
        errs.append(f"multiple error budgets: {sorted(budgets)[:4]}")
    for r in s_rows:
        tok, lb, ub = r[ci["tok"]], r[ci["lb"]], r[ci["ub"]]
        true = exact.get(tok)
        if true is None:
            errs.append(f"token {tok!r} not in corpus")
        elif not lb <= true <= ub:
            errs.append(f"token {tok!r}: true {true} outside [{lb},{ub}]")
        elif r[ci["guaranteed"]] and not true > ub - lb:
            errs.append(f"token {tok!r}: guaranteed but true {true} <= E")
    return errs


SAMPLED_VERIFIERS = {
    "text_winnow_fingerprints_fast": _verify_winnow_fast,
    "text_heavy_hitters_mg": _verify_mg_envelope,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures, checked, rows_only = [], 0, 0
    for name, q in plans.QUERIES.items():
        if only and name not in only:
            continue
        release_seams()  # reclaim the previous query's persist seams
        t0 = time.perf_counter()
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error: {str(ex)[:500]}")
            continue
        if q.oracle is None:
            rows_only += 1
            verifier = SAMPLED_VERIFIERS.get(name)
            if verifier is not None:
                errs = verifier(spark, sf_dir, s_rows, s_cols)
                if errs:
                    failures.append((name, "; ".join(errs)))
                    print(f"FAIL  {name}: sampled-verify: "
                          f"{'; '.join(errs)[:500]}")
                else:
                    print(f"rows+v {name}: {len(s_rows)} rows, "
                          f"sampled-verify ok "
                          f"({time.perf_counter()-t0:.1f}s)")
                continue
            print(f"rows  {name}: {len(s_rows)} rows, schema {s_cols} "
                  f"({time.perf_counter()-t0:.1f}s)")
            continue
        try:
            res = con.execute(q.oracle)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error: {str(ex)[:500]}")
            continue
        checked += 1
        msgs = []
        sh = shape_hazards(sdf.dtypes)
        if sh:
            msgs.append("SHAPE HAZARD (driver canonicalizer can't sort "
                        "array/struct columns): " + "; ".join(sh))
        tm = type_mismatches(sdf.dtypes, con, q.oracle)
        if tm:
            msgs.append("TYPE MISMATCH (driver hashes typed values): "
                        + "; ".join(tm))
        if sorted(s_cols) != sorted(o_cols):
            msgs.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        elif len(s_rows) != len(o_rows):
            msgs.append(f"row count: spark={len(s_rows)} oracle={len(o_rows)}")
        else:
            a, b = normalize(s_rows, s_cols), normalize(o_rows, o_cols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if msgs:
            failures.append((name, "; ".join(msgs)))
            print(f"FAIL  {name}: {'; '.join(msgs)[:800]}")
        else:
            print(f"ok    {name}: {len(s_rows)} rows ({time.perf_counter()-t0:.1f}s)")

    print(f"\n{checked} oracle-checked, {rows_only} rows-only, {len(failures)} failures")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
