"""Misra-Gries heavy-hitters sketch as a mergeable two-level
aggregation — the frequent-items member of the engine's mergeable-
sketch family (HLL: `plans/analysis_ops.py::agg_hll_mergeable` for
cardinality; `approx_percentile` twins for quantiles; this module for
top-k items).

Why a sketch at all: exact top-k over a token stream needs a full
(token → count) table — a vocabulary-sized shuffle. Misra-Gries keeps
k counters per PARTITION (decrement-all when full), so the shuffle is
k rows per partition regardless of vocabulary size, and summaries
merge by counter addition. The price is a per-partition undercount
bounded by its decrement total; the merged bound E = Σ decrements
gives per-item guarantees: lb ≤ true ≤ lb + E, and ANY item with true
frequency > E is guaranteed present (it cannot be decremented away
everywhere). Public reference: Misra & Gries, "Finding repeated
elements" (1982); the merge property is from Agarwal et al.,
"Mergeable Summaries" (PODS'12).

Executor Python is sanctioned here (Arrow-batched mapInPandas): sketch
state is exactly the case the repo's no-UDF rule carves out — a
stateful fold no relational composition expresses with bounded memory.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def mg_partials(tokens: DataFrame, col: str = "tok", k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries of the ``col`` stream.

    Output: one row per surviving counter — (pid, tok, c, d) where c is
    the counter value (a LOWER bound on the partition-local frequency),
    and d is the partition's total decrement count (repeated on each of
    its rows; aggregate with first-per-pid). k counters per partition →
    the downstream shuffle is ≤ k rows/partition, independent of
    vocabulary size.

    NULL tokens are ignored (SQL-aggregate semantics: NULL is the
    absence of an item, not an item) — a NULL in the output is always
    the empty-partition error sentinel, never a counted token."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counters: dict[str, int] = {}
        decrements = 0
        for pdf in batches:
            # dropna: NULL tokens are not items (doc above) — without
            # this a genuine NULL would become a counter key and then
            # be silently conflated with the error sentinel downstream
            for tok in pdf[col].dropna():
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    # decrement-all: charge one unit of error to every
                    # counter AND the arriving item
                    decrements += 1
                    dead = []
                    for t in counters:
                        counters[t] -= 1
                        if counters[t] == 0:
                            dead.append(t)
                    for t in dead:
                        del counters[t]
        toks = list(counters)
        cs = list(counters.values())
        if not counters and decrements:
            # a final decrement-all can wipe EVERY counter; the
            # partition's error budget must still reach the merge —
            # emit a sentinel row (tok NULL, c 0) carrying d
            toks, cs = [None], [0]
        yield pd.DataFrame({
            "pid": pd.array([pid] * len(toks), dtype="int32"),
            "tok": toks,
            "c": pd.array(cs, dtype="int64"),
            "d": pd.array([decrements] * len(toks), dtype="int64"),
        })

    return tokens.mapInPandas(
        summarize, schema="pid int, tok string, c long, d long")


def mg_topk(tokens: DataFrame, col: str = "tok", k: int = 64,
            topk: int = 50) -> DataFrame:
    """Merged Misra-Gries top-k: (tok, lb, ub, guaranteed).

    lb = Σ partition counters (lower bound on true frequency);
    ub = lb + E where E = Σ partition decrement totals;
    guaranteed = lb > the (topk+1)-th candidate's ub would require the
    full candidate table — the deliverable flag here is the simpler
    sound statement lb > E ⇒ the item's true count strictly exceeds
    every absent item's possible count (an absent item's true ≤ E)."""
    from ..seams import persist_seam

    # persisted seam (caller releases via seams.release_seams): merged
    # counts and the error budget both consume the partials — without
    # it the Python sketch fold over the whole token stream runs twice
    # (Catalyst won't reuse the subtree)
    partials = persist_seam(mg_partials(tokens, col, k))
    merged = (partials.where(F.col("tok").isNotNull())
              .groupBy("tok").agg(F.sum("c").alias("lb")))
    err = (partials.groupBy("pid").agg(F.first("d").alias("d"))
           .agg(F.coalesce(F.sum("d"), F.lit(0)).alias("E")))
    return (
        merged.join(err)
        .select(
            "tok", "lb", (F.col("lb") + F.col("E")).alias("ub"),
            (F.col("lb") > F.col("E")).alias("guaranteed"))
        .orderBy(F.desc("lb"), "tok")
        .limit(topk)
    )
