"""The silver transform: flat Jira issue rows → LLM-training corpus.

Re-expresses the reference's per-record ``transform_issue`` loop
(transformer.py:225-314) as one map-only plan over the rows that
``sources.jira_rest.issue_to_row`` projects (``ISSUE_SCHEMA``): no
shuffle, no UDF, no driver-side loop, so it scales linearly with input
splits. The projection owns the null defaults; this module owns text
cleaning, derived tasks and validation.

Two deliberate deviations from the reference (SURVEY.md §1.3, §2.2,
§2.8):
* classifications are sorted (the reference's ``list(set(...))`` order
  is Python-hash-seed nondeterministic);
* validation failures land in ``validation_errors``/``is_valid``
  columns instead of a log line (the record is still written, as in the
  reference, but the failure is queryable).

The plan is staged in two projections. ``clean_text`` is an
interpreted ``aggregate`` fold, the most expensive expression here, and
the derived-task expressions reference title, description and comments
several times each; inlined, every reference would re-run its fold per
row. The first projection computes each fold once, and the second
derives from the computed attributes (CollapseProject keeps non-cheap,
multi-referenced aliases apart).

The Column trees of both projections are built once per JVM and reused
by every call. Building them costs 4-6k py4j round trips, about
0.6-0.9 s on the driver, against about 0.05 s to analyze, optimize and
plan the result; in a pipeline run that was most of the transform's
wall time. The Columns name input columns only, so they hold no session
or input state; the memo is keyed on ``SparkContext._gateway``, so a new
JVM rebuilds it.

``write_training_shards`` is the sink for shuffled training corpora.
"""

from __future__ import annotations

import functools
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from ..functions import text as X

_S = T.StringType()


def _struct(**kw: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v) for k, v in kw.items()])


# Silver record (reference transformer.py:276-294 / FIXTURES.md §1.2)
# plus the source project and the warn-don't-drop validation channel
# (SURVEY.md §1.5).
SILVER_SCHEMA = _struct(
    id=_S, project=_S, title=_S, description=_S, status=_S, priority=_S,
    reporter=_S, assignee=_S, created=_S, updated=_S,
    labels=T.ArrayType(_S),
    components=T.ArrayType(_S),
    comments=T.ArrayType(_struct(author=_S, body=_S, created=_S)),
    derived_tasks=_struct(
        summary=_S,
        classifications=T.ArrayType(_S),
        qa_pairs=T.ArrayType(_struct(question=_S, answer=_S)),
    ),
    validation_errors=T.ArrayType(_S),
    is_valid=T.BooleanType(),
)


class _Projection(NamedTuple):
    base: list[Column]          # stage 1 of 2: the clean_text folds
    answers: dict[str, Column]  # the hoisted answer folds
    out: list[Column | str]     # stage 2: derived tasks
    errors: Column
    is_valid: Column


@functools.lru_cache(maxsize=1)
def _projection(gateway: object) -> _Projection:
    """The Columns ``transform_issues`` applies, built once per py4j
    ``gateway`` (only the cache key; see the module docstring)."""
    title = X.clean_text(F.col("summary"))
    description = X.clean_text(F.col("description"))
    # P6: skip null comment entries, then clean each body
    # (transformer.py:259-268)
    comments = F.transform(
        F.filter(F.col("comments"), lambda c: c.isNotNull()),
        lambda c: F.struct(
            c["author"].alias("author"),
            X.clean_text(c["body"]).alias("body"),
            c["created"].alias("created"),
        ),
    )
    base = [
        F.coalesce(F.col("key"), F.lit("UNKNOWN")).alias("id"),
        F.col("project"),
        title.alias("title"),
        description.alias("description"),
        F.col("status"),
        F.col("priority"),
        F.col("reporter"),
        F.col("assignee"),
        F.col("created"),
        F.col("updated"),
        F.coalesce(F.col("labels"), F.array().cast("array<string>")).alias("labels"),
        F.coalesce(F.col("components"), F.array().cast("array<string>")).alias("components"),
        comments.alias("comments"),
        F.col("summary").alias("_summary_raw"),
        F.col("issuetype").alias("_issuetype"),
    ]
    # hoist the loop-invariant answer fold out of qa_pairs' per-question
    # lambda (see the qa_pairs docstring); first_answer itself is a
    # cheap filter+element_at, fine to appear twice
    answers = {
        "_raw_answer": X.first_answer(F.col("comments")),
        "_answer": X.clean_text(X.first_answer(F.col("comments"))),
    }
    out = [
        "id", "project", "title", "description", "status", "priority",
        "reporter", "assignee", "created", "updated", "labels", "components",
        "comments",
        F.struct(
            X.generate_summary(F.col("title"), F.col("description"))
            .alias("summary"),
            X.classify_issue(F.col("_summary_raw"), F.col("labels"),
                             F.col("_issuetype")).alias("classifications"),
            X.qa_pairs(F.col("description"), F.col("comments"),
                       raw_answer=F.col("_raw_answer"),
                       answer=F.col("_answer")).alias("qa_pairs"),
        ).alias("derived_tasks"),
    ]
    errors = X.validation_errors(
        F.col("id"), F.col("title"), F.col("created"), F.col("updated"),
        F.col("comments"))
    return _Projection(base, answers, out, errors,
                       F.size("validation_errors") == 0)


def transform_issues(issues: DataFrame) -> DataFrame:
    """Silver records (``SILVER_SCHEMA``) from ``ISSUE_SCHEMA`` rows.
    Pure DataFrame→DataFrame, so batch scans, streams and fixtures all
    run the same plan."""
    p = _projection(SparkContext._gateway)
    return (issues.select(*p.base)
            .withColumns(p.answers)
            .select(*p.out)
            .withColumn("validation_errors", p.errors)
            .withColumn("is_valid", p.is_valid))


def write_training_shards(assigned: DataFrame, path: str, *,
                          n_shards: int | None = None,
                          mode: str = "overwrite") -> None:
    """Materialize a shuffled corpus as training shards — the consumer
    of plans/curation.corpus_shard_shuffle's (shard, pos) assignment:
    one directory per shard, rows stored in shuffle order.

    Exactly ONE exchange (hash on the shard id) and per-shard local
    sorts — never a global sort: ``repartition(shard)`` co-locates each
    shard, the local sort orders it in place, and the partitioned write
    streams each shard's rows in that order. A training loader that
    reads shard directories sequentially then sees the deterministic
    shuffled order at any corpus size.

    The local sort is on ``(shard, pos)``, not ``pos`` alone: the
    partitioned write REQUIRES its output ordered by the partition
    column and layers its own SortExec(shard) over a child that can't
    prove that ordering — and a spilling sort does not keep same-key
    input order between spill runs, which would silently scramble
    per-shard pos order at exactly the scale this function targets.
    Sorting (shard, pos) satisfies the required ordering structurally,
    so no extra sort is inserted and pos order is guaranteed.

    Pass ``n_shards`` when known (corpus_shard_shuffle's parameter) —
    deriving it would cost a full extra job over the assignment
    pipeline just to count distinct shard ids.
    """
    if n_shards is None:
        n_shards = assigned.select("shard").distinct().count()
    (assigned
     .repartition(n_shards, "shard")
     .sortWithinPartitions("shard", "pos")
     .write.mode(mode).partitionBy("shard").parquet(path))
