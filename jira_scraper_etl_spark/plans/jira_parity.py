"""Reference-parity plan entries: the Jira silver transform itself.

These run the full transform pipeline on an embedded fixture corpus
(the reference's unit-test shapes, FIXTURES.md §1.1 edge cases) — they
take (spark, sf_dir) like every registry entry but the Jira fixture is
code-defined, so there is no DuckDB-view oracle; the driver records a
rows-only check. Value-level parity is enforced by tests/ instead:
tests/test_transform.py replays the reference's own unit fixtures, and
tests/test_golden_corpus.py diffs against the committed 414-record
golden JSONL when the reference checkout is present.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.transform import transform_issues
from ..sources.jira_rest import ISSUE_SCHEMA, issue_to_row
from .registry import register


def _fixture_rows() -> list[dict]:
    """Edge-case fixture corpus (FIXTURES.md §1.1 list)."""

    def issue(key, summary=None, description=None, status=None, priority=None,
              reporter=None, assignee=None, issuetype=None, labels=None,
              components=None, comments=None, created="2025-01-01T10:00:00.000+0000",
              updated="2025-01-02T11:30:00.000+0000"):
        return {
            "key": key, "id": "1", "self": f"https://example.org/{key}",
            "expand": None,
            "fields": {
                "summary": summary, "description": description,
                "status": {"name": status} if status else None,
                "priority": {"name": priority} if priority else None,
                "reporter": {"displayName": reporter} if reporter else None,
                "assignee": {"displayName": assignee} if assignee else None,
                "issuetype": {"name": issuetype, "subtask": False} if issuetype else None,
                "created": created, "updated": updated,
                "labels": labels or [],
                "components": [{"name": c} for c in (components or [])],
                "comment": {"comments": comments or [], "total": len(comments or []),
                            "startAt": 0, "maxResults": 50},
            },
        }

    def comment(author, body, created="2025-01-01T12:00:00.000+0000"):
        return {"author": {"displayName": author} if author else None,
                "body": body, "created": created, "updated": created}

    return [
        issue("ENG-1", summary="Fix memory leak in shuffle service",
              description="The shuffle service leaks memory. How can we reproduce it?\n"
                          "java.lang.OutOfMemoryError: heap\n"
                          "    at org.apache.spark.Shuffle.run\n"
                          "Restarting helps temporarily.",
              status="Open", priority="Major", reporter="Ada", assignee="Grace",
              issuetype="Bug", labels=["performance", "regression"],
              components=["core", "shuffle"],
              comments=[comment("Linus", "ok"),
                        comment("Margaret", "You need to bound the cache size "
                                            "in the shuffle index.")]),
        issue("ENG-2", summary="Add new streaming connector",
              description="{code}spark.readStream{code} Would a Kafka source help? "
                          "See https://ci-hadoop.apache.org/job/foo/123 for CI runs.",
              status="In Progress", priority=None, reporter="Ada", assignee=None,
              issuetype="New Feature", labels=["feature"],
              comments=[comment(None, "A Kafka source would definitely help here.")]),
        issue("ENG-3", summary=None, description=None, status=None,
              issuetype=None, created="bad-date", updated=None,
              comments=[comment("Edsger", "")]),
        issue("ENG-4", summary="Improve docs", description="Short.",
              status="Closed", issuetype="Improvement",
              labels=["documentation", "not-whitelisted"]),
        issue("ENG-5",
              summary="Speed up slow scans " + "x" * 160,
              description=("This is a very long first sentence that definitely exceeds "
                           "the one hundred and fifty character truncation limit of the "
                           "summary generator by a comfortable margin for testing"),
              status="Open", issuetype="Task"),
    ]


def fixture_df(spark: SparkSession) -> DataFrame:
    """The fixture corpus as ISSUE_SCHEMA rows, projected by the REST
    source's own ``issue_to_row``."""
    # one partition on purpose: createDataFrame spreads the 5 fixture
    # rows over defaultParallelism partitions, and every task then pays
    # the full setup of the (very large) transform expression tree —
    # 32 near-empty tasks cost ~4 s/action where one costs ~0.5 s
    rows = [issue_to_row(raw) for raw in _fixture_rows()]
    return spark.createDataFrame(rows, ISSUE_SCHEMA).coalesce(1)


@register("jira_transform_silver", oracle=None, tags=("jira", "parity"))
def jira_transform_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full silver transform (operators/transform.py) over the
    edge-case fixture corpus — scan → one projection → result, flattened
    to scalar columns for a stable driver schema."""
    out = transform_issues(fixture_df(spark))
    return out.select(
        "id", "title", "description", "status", "priority", "reporter", "assignee",
        "created", "updated",
        F.array_join("labels", "|").alias("labels"),
        F.array_join("components", "|").alias("components"),
        F.to_json("comments").alias("comments_json"),
        F.col("derived_tasks.summary").alias("derived_summary"),
        F.array_join("derived_tasks.classifications", "|").alias("classifications"),
        F.to_json("derived_tasks.qa_pairs").alias("qa_pairs_json"),
        "is_valid",
        F.array_join("validation_errors", "|").alias("validation_errors"),
    )


@register("jira_corpus_stats", oracle=None, tags=("jira", "parity"))
def jira_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/A4 corpus accounting (transformer.py:351-353, 396-417):
    per-status record counts, error counts and validity rates over the
    transformed fixture corpus — the reference's run-report numbers as
    one grouped aggregation."""
    out = transform_issues(fixture_df(spark))
    return out.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(~F.col("is_valid")).alias("n_invalid"),
        F.count_if(F.col("priority").isNull()).alias("n_no_priority"),
        F.sum(F.size("comments")).cast("long").alias("n_comments"),
    )


@register(
    "jira_source_scan",
    oracle="""
    SELECT 'SPARK-' || i AS key,
           'Issue ' || i || ' needs attention' AS summary,
           ['Open', 'In Progress', 'Resolved', 'Closed'][i % 4 + 1] AS status,
           CASE WHEN i % 7 = 0 THEN NULL ELSE
             ['Blocker', 'Critical', 'Major', 'Minor', 'Trivial'][i % 5 + 1]
           END AS priority,
           'user' || (i % 11) AS reporter,
           CASE WHEN i % 3 = 0 THEN NULL ELSE 'dev' || (i % 6) END AS assignee,
           ['Bug', 'Improvement', 'New Feature', 'Task'][i % 4 + 1] AS issuetype,
           '2025-03-' || lpad(CAST(i % 28 + 1 AS VARCHAR), 2, '0')
             || 'T' || lpad(CAST(i % 24 AS VARCHAR), 2, '0')
             || ':' || lpad(CAST(i % 60 AS VARCHAR), 2, '0')
             || ':00.000+0000' AS updated,
           CAST(CASE WHEN i % 2 = 0 THEN 0 ELSE 1 END AS INTEGER) AS n_labels,
           1 AS n_components,
           CAST(i % 3 AS INTEGER) AS n_comments
    FROM (SELECT unnest(generate_series(0, 249)) AS i)
    """,
    tags=("jira", "source"),
)
def jira_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scan through the custom Python Data Source
    (sources/jira_rest.py) against its deterministic synthetic server:
    partition-per-page-range planning, per-partition fetch with
    retry/backoff, nested-issue projection. The oracle reproduces the
    arithmetic corpus with generate_series — the one query in the suite
    whose *scan* is custom code rather than a parquet reader."""
    from ..sources import register_jira_source

    register_jira_source(spark)
    df = (spark.read.format("jira_rest")
          .option("transport", "synthetic").option("total", 250)
          .option("max_results", 50).option("project", "SPARK").load())
    return df.select(
        "key", "summary", "status", "priority", "reporter", "assignee",
        "issuetype", "updated",
        F.size("labels").alias("n_labels"),
        F.size("components").cast("int").alias("n_components"),
        F.size("comments").alias("n_comments"),
    )


@register("jira_qa_pairs_udtf", oracle=None, tags=("jira", "udtf"))
def jira_qa_pairs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDTF surface: the QA pairing step (reference
    transformer.py:92-116) re-expressed as a Python user-defined TABLE
    function — one (question, answer) row per extracted question via a
    LATERAL join.

    Like the clean_text twin (functions/text_pandas.py), this exists as the
    row-wise differential-testing mirror of the columnar path, NOT the
    hot path: the production plan is jira_transform_silver's
    regexp_extract_all + transform (whole-stage codegen, zero Python).
    A UDTF pays per-row Python dispatch and breaks codegen — the
    docstring point IS that the engine supports the API while the
    columnar form stays the default. tests/test_udtf.py asserts the
    exploded columnar qa_pairs and this UDTF agree row-for-row on the
    fixture corpus.
    """
    import re

    from pyspark.sql.functions import udtf

    from ..functions import text as T

    @udtf(returnType="question: string, answer: string")
    class ExtractQA:
        def eval(self, description, answer):
            if description is None or answer is None:
                return
            for m in re.finditer(T.QUESTION_PATTERN, description):
                yield m.group(1).strip(), answer

    spark.udtf.register("extract_qa", ExtractQA)
    sil = transform_issues(fixture_df(spark))
    base = sil.select(
        "id", "description",
        T.clean_text(T.first_answer(F.col("comments"))).alias("ans"))
    base.createOrReplaceTempView("qa_udtf_base")
    return spark.sql("""
        SELECT b.id, q.question, q.answer
        FROM qa_udtf_base b, LATERAL extract_qa(b.description, b.ans) q
    """)
