"""End-to-end silver-transform tests over the edge-case fixture corpus
(the reference's transform_issue integration tests, SURVEY.md §5.2,
re-expressed against the DataFrame pipeline)."""

from __future__ import annotations

from jira_scraper_etl_spark.operators.transform import SILVER_SCHEMA, transform_issues
from jira_scraper_etl_spark.plans.jira_parity import fixture_df


def get(rows, key):
    return next(r for r in rows if r.id == key)


def test_transform_schema(spark):
    out = transform_issues(fixture_df(spark))
    # simpleString comparison: names+types must match; our pipeline's
    # nullability is tighter than the declared schema (coalesce defaults)
    assert out.schema.simpleString() == SILVER_SCHEMA.simpleString()
    assert out.columns[:2] == ["id", "project"]


def test_transform_end_to_end(spark):
    rows = transform_issues(fixture_df(spark)).collect()
    assert len(rows) == 5

    r1 = get(rows, "ENG-1")
    assert r1.title == "Fix memory leak in shuffle service"
    # stack-trace lines stripped, prose joined
    assert r1.description == ("The shuffle service leaks memory. How can we "
                              "reproduce it? Restarting helps temporarily.")
    assert r1.status == "Open" and r1.priority == "Major"
    assert r1.reporter == "Ada" and r1.assignee == "Grace"
    assert r1.labels == ["performance", "regression"]
    assert r1.components == ["core", "shuffle"]
    assert [c.author for c in r1.comments] == ["Linus", "Margaret"]
    assert r1.derived_tasks.classifications == ["bug", "performance"]
    assert r1.derived_tasks.qa_pairs[0].question == "How can we reproduce it?"
    assert r1.derived_tasks.qa_pairs[0].answer.startswith("You need to bound")
    assert r1.is_valid

    r2 = get(rows, "ENG-2")
    assert "{code}" not in r2.description
    assert "[CI_URL]" in r2.description
    assert r2.priority is None and r2.assignee is None
    assert r2.comments[0].author == "Unknown"  # null author struct
    assert r2.derived_tasks.qa_pairs[0].answer == "A Kafka source would definitely help here."
    assert "feature" in r2.derived_tasks.classifications
    assert "new feature" in r2.derived_tasks.classifications  # issuetype verbatim

    r3 = get(rows, "ENG-3")
    assert r3.title == "" and r3.description == ""
    assert r3.status == "Unknown"  # null status struct fallback
    assert not r3.is_valid
    assert set(r3.validation_errors) == {
        "Missing or empty title",
        "Malformed date in created: bad-date",
        "Empty comment body at index 0",
    }

    r4 = get(rows, "ENG-4")
    # whitelist filtering: 'not-whitelisted' label dropped
    assert r4.derived_tasks.classifications == ["documentation", "improvement"]

    r5 = get(rows, "ENG-5")
    assert len(r5.derived_tasks.summary) == 150
    assert r5.derived_tasks.summary.endswith("...")


def test_transform_is_single_stage(spark):
    """The silver transform must stay a pure map pipeline: no shuffle
    (Exchange) anywhere in the physical plan — the property that makes
    it scale linearly to 100 TB."""
    out = transform_issues(fixture_df(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
