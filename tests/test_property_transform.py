"""Property-based differential test for the whole silver path — the REST
source's row projection (sources/jira_rest.issue_to_row) followed by
the silver transform (operators/transform.py): hypothesis generates raw
Jira issues with nulls in every structural position — null fields, null
nested structs, null array entries, empty/short/markup-ridden text,
malformed dates — and the Catalyst plan must agree with an independent
plain-Python replay of the documented semantics (transformer.py:225-314
parity incl. the first-answer ``break`` quirk, double-clean of the
answer, sorted classifications, warn-don't-drop validation).

The golden corpus pins 414 REAL fixture records exactly; this test
covers the structural nulls the fixtures can't enumerate. ASCII
alphabet on purpose (same rationale as test_property_text): the
contract under test is null-plumbing and composition, not unicode
regex/locale semantics.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from jira_scraper_etl_spark.functions.text import (
    CLASSIFICATION_LABEL_WHITELIST,
    ISO_TS_PATTERN,
    QUESTION_PATTERN,
    _KEYWORD_RULES,
)
from jira_scraper_etl_spark.functions.text_pandas import clean_text_py
from jira_scraper_etl_spark.operators.transform import transform_issues
from jira_scraper_etl_spark.sources.jira_rest import ISSUE_SCHEMA, issue_to_row

# -- python twins of the derived-task expressions -------------------------


def summary_py(title: str, description: str | None) -> str:
    desc = description or ""
    fs = re.split(r"[.!?]", desc)[0]
    if desc != "" and len(fs) > 5:
        composed = fs if fs.lower().startswith(title.lower()) \
            else f"{title} - {fs}"
    else:
        composed = title
    return composed[:147] + "..." if len(composed) > 150 else composed


def classify_py(raw_summary, labels, itype):
    s = (raw_summary or "").lower()
    out = []
    it = (itype or "").lower()
    if it != "":
        out.append(it)
    for cls, words in _KEYWORD_RULES:
        if any(w in s for w in words):
            out.append(cls)
    out += [lab.lower() for lab in (labels or [])
            if lab is not None and lab.lower()
            in CLASSIFICATION_LABEL_WHITELIST]
    return sorted(set(out))


def qa_pairs_py(description: str, out_comments: list) -> list:
    raw_answer = next((c["body"] for c in out_comments
                       if c["body"] is not None and len(c["body"]) > 10),
                      None)
    if raw_answer is None:
        return []
    answer = clean_text_py(raw_answer)  # the reference's double clean
    return [{"question": q.strip(), "answer": answer}
            for q in re.findall(QUESTION_PATTERN, description)]


def validation_py(rid, title, created, updated, out_comments) -> list:
    errs = []
    if rid in (None, ""):
        errs.append("Missing issue ID")
    if title in (None, ""):
        errs.append("Missing or empty title")
    for name, v in (("created", created), ("updated", updated)):
        if v is not None and v != "" and not re.search(ISO_TS_PATTERN, v):
            errs.append(f"Malformed date in {name}: {v}")
    for i, c in enumerate(out_comments):
        if c["body"] in (None, ""):
            errs.append(f"Empty comment body at index {i}")
    return errs


def transform_py(issue: dict) -> dict:
    """Plain-Python replay of operators/transform.py::transform_issues."""
    f = issue.get("fields") or {}
    fields_null = issue.get("fields") is None

    def nested(outer, inner, default=None):
        if fields_null or f.get(outer) is None:
            return default
        return f[outer].get(inner)

    title = clean_text_py(None if fields_null else f.get("summary"))
    description = clean_text_py(None if fields_null else f.get("description"))
    raw_comments = (nested("comment", "comments") or [])
    comments = [
        {"author": ("Unknown" if c.get("author") is None
                    else c["author"].get("displayName")),
         "body": clean_text_py(c.get("body")),
         "created": c.get("created")}
        for c in raw_comments if c is not None
    ]
    # coalesce semantics: only NULL defaults, "" stays "" (and then
    # trips the Missing-issue-ID validation)
    rid = issue.get("key")
    rid = "UNKNOWN" if rid is None else rid
    labels = [] if fields_null or f.get("labels") is None else f["labels"]
    components = [] if fields_null or f.get("components") is None else [
        None if c is None else c.get("name") for c in f["components"]]
    errors = validation_py(rid, title, f.get("created") if not fields_null
                           else None, f.get("updated") if not fields_null
                           else None, comments)
    return {
        "id": rid, "title": title, "description": description,
        "status": nested("status", "name", "Unknown"),
        "priority": nested("priority", "name"),
        "reporter": nested("reporter", "displayName"),
        "assignee": nested("assignee", "displayName"),
        "created": None if fields_null else f.get("created"),
        "updated": None if fields_null else f.get("updated"),
        "labels": labels, "components": components, "comments": comments,
        "summary": summary_py(title, description),
        "classifications": classify_py(
            None if fields_null else f.get("summary"), labels,
            nested("issuetype", "name")),
        "qa_pairs": qa_pairs_py(description, comments),
        "validation_errors": errors, "is_valid": not errors,
    }


# -- raw-issue generator ---------------------------------------------------

_TXT = st.text(
    "abz ?.!\n-{}/:ERORbugfixslowadd123", min_size=0, max_size=60)
_MESSY = st.one_of(
    st.none(), st.just(""), _TXT,
    st.builds(lambda a, b: f"{a}[ERROR] boom\n    at X.y(Z.java:1)\n{b}",
              _TXT, _TXT),
    st.builds(lambda a: f"Does it {a}? Yes. Is it slow{a}?", _TXT),
)
_DATE = st.one_of(st.none(), st.just(""), st.just("2024-01-02T03:04:05.000"),
                  st.just("2024/01/02"), st.just("nope"), _TXT)
_NAME = st.one_of(st.none(), st.text("abcXYZ ", max_size=8))
_COMMENT = st.one_of(
    st.none(),
    st.fixed_dictionaries({
        "author": st.one_of(
            st.none(), st.fixed_dictionaries({"displayName": _NAME})),
        "body": _MESSY,
        "created": _DATE,
        "updated": _DATE,
    }),
)
_ISSUE = st.fixed_dictionaries({
    "key": st.one_of(st.none(), st.just(""), st.text("ABC-123", max_size=8)),
    "fields": st.one_of(st.none(), st.fixed_dictionaries({
        "summary": _MESSY,
        "description": _MESSY,
        "status": st.one_of(
            st.none(), st.fixed_dictionaries({"name": _NAME})),
        "priority": st.one_of(
            st.none(), st.fixed_dictionaries({"name": _NAME})),
        "reporter": st.one_of(
            st.none(), st.fixed_dictionaries({"displayName": _NAME})),
        "assignee": st.one_of(
            st.none(), st.fixed_dictionaries({"displayName": _NAME})),
        "issuetype": st.one_of(
            st.none(), st.fixed_dictionaries({"name": st.one_of(
                st.none(), st.sampled_from(["Bug", "Task", "", "Epic"]))})),
        "created": _DATE,
        "updated": _DATE,
        "labels": st.one_of(st.none(), st.lists(st.one_of(
            st.none(), st.sampled_from(
                ["bug", "Feature", "security", "x", ""])), max_size=4)),
        "components": st.one_of(st.none(), st.lists(st.one_of(
            st.none(), st.fixed_dictionaries({"name": _NAME})), max_size=3)),
        "comment": st.one_of(st.none(), st.fixed_dictionaries({
            "comments": st.one_of(st.none(),
                                  st.lists(_COMMENT, max_size=4)),
        })),
    })),
})


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_ISSUE, min_size=1, max_size=12))
def test_silver_transform_matches_python_replay(spark, issues):
    rows = [issue_to_row(issue) for issue in issues]
    flat = spark.createDataFrame(rows, ISSUE_SCHEMA).coalesce(1)
    got = transform_issues(flat).collect()
    assert len(got) == len(issues)
    # coalesce(1) + map-only plan: output order == input order
    for issue, r in zip(issues, got):
        want = transform_py(issue)
        label = (issue, want)
        assert r.id == want["id"], label
        assert r.title == want["title"], label
        assert r.description == want["description"], label
        assert r.status == want["status"], label
        assert r.priority == want["priority"], label
        assert r.reporter == want["reporter"], label
        assert r.assignee == want["assignee"], label
        assert r.created == want["created"], label
        assert r.updated == want["updated"], label
        assert list(r.labels) == want["labels"], label
        assert list(r.components) == want["components"], label
        assert [{"author": c.author, "body": c.body, "created": c.created}
                for c in r.comments] == want["comments"], label
        assert r.derived_tasks.summary == want["summary"], label
        assert list(r.derived_tasks.classifications) \
            == want["classifications"], label
        assert [{"question": p.question, "answer": p.answer}
                for p in r.derived_tasks.qa_pairs] == want["qa_pairs"], label
        assert list(r.validation_errors) == want["validation_errors"], label
        assert r.is_valid == want["is_valid"], label
