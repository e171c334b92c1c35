"""Golden-corpus differential test (SURVEY.md §5 strategy b): project
the reference's committed raw page files through the REST source's
``issue_to_row``, run the engine's silver transform, and compare field-by-field against its committed processed JSONL
(414 records). Skipped when the reference checkout is absent — the
engine itself never depends on it.

Known, documented deviations (SURVEY.md §7.3 / operators/transform.py):
* classifications compare as SETS (the reference emits Python-set order,
  which is hash-seed nondeterministic; we emit sorted).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from jira_scraper_etl_spark.operators.transform import transform_issues
from jira_scraper_etl_spark.sources.jira_rest import ISSUE_SCHEMA, issue_to_row

REF_RAW = "/root/reference/data/raw"
REF_PROCESSED = "/root/reference/data/processed"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_RAW), reason="reference checkout not present")


def load_golden(project: str) -> dict[str, dict]:
    path = f"{REF_PROCESSED}/{project}_issues.jsonl"
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            out[rec["id"]] = rec
    return out


def raw_pages(project: str) -> list[str]:
    pages = sorted(glob.glob(f"{REF_RAW}/{project}_*.json"))
    return [p for p in pages if os.path.getsize(p) > 0]


@pytest.mark.parametrize("project", ["SPARK", "KAFKA"])
def test_golden_parity(spark, project):
    pages = raw_pages(project)
    if not pages:
        pytest.skip(f"no raw pages for {project}")
    rows = []
    for page in pages:  # each page file is a JSON array of raw issues
        with open(page) as f:
            rows += [issue_to_row(raw) for raw in json.load(f)]
    flat = spark.createDataFrame(rows, ISSUE_SCHEMA)
    ours = {r["id"]: r for r in
            (row.asDict(recursive=True) for row in transform_issues(flat).collect())}
    golden = load_golden(project)

    assert set(ours) == set(golden)
    mismatches = []
    for key, g in golden.items():
        m = ours[key]
        for field in ("title", "description", "status", "priority", "reporter",
                      "assignee", "created", "updated", "labels", "components"):
            if m[field] != g[field]:
                mismatches.append((key, field, g[field], m[field]))
        if [c["body"] for c in m["comments"]] != [c["body"] for c in g["comments"]]:
            mismatches.append((key, "comments.body", g["comments"], m["comments"]))
        if [c["author"] for c in m["comments"]] != [c["author"] for c in g["comments"]]:
            mismatches.append((key, "comments.author", None, None))
        gd, md = g["derived_tasks"], m["derived_tasks"]
        if md["summary"] != gd["summary"]:
            mismatches.append((key, "derived.summary", gd["summary"], md["summary"]))
        if sorted(set(md["classifications"])) != sorted(set(gd["classifications"])):
            mismatches.append((key, "derived.classifications",
                               gd["classifications"], md["classifications"]))
        if md["qa_pairs"] != gd["qa_pairs"]:
            mismatches.append((key, "derived.qa_pairs", gd["qa_pairs"], md["qa_pairs"]))
    assert not mismatches, f"{len(mismatches)} field mismatches; first 3: {mismatches[:3]}"
