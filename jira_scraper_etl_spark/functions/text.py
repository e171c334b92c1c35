"""Columnar re-implementations of the reference's text transforms.

Every function here is a Spark ``Column`` expression — JVM-side, inside
whole-stage codegen, no Python in the executor path. Reference behavior
citations are given per function; semantics are matched exactly
(including quirks like Python ``str.strip`` stripping all whitespace,
which Spark ``trim`` does not — we use anchored regexes instead).

The one genuinely stateful transform — the error-block line filter
(reference transformer.py:52-72) — is an ``F.aggregate`` left fold over
the line array with a ``struct<in_error, kept_lines>`` accumulator,
keeping it visible to Catalyst. A plain-Python twin lives in
``text_pandas.py`` for differential testing (SURVEY.md §7.3 risk item).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Error/stack-trace line starts (reference transformer.py:58): each
# alternative is start-anchored (the reference uses re.match, which
# anchors even the bare '»' alternative).
ERROR_LINE_PATTERN = (
    r"(?U)^\[ERROR\]|^Exception|^at\s+[\w.]+|^\s+at\s+[\w.]+|^Caused by:"
    r"|^\s+\.\.\.\s+\d+\s+more|^java\.|^»"
)
# Qualified exception-class lines (reference transformer.py:59).
ERROR_CLASS_PATTERN = r"(?U)^\s*\w+(\.\w+)+(Exception|Error):"

JIRA_MARKUP_PATTERN = r"\{code.*?\}|\{noformat\}"
CI_URL_PATTERN = r"https?://ci-hadoop\.apache\.org/job/\S+"
QUESTION_PATTERN = r"([^.!?]+\?)"


def pystrip(col: Column) -> Column:
    """Python ``str.strip()`` equivalence: strips ALL whitespace from
    both ends — Spark's ``trim`` only strips 0x20. (?U) makes Java's
    ``\\s`` match Unicode whitespace (NBSP etc.), matching Python's
    ``str.isspace`` semantics, which real Jira text exercises."""
    return F.regexp_replace(col, r"(?U)(^\s+|\s+$)", "")


def strip_error_blocks(text: Column) -> Column:
    """The stateful error-block line filter (transformer.py:52-75).

    Sequential scan over lines: an error-looking line enters "error
    block" state and is dropped; subsequent lines stay dropped until a
    non-empty line that does not start with a space resets the state
    (that line is kept). Kept lines are CR-stripped, Python-stripped,
    blank-filtered (P6/P7) and joined with single spaces.

    Implemented as a left fold (``F.aggregate``) with accumulator
    ``struct<e: boolean, a: array<string>>`` — per-row sequential
    semantics with zero shuffle and no UDF.
    """
    lines = F.split(text, "\n")
    init = F.struct(F.lit(False).alias("e"), F.array().cast("array<string>").alias("a"))

    def step(acc: Column, line: Column) -> Column:
        is_err = line.rlike(ERROR_LINE_PATTERN) | line.rlike(ERROR_CLASS_PATTERN)
        resets = acc["e"] & (pystrip(line) != "") & ~line.startswith(" ")
        new_e = F.when(is_err, F.lit(True)).when(resets, F.lit(False)).otherwise(acc["e"])
        cleaned = pystrip(F.regexp_replace(line, "\r", ""))
        keep = ~is_err & ~new_e & (cleaned != "")
        new_a = F.when(keep, F.concat(acc["a"], F.array(cleaned))).otherwise(acc["a"])
        return F.struct(new_e.alias("e"), new_a.alias("a"))

    return F.aggregate(lines, init, step, lambda acc: F.array_join(acc["a"], " "))


def clean_text(text: Column) -> Column:
    """Full ``clean_text`` (transformer.py:31-90): null→'', error-block
    line filter, tab→space, multi-space collapse, Jira {code}/{noformat}
    markup removal, CI-URL placeholder substitution, final strip."""
    t = strip_error_blocks(F.coalesce(text, F.lit("")))
    t = F.regexp_replace(t, "\t", " ")
    t = F.regexp_replace(t, " {2,}", " ")
    t = F.regexp_replace(t, JIRA_MARKUP_PATTERN, "")
    t = F.regexp_replace(t, CI_URL_PATTERN, "[CI_URL]")
    return pystrip(t)


def extract_questions(description: Column) -> Column:
    """F7: all '…?' spans of the (cleaned) description
    (transformer.py:103 ``re.findall(r'([^.!?]+\\?)')``)."""
    return F.regexp_extract_all(description, F.lit(QUESTION_PATTERN), 1)


def first_answer(comments: Column) -> Column:
    """J1 first-match pairing (transformer.py:106-114): the body of the
    FIRST comment longer than 10 chars — the same answer is reused for
    every question, faithfully preserving the reference's ``break``
    quirk. Null when no comment qualifies."""
    qualifying = F.filter(
        comments, lambda c: c["body"].isNotNull() & (F.length(c["body"]) > 10))
    # try_element_at: ANSI mode makes element_at THROW on empty arrays
    return F.try_element_at(qualifying, F.lit(1))["body"]


def qa_pairs(description: Column, comments: Column,
             raw_answer: Column | None = None,
             answer: Column | None = None) -> Column:
    """Derived QA task (transformer.py:92-116): one {question, answer}
    per extracted question, all answered by ``first_answer``; empty
    array when there is no qualifying comment (or no questions).

    The answer is ``clean_text``-ed AGAIN (the reference cleans comment
    bodies at :266 and the chosen answer a second time at :112 — the
    re-collapse of spaces left by markup removal is observable in the
    golden corpus, so we preserve it).

    ``raw_answer``/``answer`` may be passed as precomputed columns: the
    answer expression sits inside the per-question ``transform`` lambda,
    so when inlined its clean_text fold re-runs once PER QUESTION —
    loop-invariant work a caller can hoist into an earlier projection
    (operators/transform.py does)."""
    if raw_answer is None:
        raw_answer = first_answer(comments)
    if answer is None:
        answer = clean_text(raw_answer)
    pairs = F.transform(
        extract_questions(description),
        lambda q: F.struct(pystrip(q).alias("question"), answer.alias("answer")),
    )
    return F.when(raw_answer.isNull(), F.array().cast(
        "array<struct<question:string,answer:string>>")).otherwise(pairs)


def first_sentence(description: Column) -> Column:
    """F9 (transformer.py:132): text before the first ``[.!?]`` —
    NOT stripped (the reference doesn't strip it either)."""
    return F.element_at(F.split(description, r"[.!?]"), 1)


def generate_summary(title: Column, description: Column, max_length: int = 150) -> Column:
    """F10 summary composition (transformer.py:118-145): title, or
    'title - first_sentence' (first sentence alone when it already
    starts with the title, case-insensitively), truncated to
    ``max_length`` with a '...' suffix. Character-count truncation —
    a documented reference quirk (SURVEY.md §7.3)."""
    fs = first_sentence(F.coalesce(description, F.lit("")))
    composed = F.when(
        (F.coalesce(description, F.lit("")) != "") & (F.length(fs) > 5),
        F.when(F.lower(fs).startswith(F.lower(title)), fs)
        .otherwise(F.concat(title, F.lit(" - "), fs)),
    ).otherwise(title)
    return F.when(
        F.length(composed) > max_length,
        F.concat(F.substring(composed, 1, max_length - 3), F.lit("...")),
    ).otherwise(composed)


CLASSIFICATION_LABEL_WHITELIST = (
    "bug", "feature", "improvement", "performance", "security", "documentation")

_KEYWORD_RULES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("bug", ("bug", "fix", "error", "fail")),
    ("feature", ("feature", "add", "implement", "new")),
    ("improvement", ("improve", "enhance", "refactor", "update")),
    ("performance", ("performance", "slow", "fast", "speed")),
)


def classify_issue(raw_summary: Column, labels: Column, issuetype_name: Column) -> Column:
    """F12 multi-label classification (transformer.py:147-189): issue
    type + keyword rules over the RAW (uncleaned) summary + whitelisted
    labels, deduplicated.

    Deviation from reference: the output is sorted. The reference
    returns ``list(set(...))`` whose order depends on the Python hash
    seed — i.e. it is nondeterministic run-to-run; a distributed engine
    must not ship nondeterministic output, so we canonicalize.
    """
    s = F.lower(F.coalesce(raw_summary, F.lit("")))
    itype = F.lower(F.coalesce(issuetype_name, F.lit("")))
    labels_lc = F.transform(F.coalesce(labels, F.array().cast("array<string>")), F.lower)

    branches = [F.when(itype != "", itype)]
    for cls, words in _KEYWORD_RULES:
        cond = None
        for w in words:
            c = s.contains(w)
            cond = c if cond is None else (cond | c)
        branches.append(F.when(cond, F.lit(cls)))
    rule_classes = F.filter(F.array(*branches), lambda x: x.isNotNull())
    whitelist = F.array(*[F.lit(w) for w in CLASSIFICATION_LABEL_WHITELIST])
    label_classes = F.array_intersect(labels_lc, whitelist)
    return F.array_sort(F.array_distinct(F.concat(rule_classes, label_classes)))


ISO_TS_PATTERN = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"


def validation_errors(id_col: Column, title: Column, created: Column,
                      updated: Column, comments: Column) -> Column:
    """§1.5 warn-don't-drop validation (transformer.py:191-223) as a
    derived error-list column: required fields, ISO date shape (F15),
    non-empty comment bodies. The record is never dropped — ``is_valid``
    is simply ``size(errors) == 0``."""
    checks = F.array(
        F.when(id_col.isNull() | (id_col == ""), "Missing issue ID"),
        F.when(title.isNull() | (title == ""), "Missing or empty title"),
        F.when(created.isNotNull() & (created != "") & ~created.rlike(ISO_TS_PATTERN),
               F.concat(F.lit("Malformed date in created: "), created)),
        F.when(updated.isNotNull() & (updated != "") & ~updated.rlike(ISO_TS_PATTERN),
               F.concat(F.lit("Malformed date in updated: "), updated)),
    )
    comment_errors = F.transform(
        comments,
        lambda c, i: F.when(
            c["body"].isNull() | (c["body"] == ""),
            F.concat(F.lit("Empty comment body at index "), i.cast("string")),
        ),
    )
    return F.filter(F.concat(checks, comment_errors), lambda x: x.isNotNull())
