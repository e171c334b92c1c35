"""Plain-Python twin of ``text.clean_text``.

Exists ONLY for differential testing of the F.aggregate fold
(SURVEY.md §7.3 names the stateful error-block scan the riskiest single
operator — this is its independent reference implementation). The
production path is the pure-columnar ``text.clean_text``.
"""

from __future__ import annotations

import re

_ERROR_LINE = re.compile(
    r"^\[ERROR\]|^Exception|^at\s+[\w.]+|^\s+at\s+[\w.]+|^Caused by:"
    r"|^\s+\.\.\.\s+\d+\s+more|^java\.|»")
_ERROR_CLASS = re.compile(r"^\s*\w+(\.\w+)+(Exception|Error):")
_MARKUP = re.compile(r"\{code.*?\}|\{noformat\}")
_CI_URL = re.compile(r"https?://ci-hadoop\.apache\.org/job/\S+")


def clean_text_py(text: str | None) -> str:
    """Plain-Python clean_text with reference semantics
    (transformer.py:31-90)."""
    if text is None:
        return ""
    kept: list[str] = []
    in_error = False
    for line in text.split("\n"):
        if _ERROR_LINE.match(line) or _ERROR_CLASS.match(line):
            in_error = True
            continue
        if in_error and line.strip() and not line.startswith(" "):
            in_error = False
        if not in_error:
            cleaned = line.replace("\r", "").strip()
            if cleaned:
                kept.append(cleaned)
    out = " ".join(kept)
    out = out.replace("\t", " ")
    out = re.sub(r" {2,}", " ", out)
    out = _MARKUP.sub("", out)
    out = _CI_URL.sub("[CI_URL]", out)
    return out.strip()

