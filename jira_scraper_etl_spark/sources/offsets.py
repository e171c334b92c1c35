"""Checkpoint offset store for the incremental Jira source.

Mirrors the reference's checkpoint semantics (`extract.py:53-120`): a
JSON file per project holding ``{"start_at": int, "last_updated":
iso-timestamp-or-null}``, a legacy ``.txt`` file holding only the
integer ``start_at`` (written for backward compatibility, read as a
fallback), and missing/corrupt files degrading to a zero offset.

In Spark terms this is the batch analog of a Structured Streaming
offset log: ``load`` is ``initialOffset``, ``save`` is ``commit``.
The streaming reader (sources/jira_rest.py) seeds its initial offset
from it and mirrors each commit into it — once a streaming query runs,
Spark's own ``checkpointLocation`` owns offset durability.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class Offset:
    start_at: int = 0
    last_updated: str | None = None  # ISO-8601, as emitted by the API

    def to_json(self) -> dict:
        return {"start_at": self.start_at, "last_updated": self.last_updated}


def _paths(checkpoint_dir: str, project: str) -> tuple[str, str]:
    return (os.path.join(checkpoint_dir, f"{project}.json"),
            os.path.join(checkpoint_dir, f"{project}.txt"))


def load(checkpoint_dir: str, project: str) -> Offset:
    """Load a project's offset; JSON preferred, legacy txt fallback,
    zero offset when neither exists or parses."""
    json_path, txt_path = _paths(checkpoint_dir, project)
    try:
        with open(json_path) as f:
            d = json.load(f)
        return Offset(int(d.get("start_at", 0)), d.get("last_updated"))
    except (OSError, ValueError, TypeError):
        pass
    try:
        with open(txt_path) as f:
            return Offset(int(f.read().strip()), None)
    except (OSError, ValueError):
        return Offset()


def save(checkpoint_dir: str, project: str, offset: Offset) -> None:
    """Persist both formats, JSON authoritative (parity with the
    reference's dual write, `extract.py:90-120`). Atomic via temp+rename
    — the reference's non-atomic write is a documented defect
    (SURVEY.md §4.2), not a behavior to preserve."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    json_path, txt_path = _paths(checkpoint_dir, project)
    tmp = json_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(offset.to_json(), f)
    os.replace(tmp, json_path)
    with open(txt_path, "w") as f:
        f.write(str(offset.start_at))
