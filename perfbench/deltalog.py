"""Independent reading of a Delta log: commit files listed and parsed
straight from ``_delta_log`` with the standard library."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

_COMMIT = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")


def _listing(table: str) -> tuple[list[int], list[int]]:
    names = os.listdir(os.path.join(table, "_delta_log"))
    commits = sorted(int(m.group(1)) for n in names if (m := _COMMIT.match(n)))
    ckpts = sorted({int(m.group(1)) for n in names if (m := _CHECKPOINT.match(n))})
    return commits, ckpts


def latest_version(table: str) -> int:
    return _listing(table)[0][-1]


def checkpoints(table: str) -> list[int]:
    return _listing(table)[1]


def tail_commits(table: str) -> int:
    """JSON commits after the last checkpoint."""
    commits, ckpts = _listing(table)
    last = ckpts[-1] if ckpts else -1
    return sum(1 for v in commits if v > last)


def actions(table: str, version: int) -> list[dict]:
    with open(os.path.join(table, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def live_files(table: str) -> dict[int, frozenset[str]]:
    """Live data-file paths at every version, replayed from the JSON
    commits alone (the commits from version 0 are all present)."""
    live: dict[str, bool] = {}
    out: dict[int, frozenset[str]] = {}
    for v in _listing(table)[0]:
        for a in actions(table, v):
            if "remove" in a:
                live.pop(unquote(a["remove"]["path"]), None)
            elif "add" in a:
                live[unquote(a["add"]["path"])] = True
        out[v] = frozenset(live)
    return out


def commit_summary(table: str, version: int) -> dict:
    """Add bytes, add rows and remove count of one commit."""
    acts = actions(table, version)
    adds = [a["add"] for a in acts if "add" in a]
    removes = [a for a in acts if "remove" in a]
    rows = sum(json.loads(a["stats"])["numRecords"] for a in adds if a.get("stats"))
    return {"add_bytes": sum(a["size"] for a in adds), "add_rows": rows,
            "removes": len(removes)}
