"""Freshness read from a stream's checkpoint, outside the program.

The file source logs, per micro-batch, the files it admitted
(``sources/0/<batchId>``; every ``compactInterval`` batches the log is folded
into a ``<batchId>.compact`` file that repeats all earlier entries). A batch
is complete when ``commits/<batchId>`` exists; its mtime is the commit time.
"""

from __future__ import annotations

import json
import os


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """Admitted file name -> id of the micro-batch that read it."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # tmp files of an in-flight write
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Committed batch id -> commit time (epoch seconds)."""
    d = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.path.getmtime(os.path.join(d, n)) for n in os.listdir(d) if n.isdigit()
    }


def segment_freshness(checkpoint_dir: str, due: dict[str, float]) -> tuple[dict, list]:
    """For each published segment (name -> due time), the seconds from due
    to the commit of the batch that read it. Returns (fresh, uncommitted)."""
    batches = file_batches(checkpoint_dir)
    commits = commit_times(checkpoint_dir)
    fresh, missing = {}, []
    for name, t_due in due.items():
        b = batches.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            fresh[name] = commits[b] - t_due
    return fresh, missing
