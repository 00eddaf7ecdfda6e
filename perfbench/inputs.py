"""Seed-keyed input cache and the oracle digest the benchmark checks against.

Every log comes from ``sources.generator.write_events_chunked`` with the
generator's default skew (1% of repos get 50% of events), 2% redeliveries
and 5% late events. A cache entry is keyed on every generator argument, and
its ``DONE`` marker is written last, so an interrupted generation is redone
rather than read half-written.

The digest is order-independent: each final-state row hashes to 64 bits over
(repo, path, content_sha256, last_ts, last_tx_idx) and the digest is the row
count plus the sum of the hashes mod 2**64. The per-key hashes are kept next
to it so a mismatch can name the first bad key.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd

from oplogtoredis_spark.plans.oracle import replay_oracle
from oplogtoredis_spark.sources.generator import write_events_chunked

#: repos the generator interleaves and the engine must drop
DENYLIST = ("denied_org/repo0", "denied_org/repo1")

#: the log replay_batch replays whole: ~10 events per key, as in a backlog
#: of a long-running source, and large enough that scan, filter and collapse
#: outweigh the ~0.3 s of per-query planning a replay also pays (the larger
#: the log, the less the JIT's and the host's noise moves the result)
REPLAY_ARGS = {
    "n_events": 640_000,
    "n_chunks": 2,
    "files_per_chunk": 4,
    "n_repos": 6400,
    "paths_per_repo": 10,
}

#: the backlog catchup_cow drains: 8 files, so 4 epochs at the runner's
#: default of 2 files per trigger
BACKLOG_ARGS = {
    "n_events": 80_000,
    "n_chunks": 2,
    "files_per_chunk": 4,
    "n_repos": 800,
    "paths_per_repo": 10,
}

def tail_args(n_segments: int, segment_events: int) -> dict:
    """The log tail_mor_reads publishes one file (segment) at a time."""
    return {
        "n_events": n_segments * segment_events,
        "n_chunks": 1,
        "files_per_chunk": n_segments,
        "n_repos": 800,
        "paths_per_repo": 10,
    }


#: old cache entries beyond this many are evicted, oldest first
MAX_ENTRIES = 12

DIGEST_COLS = ("repo", "path", "content_sha256", "last_ts", "last_tx_idx")


def _row_hashes(state: pd.DataFrame) -> np.ndarray:
    joined = state[DIGEST_COLS[0]].astype(str)
    for c in DIGEST_COLS[1:]:
        joined = joined.str.cat(state[c].astype(str), sep="\x1f")
    return np.array(
        [int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "little") for s in joined],
        dtype=np.uint64,
    )


def keyed_hashes(state: pd.DataFrame) -> pd.DataFrame:
    """(repo, path, h): one 64-bit hash per final-state row."""
    state = state[list(DIGEST_COLS)].copy()
    state["content_sha256"] = state["content_sha256"].fillna("")
    state["last_ts"] = state["last_ts"].astype("int64")
    state["last_tx_idx"] = state["last_tx_idx"].astype("int64")
    return pd.DataFrame(
        {"repo": state["repo"].to_numpy(), "path": state["path"].to_numpy(),
         "h": _row_hashes(state)}
    )


def digest(hashes: pd.DataFrame) -> str:
    total = int(hashes["h"].to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return f"{len(hashes)}:{total:016x}"


def first_bad_key(engine: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """The smallest (repo, path) whose row differs, is missing or is extra."""
    m = engine.merge(oracle, on=["repo", "path"], how="outer", suffixes=("_e", "_o"))
    bad = m[m["h_e"].isna() | m["h_o"].isna() | (m["h_e"] != m["h_o"])]
    if not len(bad):
        return None
    row = bad.sort_values(["repo", "path"]).iloc[0]
    what = "missing" if pd.isna(row["h_e"]) else "extra" if pd.isna(row["h_o"]) else "differs"
    return f"{row['repo']}|{row['path']} ({what})"


def check_state(engine_state: pd.DataFrame, oracle_hashes: pd.DataFrame) -> str | None:
    """None if the engine state matches the oracle, else the first bad key."""
    eh = keyed_hashes(engine_state)
    if digest(eh) == digest(oracle_hashes):
        return None
    return first_bad_key(eh, oracle_hashes) or "digest differs"


class Pending:
    """A log being generated by a child process (see ``InputCache.start``)."""

    def __init__(self, cache: "InputCache", key: tuple, proc, err_path: str | None):
        self.cache, self.key, self.proc, self.err_path = cache, key, proc, err_path

    def done(self) -> bool:
        return self.proc is None or self.proc.poll() is not None

    def result(self) -> dict:
        if self.proc is not None and self.proc.wait() != 0:
            with open(self.err_path) as f:
                raise RuntimeError("input generation failed: " + f.read()[-2000:])
        return self.cache.log(*self.key)

    def close(self) -> None:
        """Stop the child if it still runs, and wait for it."""
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


class InputCache:
    """Generated logs under ``root``, one entry per (kind, arguments, seed)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _entry(self, kind: str, args: dict, seed: int) -> str:
        key = json.dumps({"kind": kind, "seed": seed, **args}, sort_keys=True)
        tag = hashlib.sha256(key.encode()).hexdigest()[:16]
        return os.path.join(self.root, f"{kind}-s{seed}-{tag}")

    def _evict(self, keep: str) -> None:
        entries = [
            os.path.join(self.root, d) for d in os.listdir(self.root)
            if os.path.join(self.root, d) != keep
        ]
        entries.sort(key=os.path.getmtime)
        for d in entries[: max(0, len(entries) + 1 - MAX_ENTRIES)]:
            shutil.rmtree(d, ignore_errors=True)

    def start(self, kind: str, args: dict, seed: int, work: str) -> Pending:
        """Generate a log in a child process, unless it is cached; the
        caller goes on meanwhile and takes the log with ``result()``."""
        key = (kind, args, seed)
        if os.path.exists(os.path.join(self._entry(*key), "DONE")):
            return Pending(self, key, None, None)
        err_path = os.path.join(work, f"gen-{kind}-s{seed}.err")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(err_path, "w") as err:
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), self.root,
                 json.dumps({"kind": kind, "args": args, "seed": seed})],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=err,
                env={**os.environ, "PYTHONPATH": os.pathsep.join(
                    filter(None, [root, os.environ.get("PYTHONPATH")]))},
            )
        return Pending(self, key, proc, err_path)

    def log(self, kind: str, args: dict, seed: int) -> dict:
        """Generate (or reuse) a log; returns its events dir, file list,
        event count and the oracle's keyed hashes of its final state."""
        entry = self._entry(kind, args, seed)
        done = os.path.join(entry, "DONE")
        events = os.path.join(entry, "events")
        if not os.path.exists(done):
            shutil.rmtree(entry, ignore_errors=True)
            self._evict(entry)
            os.makedirs(entry)
            n = write_events_chunked(events, seed=seed, **args)
            full = pd.read_parquet(events)
            keyed_hashes(replay_oracle(full, DENYLIST)).to_parquet(
                os.path.join(entry, "oracle.parquet"), index=False
            )
            with open(os.path.join(entry, "meta.json"), "w") as f:
                json.dump({"kind": kind, "seed": seed, "args": args, "events": n}, f)
            with open(done, "w") as f:
                f.write("ok\n")
        os.utime(entry)
        with open(os.path.join(entry, "meta.json")) as f:
            meta = json.load(f)
        return {
            "dir": events,
            "files": sorted(os.path.join(events, p) for p in os.listdir(events)),
            "events": meta["events"],
            "oracle": pd.read_parquet(os.path.join(entry, "oracle.parquet")),
        }


if __name__ == "__main__":
    # python3 inputs.py <cache root> '{"kind": ..., "args": {...}, "seed": N}'
    spec = json.loads(sys.argv[2])
    InputCache(sys.argv[1]).log(spec["kind"], spec["args"], spec["seed"])
