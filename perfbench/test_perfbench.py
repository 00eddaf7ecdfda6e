"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

They check the oracle digest, input generation in a child process, the
percentile rule, span self times, the checkpoint-to-freshness mapping (on a
synthetic checkpoint and on a short real stream) and that a whole run leaves
nothing behind outside the checkout's ``.perfbench`` input cache.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from oplogtoredis_spark.plans.oracle import assert_parity, replay_oracle  # noqa: E402
from oplogtoredis_spark.sources.generator import generate_events  # noqa: E402

from freshness import file_batches, segment_freshness  # noqa: E402
from inputs import DENYLIST, InputCache, check_state, digest, keyed_hashes  # noqa: E402
from probes import Tracer, percentile  # noqa: E402


@pytest.fixture(scope="module")
def small_state():
    return replay_oracle(generate_events(n_events=3000, n_repos=40, seed=7), DENYLIST)


def test_digest_agrees_with_assert_parity(small_state):
    engine = small_state.sample(frac=1.0, random_state=1)  # another row order
    assert_parity(engine, small_state)
    assert digest(keyed_hashes(engine)) == digest(keyed_hashes(small_state))
    assert check_state(engine, keyed_hashes(small_state)) is None


def test_digest_catches_a_corrupted_row(small_state):
    bad = small_state.copy()
    bad.loc[5, "content_sha256"] = "0" * 64
    with pytest.raises(AssertionError):
        assert_parity(bad, small_state)
    key = f"{bad.loc[5, 'repo']}|{bad.loc[5, 'path']}"
    assert check_state(bad, keyed_hashes(small_state)) == f"{key} (differs)"


def test_digest_catches_a_missing_and_a_stale_row(small_state):
    oracle = keyed_hashes(small_state)
    missing = small_state.drop(index=3)
    with pytest.raises(AssertionError):
        assert_parity(missing, small_state)
    row = small_state.loc[3]
    assert check_state(missing, oracle) == f"{row['repo']}|{row['path']} (missing)"
    stale = small_state.copy()
    stale.loc[0, "last_tx_idx"] += 1
    with pytest.raises(AssertionError):
        assert_parity(stale, small_state)
    assert check_state(stale, oracle).endswith("(differs)")


def test_generation_in_a_child_matches_inline_generation(tmp_path):
    args = {"n_events": 2000, "n_chunks": 1, "files_per_chunk": 2, "n_repos": 20,
            "paths_per_repo": 5}
    cache = InputCache(str(tmp_path / "a"))
    pending = cache.start("t", args, 3, str(tmp_path))
    try:
        got = pending.result()
    finally:
        pending.close()
    want = InputCache(str(tmp_path / "b")).log("t", args, 3)
    assert got["events"] == want["events"]
    assert digest(got["oracle"]) == digest(want["oracle"])
    assert cache.start("t", args, 3, str(tmp_path)).proc is None  # cached: no child
    slow = cache.start("t", dict(args, n_events=2_000_000), 4, str(tmp_path))
    slow.close()
    assert slow.proc.poll() is not None


def test_p90_needs_ten_samples_beyond_it():
    assert percentile(range(99), 0.9) is None
    assert percentile(range(100), 0.9) == 89
    assert percentile(range(1000), 0.9) == 899
    assert percentile([], 0.5) is None
    assert percentile([3.0, 1.0, 2.0], 0.5, min_beyond=0) == 2.0
    assert percentile([3.0, 1.0, 2.0], 0.5) is None


def test_self_time_excludes_children_and_foreign_threads_nest():
    import threading

    t = Tracer("r", True)
    with t.span("a.outer"):
        time.sleep(0.02)
        with t.span("b.inner"):
            time.sleep(0.05)
        th = threading.Thread(target=lambda: t.span("c.cb").__enter__().__exit__())
        th.start()
        th.join(5)
    outer, inner, cb = t.spans
    assert inner["parent"] == outer["id"] and cb["parent"] == outer["id"]
    st = t.self_times()
    assert st["b"] >= 0.05 and 0.015 <= st["a"] < outer["end"] - outer["start"] - 0.049


def _write_log(path, version, entries):
    with open(path, "w") as f:
        f.write(f"v{version}\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_freshness_mapping_reads_compact_files(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    commits = tmp_path / "commits"
    commits.mkdir()
    entry = lambda n, b: {"path": f"file:///x/seg-{n}.parquet", "timestamp": 0, "batchId": b}  # noqa: E731
    # batches 0-1 folded into 1.compact, batch 2 in its own file, batch 3 in flight
    _write_log(src / "1.compact", 1, [entry(0, 0), entry(1, 1), entry(2, 1)])
    _write_log(src / "2", 1, [entry(3, 2)])
    _write_log(src / ".3.tmp", 1, [entry(4, 3)])
    for b, t in ((0, 100.0), (1, 101.0), (2, 103.0)):
        (commits / str(b)).write_text("v1\n{}\n")
        os.utime(commits / str(b), (t, t))
    assert file_batches(str(tmp_path)) == {
        "seg-0.parquet": 0, "seg-1.parquet": 1, "seg-2.parquet": 1, "seg-3.parquet": 2,
    }
    due = {f"seg-{i}.parquet": 99.0 + i * 0.5 for i in range(5)}
    fresh, missing = segment_freshness(str(tmp_path), due)
    assert missing == ["seg-4.parquet"]
    assert fresh == pytest.approx({
        "seg-0.parquet": 1.0, "seg-1.parquet": 1.5, "seg-2.parquet": 1.0, "seg-3.parquet": 2.5,
    })


@pytest.fixture(scope="module")
def spark():
    from oplogtoredis_spark.session import get_spark
    from run import _stop_jvm

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4)
    yield s
    _stop_jvm(s)  # also waits for the JVM to exit


def test_freshness_mapping_on_a_short_tail_run(spark, tmp_path):
    """Three rounds of segments, each published after the previous round
    committed: each round lands in later batches than the one before, and
    freshness is measured against the commit of the batch that read it."""
    from oplogtoredis_spark.sources.generator import write_events
    from oplogtoredis_spark.streaming.runner import start_stream
    from workloads import CFG, _publish, _wait_committed

    src, events, staging = tmp_path / "src", tmp_path / "events", tmp_path / "staging"
    for d in (events, staging):
        d.mkdir()
    files = write_events(generate_events(n_events=600, n_repos=20, seed=3), str(src), n_files=6)
    ckpt = str(tmp_path / "ckpt")
    q = start_stream(spark, str(events), str(tmp_path / "table"), ckpt, CFG,
                     available_now=False, max_files_per_trigger=100, merge_mode="mor")
    due = {}
    try:
        for r in range(3):
            for f in files[2 * r: 2 * r + 2]:
                due[os.path.basename(f)] = time.time()
                _publish(f, str(staging), str(events))
            _wait_committed(ckpt, due, time.time() + 120)
    finally:
        q.stop()
    batches = file_batches(ckpt)
    rounds = [[batches[os.path.basename(f)] for f in files[2 * r: 2 * r + 2]] for r in range(3)]
    assert rounds[0][0] == 0
    assert max(rounds[0]) < min(rounds[1]) and max(rounds[1]) < min(rounds[2])
    fresh, missing = segment_freshness(ckpt, due)
    assert not missing
    commits = {b: os.path.getmtime(os.path.join(ckpt, "commits", str(b)))
               for b in set(batches.values())}
    for f in files:
        name = os.path.basename(f)
        assert fresh[name] == pytest.approx(commits[batches[name]] - due[name])
        assert 0 < fresh[name] < 120


def _listing(path):
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def test_a_run_leaves_nothing_outside_the_input_cache():
    watched = ["/tmp", "/dev/shm/otr_scratch", "/dev/shm/spark-tmp"]
    before = {d: _listing(d) for d in watched}
    state = os.path.join(ROOT, ".perfbench")
    runs_before = _listing(os.path.join(state, "runs"))
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "replay_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    for d in watched:
        assert _listing(d) - before[d] == set(), d
    assert _listing(os.path.join(state, "runs")) == runs_before
