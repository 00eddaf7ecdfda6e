"""The three workloads. Each takes a ``Run`` (session, seed, window, tracer,
counters) and returns its measurements; ``run.py`` turns them into metrics.

* ``replay_batch``: whole-log LWW replay through ``replay_events_path``,
  forced with a no-op write. Scan, filter and collapse only.
* ``catchup_cow``: the same log drained with ``available_now`` into an empty
  copy-on-write ``LakeTable``.
* ``tail_mor_reads``: an open-loop feeder publishes fixed-size segments into
  a ``processingTime`` merge-on-read stream while one closed-loop reader
  issues single-key lookups.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oplogtoredis_spark.config import EngineConfig
from oplogtoredis_spark.functions.routing import bucket_for
from oplogtoredis_spark.plans.replay import replay_events_path
from oplogtoredis_spark.sources.schemas import TARGET_SCHEMA
from oplogtoredis_spark.streaming.lake import LakeTable
from oplogtoredis_spark.streaming.runner import start_stream

from inputs import (
    BACKLOG_ARGS, DENYLIST, DIGEST_COLS, REPLAY_ARGS, InputCache, check_state, tail_args,
)
from freshness import commit_times, file_batches, segment_freshness
from probes import Counters, Tracer, timing_sink

CFG = EngineConfig(denylist=DENYLIST)

#: untimed replays before the window: the first compiles the plan, the rest
#: let the JIT settle (walls fall by ~30% over the next few replays, and the
#: JVM's compiler threads take about a core of the four for a minute).
#: Counted rather than timed, so a slow host does not start the window with
#: a colder JIT; capped so a very slow one still ends in time.
REPLAY_WARMUP_REPLAYS = 7
REPLAY_WARMUP_MAX_S = 40.0
#: the warm-up replays a log of the same size and shape from this fixed
#: seed (generated once per checkout), while the run's own log is generated
#: in a child process
REPLAY_WARM_SEED = 0

#: tail_mor_reads settings. The rate (9,600 events/s) was chosen once and is
#: never recalibrated per run: calibrate.py (calibration.json) saw no backlog
#: growth up to 76,800 events/s, and logs for half of that would not fit the
#: time a run has, so it sits at most at 1/8 of capacity (README.md).
TAIL_SEGMENTS_PER_S = 6.0
#: events per segment (before the generator's ~4% junk and redeliveries)
TAIL_SEGMENT_EVENTS = 1600
#: segments published (and committed) before the window opens, in rounds:
#: the first (empty-table) epoch and a second epoch, which also runs the
#: first compaction, finish before timing
TAIL_WARM_ROUNDS = (2, 2)
#: the stream takes every published segment at each trigger
TAIL_MAX_FILES_PER_TRIGGER = 1000
TAIL_COMPACT_MIN_DELTAS = 2
#: the window publishes max(--seconds x rate, this) segments, so freshness
#: p90 has at least ten samples beyond it; at 6 segments/s the window spans
#: ~6-7 micro-batches, about every other one running a compaction, so a run's
#: freshness moves less with how many compactions fall inside its window
TAIL_MIN_SEGMENTS = 130
#: how long after its due time the last segment may take to commit
TAIL_DRAIN_S = 20.0
LOOKUP_POOL = 4096


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    cache: InputCache
    tracer: Tracer
    counters: Counters
    out: dict = field(default_factory=dict)

    def sink(self):
        """sink_factory for start_stream: the timing sink when tracing."""
        if not self.tracer.enabled:
            return None
        return timing_sink(self.tracer, self.out)

    def fail(self, what: str) -> None:
        self.out.setdefault("failures", []).append(what)


def _check(run: Run, df, oracle) -> None:
    run.out["attempted"] = run.out.get("attempted", 0) + 1
    bad = check_state(df.select(*DIGEST_COLS).toPandas(), oracle)
    if bad:
        run.fail(f"output check: first bad key {bad}")


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        p = p if isinstance(p, dict) else p.jsonValue()
        out.append({"batch": p["batchId"], "rows": p["numInputRows"], "ms": p["durationMs"]})
    return out


# ------------------------------------------------------------ replay_batch


def replay_batch(run: Run) -> None:
    warm = run.cache.log("replay", REPLAY_ARGS, REPLAY_WARM_SEED)
    tr = run.tracer

    def replay(events_dir: str) -> float:
        t0 = time.perf_counter()
        with tr.span("plans.replay.replay_events_path"):
            df = replay_events_path(run.spark, events_dir, CFG)
        with tr.span("plans.replay.action"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    pending = run.cache.start("replay", REPLAY_ARGS, run.seed, run.work)
    try:
        t_cap, n = time.monotonic() + REPLAY_WARMUP_MAX_S, 0
        while (n < REPLAY_WARMUP_REPLAYS and time.monotonic() < t_cap) or not pending.done():
            replay(warm["dir"])
            n += 1
        log = pending.result()
    finally:
        pending.close()
    run.counters.mark("warmup")
    walls = []
    t_end = time.monotonic() + run.seconds
    with tr.span("bench.window"):
        while not walls or time.monotonic() < t_end:
            walls.append(replay(log["dir"]))
    run.counters.mark("window")
    run.out.update(events=log["events"], walls=walls, attempted=len(walls))
    _check(run, replay_events_path(run.spark, log["dir"], CFG), log["oracle"])


# ------------------------------------------------------------ catchup_cow


def _catch_up(run: Run, events_dir: str, name: str, files: list[str]) -> dict:
    """Drain ``events_dir`` into a new CoW table; returns the wall time, the
    per-file commit delays and the stream's progress."""
    table = os.path.join(run.work, name, "table")
    ckpt = os.path.join(run.work, name, "ckpt")
    LakeTable.create(table, TARGET_SCHEMA, n_buckets=CFG.target_buckets)
    tr = run.tracer
    t_due = time.time()
    t0 = time.perf_counter()
    with tr.span("streaming.runner.start_stream"):
        q = start_stream(run.spark, events_dir, table, ckpt, CFG, available_now=True,
                         sink_factory=run.sink())
    with tr.span("streaming.runner.awaitTermination"):
        q.awaitTermination()
    wall = time.perf_counter() - t0
    fresh, missing = segment_freshness(ckpt, {os.path.basename(f): t_due for f in files})
    for m in missing:
        run.fail(f"segment {m} not committed")
    return {"wall": wall, "fresh": fresh, "progress": _progress(q), "table": table}


def catchup_cow(run: Run) -> None:
    log = run.cache.log("backlog", BACKLOG_ARGS, run.seed)
    # warm-up on the first four segments: an empty-table epoch, then a merge
    warm = os.path.join(run.work, "warm-events")
    os.makedirs(warm)
    for f in log["files"][:4]:
        os.link(f, os.path.join(warm, os.path.basename(f)))
    _catch_up(run, warm, "warm", log["files"][:4])
    run.out.pop("merges", None)
    run.counters.mark("warmup")
    rounds = []
    t_end = time.monotonic() + run.seconds
    with run.tracer.span("bench.window"):
        while not rounds or time.monotonic() < t_end:
            rounds.append(_catch_up(run, log["dir"], f"cow-{len(rounds)}", log["files"]))
    run.counters.mark("window")
    sizes = {os.path.basename(f): len(pd.read_parquet(f, columns=["seq"])) for f in log["files"]}
    run.out.update(
        events=log["events"], rounds=rounds, file_events=sizes,
        attempted=len(rounds) * len(log["files"]), table=rounds[-1]["table"],
    )
    _check(run, LakeTable(rounds[-1]["table"]).read(run.spark), log["oracle"])


# ------------------------------------------------------------ tail_mor_reads


class _Feeder(threading.Thread):
    """Publishes segments by atomic rename, each at its due time."""

    def __init__(self, segments, events_dir, staging, rate, t0):
        super().__init__(daemon=True)
        self.segments, self.events_dir, self.staging = segments, events_dir, staging
        self.rate, self.t0 = rate, t0
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: str | None = None

    def run(self):
        try:
            for i, src in enumerate(self.segments):
                due = self.t0 + i / self.rate
                time.sleep(max(0.0, due - time.time()))
                _publish(src, self.staging, self.events_dir)
                self.late.append(time.time() - due)
                self.due[os.path.basename(src)] = due
        except OSError as e:  # reported by the workload; the run goes on
            self.error = repr(e)


def _publish(src: str, staging: str, events_dir: str) -> None:
    name = os.path.basename(src)
    shutil.copyfile(src, os.path.join(staging, name))
    os.rename(os.path.join(staging, name), os.path.join(events_dir, name))


class _Reader(threading.Thread):
    """Closed-loop single-key lookups through LakeTable.read."""

    def __init__(self, run: Run, table: str, keys: list, seed: int):
        super().__init__(daemon=True)
        self.run_, self.table, self.keys = run, LakeTable(table), keys
        self.rng = np.random.default_rng(seed)
        self.lat: list[float] = []
        self.plan_s: list[float] = []
        self.errors: list[str] = []
        self.stop = threading.Event()

    def lookup(self) -> None:
        repo, path, b = self.keys[int(self.rng.integers(len(self.keys)))]
        tr, spark = self.run_.tracer, self.run_.spark
        t0 = time.perf_counter()
        with tr.span("streaming.lake.read") as sp:
            df = self.table.read(spark, buckets=[b]).where(
                (F.col("repo") == repo) & (F.col("path") == path)
            )
        with tr.span("streaming.lake.read_exec"):
            df.collect()
        self.lat.append(time.perf_counter() - t0)
        self.plan_s.append(sp.secs)

    def run(self):
        self.run_.spark.sparkContext.setJobGroup("perfbench-read", "lookups")
        while not self.stop.is_set():
            try:
                self.lookup()
            except Exception as e:  # counted as a failed lookup; the loop goes on
                self.errors.append(repr(e)[:200])


def _lookup_keys(run: Run, files: list[str], n_buckets: int) -> list:
    """Keys drawn from the log's own (skewed) key distribution, with their
    storage bucket."""
    ev = pd.concat(pd.read_parquet(f, columns=["repo", "path"]) for f in files)
    ev = ev[~ev["repo"].isin(DENYLIST + ("config",)) & ~ev["path"].str.startswith("system.")]
    rng = np.random.default_rng(run.seed)
    pick = ev.iloc[rng.integers(0, len(ev), LOOKUP_POOL)]
    df = run.spark.createDataFrame(pick.drop_duplicates())
    rows = df.select("repo", "path", bucket_for(F.col("repo"), F.col("path"), n_buckets)
                     .alias("b")).collect()
    return [(r.repo, r.path, r.b) for r in rows]


def _wait_committed(ckpt: str, names, deadline: float) -> None:
    names = set(names)
    while time.time() < deadline:
        batches, commits = file_batches(ckpt), commit_times(ckpt)
        if all(batches.get(n) in commits for n in names):
            return
        time.sleep(0.1)


def tail_mor_reads(run: Run, segment_events: int = TAIL_SEGMENT_EVENTS) -> None:
    rate = TAIL_SEGMENTS_PER_S
    n_warm = sum(TAIL_WARM_ROUNDS)
    n_window = max(TAIL_MIN_SEGMENTS, math.ceil(run.seconds * rate))
    log = run.cache.log("tail", tail_args(n_warm + n_window, segment_events), run.seed)
    tag = f"tail-{segment_events}"
    events = os.path.join(run.work, tag, "events")
    staging = os.path.join(run.work, tag, "staging")
    table = os.path.join(run.work, tag, "table")
    ckpt = os.path.join(run.work, tag, "ckpt")
    os.makedirs(events)
    os.makedirs(staging)
    LakeTable.create(table, TARGET_SCHEMA, n_buckets=CFG.target_buckets)
    with run.tracer.span("streaming.runner.start_stream"):
        q = start_stream(
            run.spark, events, table, ckpt, CFG, available_now=False,
            max_files_per_trigger=TAIL_MAX_FILES_PER_TRIGGER, merge_mode="mor",
            compact_min_deltas=TAIL_COMPACT_MIN_DELTAS, sink_factory=run.sink(),
        )
    try:
        _tail_body(run, q, log, n_warm, rate, events, staging, table, ckpt)
    finally:
        q.stop()


def _tail_body(run, q, log, n_warm, rate, events, staging, table, ckpt) -> None:
    segs = log["files"]
    published = 0
    for k in TAIL_WARM_ROUNDS:
        for src in segs[published:published + k]:
            _publish(src, staging, events)
        published += k
        _wait_committed(ckpt, [os.path.basename(s) for s in segs[:published]],
                        time.time() + 120)
    keys = _lookup_keys(run, segs, LakeTable(table).manifest()["n_buckets"])
    reader = _Reader(run, table, keys, run.seed)
    for _ in range(3):
        reader.lookup()
    reader.lat.clear()
    reader.plan_s.clear()
    run.out.pop("merges", None)
    run.out.pop("compacts", None)
    warm_batches = {p["batch"] for p in _progress(q)}
    run.counters.mark("warmup")

    feeder = _Feeder(segs[n_warm:], events, staging, rate, time.time() + 0.2)
    with run.tracer.span("bench.window") as win:
        reader.start()
        feeder.start()
        feeder.join()
        reader.stop.set()
        reader.join(TAIL_DRAIN_S)
    if reader.is_alive():
        run.fail("a lookup did not finish within the drain time")
    _wait_committed(ckpt, feeder.due, max(feeder.due.values()) + TAIL_DRAIN_S)
    q.stop()
    run.counters.mark("window")
    fresh, missing = segment_freshness(ckpt, feeder.due)
    for m in missing:
        run.fail(f"segment {m} not committed by the deadline")
    for e in reader.errors:
        run.fail(f"lookup raised {e}")
    if feeder.error:
        run.fail(f"feeder stopped: {feeder.error}")
    progress = [p for p in _progress(q) if p["batch"] not in warm_batches and p["rows"]]
    published = [s for s in segs[n_warm:] if os.path.basename(s) in feeder.due]
    run.out.update(
        window_events=sum(pq.ParquetFile(s).metadata.num_rows for s in published),
        # each segment stands for 1/rate s of the feed
        feed_s=max(feeder.due.values()) + feeder.late[-1] - feeder.t0 + 1 / rate,
        window_s=win.secs, fresh=list(fresh.values()), lookups=reader.lat,
        read_plan=reader.plan_s, late=feeder.late, progress=progress,
        attempted=len(feeder.due) + len(reader.lat) + len(reader.errors), table=table,
    )
    # the feeder publishes every segment of the log, so the state to match is
    # the whole log's
    _check(run, LakeTable(table).read(run.spark), log["oracle"])


WORKLOADS = {
    "replay_batch": replay_batch,
    "catchup_cow": catchup_cow,
    "tail_mor_reads": tail_mor_reads,
}
