"""Measurement helpers: percentiles, spans, counter readers and the timing sink.

Everything here observes the engine from outside, at the calls the benchmark
makes into it. Counters are read through py4j from the JVM behind the session: stage
metrics from the in-process status store (it is populated with the UI off),
compile times from Spark's ``CodegenMetrics`` histogram.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

from oplogtoredis_spark.streaming.lake import LakeTable

MB = 1024 * 1024


def percentile(samples, q: float, min_beyond: int = 10):
    """Nearest-rank ``q``-quantile (0 < q < 1), or None unless at least
    ``min_beyond`` samples lie beyond it."""
    xs = sorted(samples)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(samples):
    return statistics.median(samples) if samples else None


def p90_or_max(samples):
    """p90 where the sample supports it, else the largest sample (per-layer
    summaries of a handful of epochs)."""
    p = percentile(samples, 0.9)
    return max(samples, default=0.0) if p is None else p


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A span's layer is
    its name up to the last dot. A span nests under the innermost open span
    of its own thread; on a thread with none open (foreachBatch callbacks,
    the tail's feeder and reader) it nests under the innermost open span of
    the thread that made the tracer."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._main = threading.get_ident()
        self._stacks: dict[int, list] = {}
        self._lock = threading.Lock()

    def _stack(self) -> list:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _parent(self):
        for stack in (self._stack(), self._stacks.get(self._main, [])):
            if stack:
                return stack[-1]
        return None

    def span(self, name: str):
        return _Span(self, name)

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sorted(
            (c for c in self.spans if c["parent"] == span["id"]), key=lambda c: c["start"]
        )
        covered, hi = 0.0, span["start"]
        for c in kids:
            lo, end = max(c["start"], hi), min(c["end"], span["end"])
            if end > lo:
                covered += end - lo
                hi = end
        return span["end"] - span["start"] - covered

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time of its spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + self.self_time(s)
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.start = time.time()
        if not self.t.enabled:
            return self
        with self.t._lock:
            self.parent = self.t._parent()
            self.id = len(self.t.spans)
            self.t.spans.append(None)
        self.t._stack().append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.t.enabled:
            self.t._stack().pop()
            self.t.spans[self.id] = {
                "id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "run": self.t.run_id,
            }
        return False

    @property
    def secs(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------- counters


def _to_json(spark, obj):
    """Serialize a status-store result in one py4j call."""
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    return json.loads(mapper.writeValueAsString(obj))


def stage_rows(spark) -> list[dict]:
    """Completed stages known to the status store (it keeps only the last
    ``spark.ui.retainedStages``, so callers snapshot at phase boundaries)."""
    sc = spark.sparkContext
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    store = sc._jsc.sc().statusStore()
    out = []
    for s in _to_json(spark, store.stageList(None, False, False, quantiles, None)):
        if s["status"] != "COMPLETE":
            continue
        out.append({
            "id": (s["stageId"], s["attemptId"]),
            "tasks": s["numCompleteTasks"],
            "run_s": s["executorRunTime"] / 1e3,
            "cpu_s": s["executorCpuTime"] / 1e9,
            "gc_s": s["jvmGcTime"] / 1e3,
            "shuffle_read_mb": s["shuffleReadBytes"] / MB,
            "shuffle_write_mb": s["shuffleWriteBytes"] / MB,
            "spill_mb": s["diskBytesSpilled"] / MB,
        })
    return out


def job_stages(spark) -> dict[int, tuple[int, str | None]]:
    """Stage id -> (job id, job group) for every job the store retains."""
    out = {}
    for j in _to_json(spark, spark.sparkContext._jsc.sc().statusStore().jobsList(None)):
        for sid in j["stageIds"]:
            out[sid] = (j["jobId"], j.get("jobGroup"))
    return out


def codegen_snapshot(spark) -> tuple[int, float]:
    """(compiles so far, compile seconds so far). The histogram's reservoir
    holds every sample below its 1028-sample size; past that the sum is
    estimated from the reservoir mean."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    snap = h.getSnapshot()
    vals = list(snap.getValues())
    total_ms = sum(vals) if n <= len(vals) else snap.getMean() * n
    return n, total_ms / 1e3


def jit_compile_s(spark) -> float:
    """Seconds the JVM's JIT compiler threads have spent so far, summed over
    the threads (``CompilationMXBean.getTotalCompilationTime``)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


class Counters:
    """Stage, job, codegen and JIT counters accumulated between ``mark``
    calls, by phase name. Stages and jobs count toward the phase during which
    they completed; each stage row carries its job group."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.phases: dict[str, list[dict]] = {}
        self.codegen: dict[str, tuple[int, float]] = {}
        self.jit: dict[str, float] = {}
        self.jobs: dict[str, int] = {}
        if enabled:
            self._seen = {r["id"] for r in stage_rows(spark)}
            self._seen_jobs = {j for j, _ in job_stages(spark).values()}
            self._cg = codegen_snapshot(spark)
            self._jit = jit_compile_s(spark)

    def mark(self, phase: str) -> None:
        if not self.enabled:
            return
        groups = job_stages(self.spark)
        new = [r for r in stage_rows(self.spark) if r["id"] not in self._seen]
        for r in new:
            r["group"] = groups.get(r["id"][0], (None, None))[1]
        self._seen.update(r["id"] for r in new)
        self.phases.setdefault(phase, []).extend(new)
        jobs = {j for j, _ in groups.values()} - self._seen_jobs
        self._seen_jobs |= jobs
        self.jobs[phase] = self.jobs.get(phase, 0) + len(jobs)
        cg = codegen_snapshot(self.spark)
        n0, s0 = self.codegen.get(phase, (0, 0.0))
        self.codegen[phase] = (n0 + cg[0] - self._cg[0], s0 + cg[1] - self._cg[1])
        self._cg = cg
        jit = jit_compile_s(self.spark)
        self.jit[phase] = self.jit.get(phase, 0.0) + jit - self._jit
        self._jit = jit


def sum_of(rows: list[dict], key: str) -> float:
    return float(sum(r[key] for r in rows))


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / MB


# ---------------------------------------------------------------- timing sink


def timing_sink(tracer: Tracer, record: dict):
    """A ``sink_factory`` whose LakeTable times ``merge_batch`` and
    ``maybe_compact`` and keeps each epoch's returned lineage stats."""

    class TimedLakeTable(LakeTable):
        def merge_batch(self, batch, batch_id, *a, **kw):
            with tracer.span("streaming.lake.merge_batch") as sp:
                stats = super().merge_batch(batch, batch_id, *a, **kw)
            deltas = self.manifest().get("bucket_deltas", {}).values()
            record.setdefault("merges", []).append({
                "secs": sp.secs,
                "live_deltas": max((len(ds) for ds in deltas), default=0),
                **stats,
            })
            return stats

        def maybe_compact(self, spark, *a, **kw):
            with tracer.span("streaming.lake.maybe_compact") as sp:
                out = super().maybe_compact(spark, *a, **kw)
            record.setdefault("compacts", []).append(
                {"secs": sp.secs, "compacted": bool(out.get("compacted"))}
            )
            return out

    return TimedLakeTable
