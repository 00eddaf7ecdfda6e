"""Turns a workload's measurements into the named metrics.

End-to-end metrics are reported by every workload, each in that workload's
terms (README.md has the table):

* ``events_per_s``: input events / wall time of the ingest path
  (replay_batch: one replay forced to completion; catchup_cow: start_stream
  to awaitTermination). On the open-loop tail the feeder sets the rate: it
  is the rate the feeder achieved, and a stream that cannot keep up shows
  as uncommitted segments and growing freshness instead.
* ``freshness_p50_s`` / ``freshness_p90_s``: per input event, the time from
  when it was due until its effect was committed. Percentiles are taken
  within a repetition and the median is taken across repetitions.
* ``setup_s``: ``get_spark`` plus the first job.
"""

from __future__ import annotations

import json

import numpy as np

from probes import dir_mb, median, p90_or_max, percentile, sum_of

UNITS = {
    "setup_s": "s", "events_per_s": "1/s", "freshness_p50_s": "s",
    "freshness_p90_s": "s",
}


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _weighted_pcts(fresh: dict, weights: dict) -> tuple[float, float]:
    names = sorted(fresh)
    xs = np.repeat([fresh[n] for n in names], [weights[n] for n in names])
    return percentile(xs, 0.5), percentile(xs, 0.9)


def throughput_and_freshness(workload: str, out: dict) -> tuple[float, float, float]:
    if workload == "replay_batch":
        wall = median(out["walls"])
        return out["events"] / wall, wall, wall
    if workload == "catchup_cow":
        pcts = [_weighted_pcts(r["fresh"], out["file_events"]) for r in out["rounds"]]
        wall = median([r["wall"] for r in out["rounds"]])
        return (out["events"] / wall, median([p[0] for p in pcts]),
                median([p[1] for p in pcts]))
    fresh = out["fresh"]
    return out["window_events"] / out["feed_s"], percentile(fresh, 0.5, 0), p90_or_max(fresh)


def end_to_end(workload: str, out: dict) -> dict:
    eps, f50, f90 = throughput_and_freshness(workload, out)
    vals = {
        "setup_s": out["get_spark_s"] + out["warmup_s"],
        "events_per_s": eps,
        "freshness_p50_s": f50,
        "freshness_p90_s": f90,
    }
    return {k: _m(v, UNITS[k]) for k, v in vals.items()}


def workload_extras(workload: str, out: dict) -> dict:
    """Metrics that only one workload defines, printed in the report lines
    (traced runs also give them as per-layer metrics)."""
    x = {"peak_rss_mb": (out["peak_rss_mb"], "MB")}
    if workload == "replay_batch":
        x["replay_events_per_s"] = (out["events"] / median(out["walls"]), "1/s")
        x["replays"] = (len(out["walls"]), "count")
    if workload == "catchup_cow":
        x["catchup_events_per_s"] = (
            out["events"] / median([r["wall"] for r in out["rounds"]]), "1/s")
        x["stored_mb"] = (dir_mb(out["table"]), "MB")
    if workload == "tail_mor_reads":
        x["lookup_p50_s"] = (percentile(out["lookups"], 0.5, 0), "s")
        x["lookup_p90_s"] = (percentile(out["lookups"], 0.9), "s")
        x["freshness_samples"] = (len(out["fresh"]), "count")
        x["lookup_samples"] = (len(out["lookups"]), "count")
    return x


def report(workload: str, out: dict, failures: list, attempted: int) -> list[str]:
    lines = [f"workload {workload}"]
    for k, (v, unit) in workload_extras(workload, out).items():
        lines.append(f"metric {k} {'n/a' if v is None else f'{v:.6g}'} {unit}")
    lines.append(f"metric failed_op_frac {len(failures) / attempted:.6g} 1")
    for k in ("walls", "rounds", "progress"):
        if k in out:
            lines.append(f"detail {k} " + json.dumps(out[k] if k != "rounds" else
                                                   [r["wall"] for r in out[k]]))
    lines += [f"failure {f}" for f in failures[:20]]
    return lines


# ------------------------------------------------------------ per layer

PER_LAYER = [
    ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
    ("plans.replay.map_task_s", "s"), ("plans.replay.reduce_task_s", "s"),
    ("plans.replay.cpu_s", "s"), ("plans.replay.shuffle_mb", "MB"),
    ("plans.replay.spill_mb", "MB"), ("plans.replay.tasks", "count"),
    ("streaming.lake.merge_p50_s", "s"), ("streaming.lake.merge_p90_s", "s"),
    ("streaming.lake.merge_sum_s", "s"),
    ("streaming.lake.phase.setup_s", "s"), ("streaming.lake.phase.affected_s", "s"),
    ("streaming.lake.phase.tgt_plan_s", "s"), ("streaming.lake.phase.merge_write_s", "s"),
    ("streaming.lake.phase.bookkeeping_s", "s"),
    ("streaming.lake.epochs", "count"), ("streaming.lake.rows_out", "count"),
    ("streaming.lake.applied", "count"), ("streaming.lake.dedup_hits", "count"),
    ("streaming.lake.affected_buckets", "count"), ("streaming.lake.tasks_per_epoch", "count"),
    ("streaming.lake.shuffle_mb", "MB"), ("streaming.lake.spill_mb", "MB"),
    ("streaming.lake.compact_s", "s"), ("streaming.lake.compactions", "count"),
    ("streaming.lake.live_deltas_max", "count"),
    ("streaming.lake.read_plan_s", "s"), ("streaming.lake.read_exec_s", "s"),
    ("streaming.lake.lookup_p50_s", "s"), ("streaming.lake.lookup_p90_s", "s"),
    ("streaming.lake.stored_mb", "MB"),
    ("streaming.runner.latest_offset_s", "s"), ("streaming.runner.get_batch_s", "s"),
    ("streaming.runner.wal_commit_s", "s"), ("streaming.runner.commit_offsets_s", "s"),
    ("streaming.runner.add_batch_s", "s"), ("streaming.runner.trigger_s", "s"),
    ("streaming.runner.batches", "count"), ("streaming.runner.overhead_s", "s"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"), ("jvm.jit_compile_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.task_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.jobs", "count"),
    ("feeder.late_max_s", "s"), ("feeder.segments", "count"),
    ("process.peak_rss_mb", "MB"),
    ("trace.coverage", "1"), ("trace.events_per_s", "1/s"), ("trace.freshness_p50_s", "s"),
]


def _mean(xs):
    return float(np.mean(xs)) if len(xs) else 0.0


def per_layer(workload: str, out: dict, run) -> dict:
    c = run.counters
    v = {name: 0.0 for name, _ in PER_LAYER}
    v["session.get_spark_s"] = out["get_spark_s"]
    v["session.warmup_s"] = out["warmup_s"]
    v["process.peak_rss_mb"] = out["peak_rss_mb"]
    stages = c.phases.get("window", [])
    v["spark.task_cpu_s"] = sum_of(stages, "cpu_s")
    v["spark.task_run_s"] = sum_of(stages, "run_s")
    v["spark.gc_s"] = sum_of(stages, "gc_s")
    v["spark.jobs"] = c.jobs.get("window", 0)
    v["codegen.compiles"], v["codegen.compile_s"] = c.codegen.get("window", (0, 0.0))
    v["jvm.jit_compile_s"] = c.jit.get("window", 0.0)

    if workload == "replay_batch":
        reps = len(out["walls"])
        maps = [s for s in stages if s["shuffle_write_mb"] > 0]
        reduces = [s for s in stages if s["shuffle_read_mb"] > 0]
        v["plans.replay.map_task_s"] = sum_of(maps, "run_s") / reps
        v["plans.replay.reduce_task_s"] = sum_of(reduces, "run_s") / reps
        v["plans.replay.cpu_s"] = sum_of(stages, "cpu_s") / reps
        v["plans.replay.shuffle_mb"] = sum_of(stages, "shuffle_write_mb") / reps
        v["plans.replay.spill_mb"] = sum_of(stages, "spill_mb") / reps
        v["plans.replay.tasks"] = sum_of(stages, "tasks") / reps

    rounds = len(out.get("rounds", [])) or 1
    merges = out.get("merges", [])
    if merges:
        secs = [m["secs"] for m in merges]
        v["streaming.lake.merge_p50_s"] = median(secs)
        v["streaming.lake.merge_p90_s"] = p90_or_max(secs)
        v["streaming.lake.merge_sum_s"] = sum(secs) / rounds
        for ph in ("setup", "affected", "tgt_plan", "merge_write", "bookkeeping"):
            v[f"streaming.lake.phase.{ph}_s"] = _mean(
                [m.get("phase_secs", {}).get(ph, 0.0) for m in merges])
        v["streaming.lake.epochs"] = len(merges) / rounds
        for k in ("rows_out", "applied", "dedup_hits", "affected_buckets"):
            v[f"streaming.lake.{k}"] = sum(m.get(k, 0) for m in merges) / rounds
        lake = [s for s in stages if s.get("group") != "perfbench-read"]
        v["streaming.lake.tasks_per_epoch"] = sum_of(lake, "tasks") / len(merges)
        v["streaming.lake.shuffle_mb"] = sum_of(lake, "shuffle_write_mb") / rounds
        v["streaming.lake.spill_mb"] = sum_of(lake, "spill_mb") / rounds
        v["streaming.lake.live_deltas_max"] = max(m["live_deltas"] for m in merges)
    compacts = out.get("compacts", [])
    v["streaming.lake.compact_s"] = sum(x["secs"] for x in compacts)
    v["streaming.lake.compactions"] = sum(x["compacted"] for x in compacts)
    if out.get("table"):
        v["streaming.lake.stored_mb"] = dir_mb(out["table"])

    progress = out.get("progress") or [p for r in out.get("rounds", []) for p in r["progress"]]
    progress = [p for p in progress if p["rows"]]
    if progress:
        ms = lambda k: _mean([p["ms"].get(k, 0) for p in progress]) / 1e3  # noqa: E731
        v["streaming.runner.latest_offset_s"] = ms("latestOffset")
        v["streaming.runner.get_batch_s"] = ms("getBatch")
        v["streaming.runner.wal_commit_s"] = ms("walCommit")
        v["streaming.runner.commit_offsets_s"] = ms("commitOffsets")
        v["streaming.runner.add_batch_s"] = ms("addBatch")
        v["streaming.runner.trigger_s"] = ms("triggerExecution")
        v["streaming.runner.batches"] = len(progress) / rounds
        v["streaming.runner.overhead_s"] = ms("triggerExecution") - ms("addBatch")

    if workload == "tail_mor_reads":
        lat, plan = out["lookups"], out["read_plan"]
        v["streaming.lake.read_plan_s"] = median(plan)
        v["streaming.lake.read_exec_s"] = median([a - b for a, b in zip(lat, plan)])
        v["streaming.lake.lookup_p50_s"] = percentile(lat, 0.5, 0)
        v["streaming.lake.lookup_p90_s"] = p90_or_max(lat)
        v["feeder.late_max_s"] = max(out["late"])
        v["feeder.segments"] = len(out["late"])

    window = [s for s in run.tracer.spans if s["name"] == "bench.window"]
    if window:
        w = window[-1]
        v["trace.coverage"] = 1.0 - run.tracer.self_time(w) / (w["end"] - w["start"])
    v["trace.events_per_s"], v["trace.freshness_p50_s"], _ = throughput_and_freshness(workload, out)
    units = dict(PER_LAYER)
    return {k: _m(v[k] or 0.0, units[k]) for k in units}
