"""Probes the tail_mor_reads capacity and records it in calibration.json.

    python3 perfbench/calibrate.py --seed 1 --seconds 10 --sizes 1600,6400,12800

Runs the tail workload once per segment size (the segment rate is fixed, so
the size sets the offered event rate), in one session and in ascending
order, and records per rate: the stream's busy-time throughput, freshness
percentiles, and whether the backlog grew (freshness of the last quarter of
segments more than 1.5x that of the first quarter, or segments left
uncommitted). Capacity lies between the highest offered rate whose backlog
did not grow and the first one whose backlog did. The workload's fixed
segment size (workloads.TAIL_SEGMENT_EVENTS) is set by hand from this
record (README.md says how) and is never recalibrated per run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import run as bench


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--sizes", default="1600,6400,12800")
    a = p.parse_args()
    bench._import_engine()
    from inputs import InputCache
    from metrics import throughput_and_freshness
    from probes import Counters, Tracer
    from workloads import TAIL_SEGMENTS_PER_S, Run, tail_mor_reads
    from oplogtoredis_spark.session import get_spark

    stamp = bench._stamp()
    run_dir = bench._scratch("calibrate", a.seed)
    rows = []
    try:
        os.chdir(run_dir)
        spark = get_spark("perfbench-calibrate", master=f"local[{stamp['nproc']}]")
        cache = InputCache(os.path.join(bench.STATE, "cache"))
        try:
            for size in (int(x) for x in a.sizes.split(",")):
                run = Run(spark=spark, seed=a.seed, seconds=a.seconds, work=run_dir,
                          cache=cache, tracer=Tracer("calibrate", False),
                          counters=Counters(spark, False))
                tail_mor_reads(run, size)
                out = run.out
                _, f50, f90 = throughput_and_freshness("tail_mor_reads", out)
                busy = sum(p["ms"]["triggerExecution"] for p in out["progress"]) / 1e3
                fresh = out["fresh"]
                q = max(1, len(fresh) // 4)
                first, last = statistics.median(fresh[:q]), statistics.median(fresh[-q:])
                rows.append({
                    "segment_events": size,
                    "offered_events_per_s": TAIL_SEGMENTS_PER_S * size,
                    "busy_events_per_s": sum(p["rows"] for p in out["progress"]) / busy,
                    "freshness_p50_s": f50,
                    "freshness_p90_s": f90,
                    "first_quarter_freshness_s": first,
                    "last_quarter_freshness_s": last,
                    "batches": len(out["progress"]),
                    "failures": len(out.get("failures", [])),
                    "backlog_grew": last > 1.5 * first or bool(out.get("failures")),
                })
                print(json.dumps(rows[-1]), flush=True)
        finally:
            bench._stop_jvm(spark)
    finally:
        os.chdir(bench.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    ok = [r["offered_events_per_s"] for r in rows if not r["backlog_grew"]]
    result = {
        "stamp": stamp, "seed": a.seed, "seconds": a.seconds,
        "segments_per_s": TAIL_SEGMENTS_PER_S, "rates": rows,
        "highest_sustained_events_per_s": max(ok) if ok else None,
        # capacity lies below the first rate whose backlog grew; when none
        # grew, the highest sustained rate is only a lower bound
        "capacity_reached": len(ok) < len(rows),
    }
    with open(os.path.join(bench.HERE, "calibration.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: result[k] for k in ("highest_sustained_events_per_s",
                                             "capacity_reached")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
