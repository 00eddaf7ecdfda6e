"""CDC engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload replay_batch --seed 1 --seconds 12 --trace 0

Runs the engine from the checkout that holds this directory, at its own
defaults (``get_spark`` on ``local[nproc]``), checks the final table state
against the oracle, and prints one JSON object as the last line of stdout:
every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1`` (see README.md in this directory). Inputs are cached under
``.perfbench/cache``; each run's tables, checkpoints, Spark scratch and temp
files live in one directory under ``.perfbench/runs`` that is removed when
the run ends. Traced runs also write their spans to ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _scratch(workload: str, seed: int) -> str:
    """The run's scratch dir; every temp and Spark scratch path points into
    it, so nothing is written outside the checkout."""
    run_dir = os.path.join(STATE, "runs", f"{workload}-s{seed}-{os.getpid()}-{int(time.time())}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["OTR_SPARK_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    return run_dir


def _stamp() -> dict:
    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "oplogtoredis_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "git_rev": rev,
        "source_sha256": h.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
    }


def _import_engine():
    """Import the engine from this checkout, and only from it."""
    sys.path.insert(0, ROOT)
    import oplogtoredis_spark

    got = os.path.dirname(os.path.abspath(oplogtoredis_spark.__file__))
    if got != os.path.join(ROOT, "oplogtoredis_spark"):
        raise ImportError(f"oplogtoredis_spark imported from {got}, not from the checkout")


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = _args(argv)
    _import_engine()
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp = _stamp()
    run_dir = _scratch(a.workload, a.seed)
    try:
        result = _run(a, run_dir, stamp, WORKLOADS[a.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("stamp " + json.dumps(stamp))
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


def _run(a, run_dir, stamp, workload) -> dict:
    from inputs import InputCache
    from metrics import end_to_end, per_layer, report
    from probes import Counters, Tracer, peak_rss_mb
    from workloads import Run
    from oplogtoredis_spark.session import get_spark

    cache = InputCache(os.path.join(STATE, "cache"))
    tracer = Tracer(f"{a.workload}-s{a.seed}-{os.getpid()}", bool(a.trace))
    os.chdir(run_dir)  # spark-warehouse and friends land in the scratch dir
    nproc = stamp["nproc"]
    with tracer.span("session.get_spark") as gs:
        spark = get_spark(f"perfbench-{a.workload}", master=f"local[{nproc}]")
    try:
        with tracer.span("session.warmup") as wu:
            spark.range(0, 1_000_000, numPartitions=nproc).selectExpr("sum(id)").collect()
        run = Run(spark=spark, seed=a.seed, seconds=a.seconds, work=run_dir, cache=cache,
                  tracer=tracer, counters=Counters(spark, bool(a.trace)))
        run.out.update(get_spark_s=gs.secs, warmup_s=wu.secs)
        workload(run)
        from pyspark import SparkContext

        run.out["peak_rss_mb"] = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        _stop_jvm(spark)
        os.chdir(ROOT)
    stamp["loadavg_end"] = os.getloadavg()
    out = run.out
    failures = out.get("failures", [])
    attempted = max(1, out.get("attempted", 1))
    metrics = per_layer(a.workload, out, run) if a.trace else end_to_end(a.workload, out)
    if a.trace:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        with open(os.path.join(STATE, "traces", f"{tracer.run_id}.json"), "w") as f:
            json.dump({"stamp": stamp, "spans": tracer.spans, "self_times": tracer.self_times(),
                       "metrics": metrics, "stages": run.counters.phases}, f)
    return {
        "report": report(a.workload, out, failures, attempted),
        "correct": not any(f.startswith("output check") for f in failures),
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
