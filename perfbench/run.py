#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout:

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

``--trace 0`` runs the workload and prints its end-to-end metrics;
``--trace 1`` runs the traced layer drive and prints the per-layer
metrics. Human-readable lines come first; the last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time


def _checkout_root() -> str:
    root = os.getcwd()
    for need in ("mwmbl_spark/__init__.py", "oracle/engine.py"):
        if not os.path.isfile(os.path.join(root, need)):
            raise SystemExit(
                f"perfbench: {need} not found under {root}; "
                "run from the root of a mwmbl_spark checkout"
            )
    return root


def _isolate(root: str, work) -> None:
    """Keep the JVM, Spark and Python temp files inside the checkout and
    let Python workers import the checkout's package."""
    os.environ["TMPDIR"] = work.tmp
    tempfile.tempdir = work.tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def run_workload(args, work, sessions, size, ops) -> dict:
    from perfbench.harness import SETUP_RESTARTS, MemSampler, median, timed_setup
    from perfbench.inputs import load_or_make
    from perfbench.workloads import WORKLOADS, Result

    prepare, run = WORKLOADS[args.workload]
    res = Result()
    with MemSampler() as mem:
        setups = [timed_setup(sessions)]  # cold: JVM launch + first jobs
        inputs = load_or_make(sessions.spark, work, args.seed, size)
        setups += [timed_setup(sessions) for _ in range(SETUP_RESTARTS)]
        t0 = time.perf_counter()
        state = prepare(sessions.spark, work, inputs) if prepare else None
        prepare_s = time.perf_counter() - t0
        run(sessions.spark, work, inputs, args.seconds, ops, res, state)
    setup_s = median(setups) + prepare_s
    res.put("setup_s", setup_s, "s")
    res.put("peak_rss_mb", mem.peak_bytes / 2**20, "MB")
    res.note("setup_s", setup_s, "s",
             "median session set-up of " + ", ".join(f"{s:.3f}" for s in setups)
             + (f" + {args.workload} set-up {prepare_s:.3f}" if prepare else ""))
    res.note("peak_rss_mb", mem.peak_bytes / 2**20, "MB",
             "driver JVM + Python workers, proportional set size")
    for name, value, unit, extra in res.detail:
        print(f"  {name} = {value:.6g} {unit}" + (f"  ({extra})" if extra else ""))
    return res.metrics


def run_drive(args, work, sessions, size, ops) -> dict:
    """The curation part of the layer drive with tracing off: the
    baseline of the traced run's overhead."""
    from perfbench.inputs import load_or_make
    from perfbench.layers import Tracer, drive_curation

    spark = sessions.start()
    sessions.warm_up()
    inputs = load_or_make(spark, work, args.seed, size)
    t0 = time.perf_counter()
    drive_curation(spark, inputs, Tracer(False, ""), ops)
    return {"drive_s": (time.perf_counter() - t0, "s")}


def _untraced_twin(args, ops) -> float:
    """Run ``run_drive`` in a child process and return its wall time. A
    fresh process, because a restarted SparkContext in this one would
    inherit Python UDFs bound to the stopped context, and both runs
    then start from an equally cold JVM."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "0", "--untraced-drive",
    ] + (["--small"] if args.small else [])
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    ops.attempted += out["attempted"]
    ops.failed += out["failed"]
    if out["failed"]:
        ops.errors.append(f"untraced drive: {out['failed']} failed operations")
    return out["metrics"]["drive_s"]["value"]


def run_traced(args, work, sessions, size, ops) -> dict:
    from perfbench.inputs import load_or_make
    from perfbench.layers import (
        Tracer,
        attribute,
        cached_bytes,
        drive_curation,
        drive_index,
        layer_metrics,
    )

    untraced_s = _untraced_twin(args, ops)
    spark = sessions.start(event_log=True)
    t0 = time.perf_counter()
    sessions.warm_up()
    first_job_s = time.perf_counter() - t0
    inputs = load_or_make(spark, work, args.seed, size)
    tracer = Tracer(True, f"{args.workload}-seed{args.seed}")
    # curation first, so that it starts from the same JVM state as in
    # the untraced child; the overhead is measured on this part
    t0 = time.perf_counter()
    drive_curation(spark, inputs, tracer, ops)
    traced_s = time.perf_counter() - t0
    counts = drive_index(spark, work, inputs, tracer, ops)
    cached_end = cached_bytes(spark)
    sessions.stop()  # closes the event log
    costs = attribute(work.eventlog, tracer.spans)
    tracer.flush(os.path.join(
        work.base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
    ))
    metrics = layer_metrics(
        tracer, costs, counts, first_job_s, cached_end, traced_s / untraced_s
    )
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (the benchmark's own smoke test)")
    ap.add_argument("--untraced-drive", action="store_true",
                    help=argparse.SUPPRESS)  # the traced run's child
    args = ap.parse_args()
    t_start = time.perf_counter()

    root = _checkout_root()
    sys.path.insert(0, root)
    from perfbench.harness import Ops, Sessions, WorkDir
    from perfbench.inputs import FULL, SMALL

    work = WorkDir(root)
    _isolate(root, work)
    sessions = Sessions(work)
    ops = Ops()
    size = SMALL if args.small else FULL
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} turns/conv=8 "
          f"conversations={size.n_conv}")
    try:
        if args.untraced_drive:
            run = run_drive
        else:
            run = run_traced if args.trace else run_workload
        metrics = run(args, work, sessions, size, ops)
    finally:
        sessions.close()
        work.cleanup()
    share = ops.failed / max(1, ops.attempted)
    print(f"  op_error_share = {share:.6g} ratio  ({ops.failed}/{ops.attempted} operations)")
    print(f"  run_wall_s = {time.perf_counter() - t_start:.1f} s")
    for err in ops.errors[:20]:
        print(f"  error: {err}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
