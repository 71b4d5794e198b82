"""Benchmark entry point.

    python3 perfbench/run.py --workload rt_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the workload's figures as ``# name =
value unit`` lines, then one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the per-layer
metrics with ``--trace 1``). Exits 1 when a correctness check fails and 2
when the package is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from common import REPO, WORK, descendants, peak_rss_mb, pin_environment, start_spark

WORKLOADS = ("rt_ingest", "feed_read", "static_etl", "curate")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    others = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # the JVM did not exit on EOF: end it
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    while time.time() < deadline and any(_alive(p) for p in others):
        time.sleep(0.1)
    for p in others:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "py_gtfs_duckdb_spark")):
        print(f"package py_gtfs_duckdb_spark not found under {REPO}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    env = pin_environment()
    sys.path.insert(0, REPO)

    import metrics
    from common import Ctx
    from tracing import Tracer

    tracer = Tracer() if args.trace else None
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark, start_s, start_cpu_s = start_spark(tracer)
    try:
        ctx = Ctx(spark, (start_s, start_cpu_s), args.seed, args.seconds, tracer, run_dir)
        if args.workload in ("rt_ingest", "feed_read"):
            import realtime

            res = getattr(realtime, args.workload)(ctx)
        else:
            import batch

            res = getattr(batch, args.workload)(ctx)
        res.named["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        if tracer is not None:
            tracer.restore()
            layers = metrics.layer_metrics(tracer, res.info.get("rows_in", 0),
                                           res.info.get("ops", res.attempted))
            res.layers = {**layers, **res.layers}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}")
    print(f"# env {json.dumps(env)}")
    print(f"# info {json.dumps(res.info, default=str)}")
    for problem in res.problems:
        print(f"# CHECK FAILED: {problem}")
    for name, (value, unit) in {**res.named, **res.e2e}.items():
        print(f"# {name} = {value:.6g} {unit}")
    if tracer is not None:
        for name, (value, unit) in sorted(res.layers.items()):
            print(f"# layer {name} = {value:.6g} {unit}")
    values = {**res.e2e, **res.layers}
    out = {
        "correct": res.correct,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {
            m["name"]: {"value": values.get(m["name"], (0.0,))[0], "unit": m["unit"]}
            for m in bench["per_layer" if tracer is not None else "end_to_end"]
        },
    }
    print(json.dumps(out))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
