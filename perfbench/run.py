"""Benchmark entry point.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 27 --trace 0

Builds the workload's inputs from ``--seed`` inside ``.perfbench/`` at
the repository root, starts one Spark session on ``local[nproc]``, sets
up and warms up, runs the workload's fixed seeded op sequence (sized by
``--seconds``), checks every result, and prints one JSON line as the
last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the sequence in three thirds, untraced,
traced (event log on, spans around every public call) and untraced,
and reports the per-layer metrics. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

WORKLOADS = ("lake", "llm_pipeline")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables "
                         "(default: the workload's DEFAULT_SF)")
    ap.add_argument("--inject-fault", action="store_true",
                    help="give the first check a wrong expected value")
    return ap.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # Import the package first: without it the run fails before it
    # starts anything.
    import deltalake_datafusion_spark as dds
    import numpy as np

    from perfbench import harness, layers, trace

    wl = importlib.import_module(f"perfbench.{args.workload}")
    root = os.path.join(REPO, ".perfbench")
    work = os.path.join(root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    trace_dir = os.path.join(root, f"trace-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    harness.pin_environment(work)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    t_setup = time.perf_counter()
    spark = dds.get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=harness.spark_conf(work, trace_dir if args.trace else None),
    )
    print(f"[perfbench] session: {time.perf_counter() - t_setup:.2f} s",
          file=sys.stderr)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = trace.Tracer(spark.sparkContext, enabled=False)
        sf = args.sf if args.sf is not None else wl.DEFAULT_SF
        ctx = harness.Ctx(spark, work, args.seed, sf, tracer,
                          inject_fault=args.inject_fault)
        state = wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        ctx.latencies_ms.clear()
        ctx.kinds.clear()

        # op latencies are timed from the public call until its result
        # is materialized, without the benchmark's own input preparation
        # and checks between ops
        if not args.trace:
            wl.measure(ctx, state, np.random.default_rng([args.seed, 1]),
                       args.seconds)
        else:
            # untraced, traced, untraced, each a third of the sequence:
            # the mean of the two untraced passes is the reference, so a
            # drift in op cost as the tables grow cancels to first order
            walls = []
            for i, traced in enumerate((False, True, False), start=1):
                n = len(ctx.latencies_ms)
                tracer.enabled = traced
                wl.measure(ctx, state, np.random.default_rng([args.seed, i]),
                           args.seconds // 3)
                walls.append(sum(ctx.latencies_ms[n:]) / 1e3)
            tracer.enabled = False
            trace_overhead_s = walls[1] - (walls[0] + walls[2]) / 2
            tracer.dump(os.path.join(trace_dir, "spans.json"))
        ctx.close()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        (log,) = [f for f in os.listdir(trace_dir) if f != "spans.json"]
        jobs, stages = trace.read_event_log(os.path.join(trace_dir, log))
        metrics = layers.compute(trace.Joined(tracer, jobs, stages),
                                 trace_overhead_s)
    else:
        metrics = harness.end_to_end(setup_s, ctx.latencies_ms, ctx.kinds)

    for name, (value, unit) in metrics.items():
        print(f"[perfbench] {args.workload} {name} = {value:.6g} {unit}",
              file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
