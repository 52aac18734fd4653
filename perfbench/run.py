"""Benchmark entry point.

    python3 perfbench/run.py --workload sdmx_vintage --seed 1 --seconds 8 --trace 0

Run from the repository root. It sets up the workload, measures it for
``--seconds`` seconds, checks its outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see perfbench/README.md). Exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt", action="store_true",
        help="tamper with one output after the loop; the run must then fail its checks",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    import sdlt_spark  # noqa: F401  (fail before any set-up if the program is missing)

    # one Spark session on half the cores the process may use: the rest are
    # for what runs beside the tasks (the driver JVM's own threads, the
    # Python data-source workers, this process). On all the cores of a
    # 4-core host the same runs took longer, used more executor CPU per
    # cycle and spread more from run to run.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.setdefault("SDLT_DRIVER_MEM", "3g")
    scratch = harness.Scratch(os.path.join(ROOT, ".perfbench_scratch"))
    scratch.activate()
    rec = harness.Recorder(trace=bool(args.trace), run_id=uuid.uuid4().hex[:8])
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), scratch, rec, corrupt=args.corrupt)
    try:
        ctx.phases["imports"] = time.perf_counter() - t_start
        try:
            result = WORKLOADS[args.workload](ctx)
        except harness.OpFailed:
            traceback.print_exc()
            result = None
        spark = ctx.spark
        jobs = harness.harvest(spark)
        ops = rec.loop_ops()
        failed = sum(not o.ok for o in rec.ops)
        correct = result is not None and failed == 0 and all(result.checks.values())
        if result is not None:
            result.notes["cycle_walls"] = [round(c.end - c.start, 3) for c in rec.cycles]
            result.notes["phases"] = {k: round(v, 2) for k, v in ctx.phases.items()}
            result.notes["total_s"] = round(time.perf_counter() - t_start, 2)
            print(json.dumps({"checks": result.checks, "notes": result.notes}), file=sys.stderr)
        if args.trace:
            values = harness.per_layer(rec, jobs, spark)
            kinds, tails = harness.kind_metrics(rec)
            values.update(kinds)
            values.update(
                {
                    "store.vintage.write_amp": result.write_amp if result else 0.0,
                    "store.vintage.log_files": result.log_files if result else 0,
                    "operators.dedup.verify_yield": result.verify_yield if result else 0.0,
                    "scratch_left_mb": scratch.leftover_mb(),
                }
            )
            print(json.dumps({"tails": tails}), file=sys.stderr)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}-{rec.run_id}.json")
            with open(spans, "w") as f:
                json.dump(rec.spans_json(), f)
            metrics = {
                name: {"value": float(values[name]), "unit": harness.per_layer_unit(name)}
                for name in harness.per_layer_names()
            }
        else:
            space_amp = result.space_amp if result else 0.0
            metrics = {
                name: {"value": float(v), "unit": unit}
                for name, (v, unit) in harness.end_to_end(rec, jobs, ctx.setup_walls, space_amp).items()
            }
    finally:
        _shutdown(ctx.spark)
        scratch.remove()
    print(json.dumps({"correct": correct, "attempted": max(1, len(ops)), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


if __name__ == "__main__":
    sys.exit(main())
