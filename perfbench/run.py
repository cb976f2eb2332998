"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Run from the repository root. The run builds everything it needs from the
source tree, keeps its files under ``.perfbench_work/`` and prints, as the
last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a run that wraps the
engine's layer boundaries. See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate_env(work: str) -> None:
    """Engine knobs at their defaults; every scratch file inside ``work``."""
    for key in list(os.environ):
        if key.startswith(("FTC_", "SPARK_GRAFT_")) or key in ("SPARK_DRIVER_MEM", "MASTER"):
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM the launch starts (launcher and driver) keeps its temp
    # files here too, and writes no perf-data file elsewhere
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CONF"] = json.dumps({
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })


def _calibrate(spark) -> dict:
    """Fixed work, reported beside the metrics and never gated: it tells
    a slow host window from a slow program. Run after the workload, on a
    warm JVM."""
    t = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    py = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id % 97)").collect()
    return {"py_1thread_s": py, "jvm_allcore_s": time.perf_counter() - t}


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "find_that_charity_spark", "__init__.py")):
        print("perfbench: find_that_charity_spark/ is not in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate_env(work)
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]

    from perfbench import metrics as M
    from perfbench.workloads import WORKLOADS, Run, cleanup

    t0 = time.perf_counter()
    from find_that_charity_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.seed, args.seconds, bool(args.trace), work)
        res = WORKLOADS[args.workload](run)
        res["setup"] += session_s
        cal = _calibrate(spark)
        res["calibration"] = cal
        if args.trace:
            metrics = M.per_layer(run, res, spec)
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(
                ROOT, ".perfbench_work", "traces", f"{args.workload}-{args.seed}.jsonl"))
            print(json.dumps({
                "self_ms": {k: round(v, 3) for k, v in sorted(
                    run.tracer.self_ms().items(), key=lambda kv: -kv[1])},
                "spark_by_operation": run.collector.by_op,
            }))
        else:
            metrics = M.end_to_end(run, res, spec)
        detail = {
            "workload": args.workload, "seed": args.seed, "calibration": cal,
            "samples": {k: len(v) for k, v in run.lat.items()},
            "tail_percentile": {k: M.tail(v)[0] for k, v in run.lat.items() if len(v) >= 8},
            "errors": run.errors[:10], "mismatches": res["messages"][:10],
            "walls_s": run.walls, "session_s": session_s,
            "median_ms": {k: statistics.median(v) if v else None for k, v in run.lat.items()},
            "latencies_ms": {k: [round(x, 1) for x in v] for k, v in run.lat.items()},
        }
        print(json.dumps(detail, default=str))
        wrong = res["wrong"]
        failed = run.failed + wrong
        out = {
            "correct": failed == 0,
            "attempted": int(run.attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    finally:
        _stop(spark)
        cleanup(work)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
