#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload ann_query --seed 1 --seconds 15 --trace 0

Run it from the repository root. It starts a local Spark session on
``local[<cores>]``, sets up the workload from the seed, runs the closed
loop for ``--seconds`` of timed operations, checks the outputs, and
prints two JSON lines on stdout:

* ``{"report": ...}`` — every named end-to-end metric of the workload
  (value, unit, sample count; ``null`` where it does not apply);
* the result line ``{"correct", "attempted", "failed", "metrics"}`` —
  the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the
  per-layer metrics with ``--trace 1``.

Everything the run writes stays under ``.perfbench/`` in the repository
root; a traced run also leaves its span ledger there. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# metrics of the result line with --trace 0: (name, unit), every workload
END_TO_END = (
    ("setup_s", "s"),
    ("cycle_p50_s", "s"),
)

# the named end-to-end metrics of the report line: (name, unit)
REPORT_METRICS = (
    ("setup_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("queries_per_s", "1/s"),
    ("recall_at_10", "ratio"),
    ("build_s", "s"),
    ("allpairs_s", "s"),
    ("vectors_per_s", "1/s"),
    ("index_bytes_per_vector", "bytes"),
    ("ingest_p50_s", "s"),
    ("headline_total_s", "s"),
    ("error_rate", "ratio"),
    ("peak_rss_mb", "MB"),
)

WORKLOAD_NAMES = (
    "ann_query",
    "ann_build_allpairs",
    "index_lifecycle",
    "analytics_headline",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=("full", "tiny"),
        default="full",
        help="input sizes; 'tiny' is for smoke tests only",
    )
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep Spark's scratch files, the JVM's temp dir and Python's inside
    ``work``, size the session, and let Python workers import the
    library and the benchmark modules."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    paths = [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def result_line(ctx, setup_s: float, trace: int, tracer) -> dict:
    if trace:
        from spans import per_layer_schema

        layer = tracer.boundary_metrics()
        layer["trace.overhead_frac"] = ctx.loop_bookkeeping_s / sum(ctx.op_walls)
        for name in ("search.candidates_per_query", "ingest.rows_per_s"):
            layer[name] = float(ctx.report.pop(name, 0.0))
        metrics = {
            name: {"value": float(layer[name]), "unit": unit}
            for name, unit, _ in per_layer_schema()
        }
    else:
        values = {"setup_s": setup_s, "cycle_p50_s": statistics.median(ctx.cycle_walls)}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work)
        # fails here, before any process starts, when the library is absent
        import workloads
        from spans import Tracer

        from rust_vector_search_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        try:
            tracer = Tracer(spark, bool(args.trace), tag=f"perfbench-{os.getpid()}")
            ctx = workloads.Ctx(
                spark=spark,
                tracer=tracer,
                work=work,
                seed=args.seed,
                seconds=args.seconds,
                sizes=workloads.TINY if args.size == "tiny" else workloads.FULL,
            )
            workloads.WORKLOADS[args.workload](ctx)
            tracer.flush()
            setup_s = ctx.setup_done_at - T_START
            rss = hwm_mb(os.getpid()) + hwm_mb(
                spark.sparkContext._gateway.proc.pid
            )
            ctx.metric("setup_s", setup_s, "s", 1)
            ctx.metric("error_rate", ctx.failed / ctx.attempted, "ratio", ctx.attempted)
            ctx.metric("peak_rss_mb", rss, "MB", 1)
            result = result_line(ctx, setup_s, args.trace, tracer)
            report = {
                name: ctx.report.get(
                    name,
                    {"value": None, "unit": unit, "samples": 0, "applies": False},
                )
                for name, unit in REPORT_METRICS
            }
            head = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
            if args.trace:
                os.makedirs(os.path.join(STATE, "ledger"), exist_ok=True)
                tracer.write(
                    os.path.join(
                        STATE, "ledger", f"{args.workload}-seed{args.seed}.json"
                    ),
                    head | {"report": report, "result": result},
                )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    walls = {"op_walls": ctx.op_walls, "cycle_walls": ctx.cycle_walls}
    print(json.dumps(head | {"report": report} | walls))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
