"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,analytics,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
before the Spark session starts (``prepare`` of each workload); every
file the run writes stays under ``.perfbench_run/`` in the checkout. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``metrics.py`` when tracing is off and the per-layer
metrics when it is on. A traced run also writes its spans, the folded
event log and the full result under ``.perfbench_run/trace/``; every
run writes its full result (regime stamp included) under
``.perfbench_run/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import asdict, dataclass
from typing import Any

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, metrics  # noqa: E402

WORKLOADS = tuple(name for name, _ in metrics.WORKLOADS)
# Non-finite latencies (a failed request in the reporting phase) are
# written as this value so the result line stays valid JSON.
NON_FINITE = 1e9


@dataclass
class Context:
    seed: int
    seconds: int
    run_dir: str
    spark: Any
    tracer: Any
    inputs: Any


def _package_present() -> bool:
    """The benchmark drives the checkout's package; without it there
    is nothing to measure."""
    for name in ("data_pipeline_2025_spark", "bench", "tests.oracle"):
        try:
            importlib.import_module(name)
        except ImportError as exc:
            print(f"perfbench: cannot import {name}: {exc}", file=sys.stderr)
            return False
    return True


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _finite(v: float) -> float:
    return v if v == v and abs(v) != float("inf") else NON_FINITE


def pass_metrics(groups: dict, window: list[float]) -> dict:
    """Spark totals of every job submitted inside the measured window."""
    from perfbench.eventlog import GroupStats

    g = groups.get("window", GroupStats())
    wall = window[1] - window[0]
    return {
        "spark.jobs": g.jobs,
        "spark.stages": g.stages,
        "spark.driver_gap_s": wall - g.job_time_s(*window),
        "spark.executor_run_s": g.executor_run_ms / 1000,
        "spark.gc_s": g.gc_ms / 1000,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes,
        "spark.spill_bytes": g.spill_bytes,
        "spark.task_skew": g.task_skew,
        "spark.python_worker_s": g.python_worker_ms / 1000,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _package_present():
        return 2
    run_dir = os.path.join(common.WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    common.isolate_temp(run_dir)
    from perfbench.trace import Tracer

    results_dir = os.path.join(common.WORK, "results")
    trace_dir = os.path.join(common.WORK, "trace", args.workload)
    os.makedirs(results_dir, exist_ok=True)
    regime = common.regime(args.seed)
    workload = importlib.import_module(f"perfbench.{args.workload}")
    tracer = Tracer() if args.trace else None
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    try:
        inputs = workload.prepare(args.seed, args.seconds, run_dir)
        t0 = time.perf_counter()
        spark = common.start_spark(run_dir, log_dir)
        session_s = time.perf_counter() - t0
        regime["default_parallelism"] = spark.sparkContext.defaultParallelism
        try:
            res = workload.run(
                Context(args.seed, args.seconds, run_dir, spark, tracer, inputs)
            )
        finally:
            _stop(spark)
        out_metrics = {k: _finite(v) for k, v in res["metrics"].items()}
        out_metrics["setup_s"] = session_s + res["setup_s"]
        out_metrics["memory_mb"] = sum(res["memory"].values())
        full = {
            "workload": args.workload,
            "regime": regime,
            "metrics": out_metrics,
            "workload_setup_s": res["setup_s"],
            "session_start_s": session_s,
            **res["memory"],
            "detail": res["detail"],
            "attempted": res["attempted"],
            "failed": res["failed"],
        }
        if args.trace:
            from perfbench import eventlog

            window = res["window"]
            paths = eventlog.find_log(log_dir)
            per_group = eventlog.fold(paths)
            in_window = eventlog.fold(
                paths, lambda g, t: "window" if window[0] <= t <= window[1] else None
            )
            layer = {name: 0.0 for name, *_ in metrics.PER_LAYER}
            layer.update(pass_metrics(in_window, window))
            layer.update(workload.layers(res, tracer, per_group))
            unknown = set(layer) - {name for name, *_ in metrics.PER_LAYER}
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
            shutil.rmtree(trace_dir, ignore_errors=True)
            os.makedirs(trace_dir)
            tracer.write(os.path.join(trace_dir, "spans.jsonl"))
            with open(os.path.join(trace_dir, "eventlog_groups.json"), "w") as f:
                json.dump({str(k): asdict(v) for k, v in per_group.items()}, f, indent=1)
            full["layers"] = layer
            report = layer
            name = f"{args.workload}-trace1.json"
        else:
            report = out_metrics
            name = f"{args.workload}-trace0.json"
        with open(os.path.join(results_dir, name), "w") as f:
            json.dump(full, f, indent=1, default=str)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {n: u for n, u, *_ in metrics.END_TO_END}
    units.update({n: u for n, u, *_ in metrics.PER_LAYER})
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in report.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
