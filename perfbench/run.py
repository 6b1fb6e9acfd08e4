"""The repository's benchmark: two workloads driven through the
engine's public functions.

    python3 perfbench/run.py --workload {analytics,collector} \
        --seed N --seconds S --trace {0,1}

- analytics (analytics.py): batch analyst queries over a fixed corpus;
- collector (collector.py): one collector day through the nine-sink
  micro-batch ingest and the daily gold pass, then explorer traffic
  (explorer.py) over the serving extract the day maintained.

Each run starts a fresh Spark session on local[nproc/2], sets up its inputs
from the seed, runs a cold phase and a warm phase of at least S seconds
where the phase is time-bound, checks every output, and prints two JSON
lines: a detail line (run conditions, per-phase breakdown, the read tail
percentile with its sample count, any errors), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, the same three on
every workload:

- ``setup_s``: session start, input generation and first-touch set-up
  (analytics: the corpus and its tables; collector: staging the day's
  drops, and the explorer's first call of every request class);
- ``cold_s``: analytics: one pass over the query list in the fresh
  session, every silver build included; collector: the first
  micro-batch, the first touch of every sink;
- ``warm_s``: analytics: one warm pass over the query list with every
  query at its median over the warm passes;
  collector: the rest of the day — the steady micro-batches, the daily
  gold pass and the median explorer round (one pass over the fixed
  request mix).

The detail line adds the warm reads (queries; explorer requests): their
count, median and tail percentile.  Their latency is not an end-to-end
metric because on a shared 4-vCPU host the single-threaded driver work
that dominates a ~0.1 s request drifts by up to ~40% between minutes,
far beyond any usable bound; the per-layer ``serving.*`` metrics carry it.

With ``--trace 1`` the metrics are the per-layer ones
(``per_layer_names``): spans around every call the benchmark makes into a
layer, each under its own Spark job group, joined against the run's Spark
event log for jobs, tasks, executor CPU and shuffle bytes.  Nested spans
report self time.  A layer a workload never calls reports 0.  ``trace.*``
are the traced run's own end-to-end figures; the tracing overhead of a
workload is each of them minus the untraced median of the same metric.

Exit status is 0 iff every output was correct; a run that cannot start
(for instance without the engine next to this directory) prints no
result and exits 2.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    REPO,
    WORK,
    WORK_ROOT,
    prepare_environment,
    run_conditions,
    start_spark,
    storage_mb,
    tail_percentile,
)
from spans import Tracer, job_counters  # noqa: E402

WORKLOADS = ("analytics", "collector")
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


def per_layer_names() -> list[str]:
    import analytics
    import collector

    common = ["spark.cached_mb"] + [f"trace.{m}" for m in END_TO_END]
    return analytics.layer_names() + collector.layer_names() + common


class Context:
    def __init__(self, spark, tracer, seed: int, seconds: float):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds = seed, seconds
        self.errors: list[str] = []


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "classic_fcd_spark", "session.py")):
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    prepare_environment()
    workload = importlib.import_module(args.workload)
    traced = bool(args.trace)
    event_dir = os.path.join(WORK, "eventlog") if traced else None
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{args.workload}", event_dir)
    session_s = time.perf_counter() - t0
    ctx = Context(spark, Tracer(spark, traced), args.seed, args.seconds)
    try:
        result = workload.run(ctx)
        cached_mb = storage_mb(spark)
        conditions = run_conditions(spark, result["data_dir"])
    finally:
        # the job counters need the complete event log, which exists only
        # once the context has stopped
        stop_spark(spark)

    read_ms = result["read_ms"]
    e2e = {
        "setup_s": session_s + result["setup_s"],
        "cold_s": result["cold_s"],
        "warm_s": result["warm_s"],
    }
    tail_p, tail_v = tail_percentile(read_ms)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session_start_s": session_s,
        "reads": {
            "count": len(read_ms),
            "per_s": result["read_per_s"],
            "p50_ms": statistics.median(read_ms),
            "tail": {"percentile": tail_p, "ms": tail_v},
        },
        "cached_mb": cached_mb,
        "run_conditions": conditions,
        "errors": ctx.errors[:20],
        **result["detail"],
    }

    if traced:
        counters = job_counters(event_dir)
        layers = workload.layer_metrics(ctx, result, counters)
        metrics = {name: 0.0 for name in per_layer_names()}
        metrics.update(layers)
        metrics["spark.cached_mb"] = cached_mb
        for name, value in e2e.items():
            metrics[f"trace.{name}"] = value
        out_metrics = {n: {"value": v, "unit": unit_of(n)} for n, v in metrics.items()}
        os.makedirs(os.path.join(WORK_ROOT, "trace"), exist_ok=True)
        ctx.tracer.dump(os.path.join(WORK_ROOT, "trace", f"{args.workload}-{args.seed}.json"))
    else:
        out_metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}

    shutil.rmtree(WORK, ignore_errors=True)
    failed = result["failed"]
    correct = failed == 0 and not ctx.errors
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": out_metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0 if correct else 1


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms") or "_ms_per_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(".mb") or name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
