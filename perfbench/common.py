"""Shared plumbing for the benchmark: where things live, the Spark
session, the statistics and the order-insensitive result hash.

Everything a run writes goes under ``.perfbench_work/run-<pid>/`` at the
repo root (temp files, Spark local dirs, warehouse, event logs, streaming
checkpoints), so a run reads and writes only inside its checkout and two
runs never share scratch state.  Span dumps of traced runs are kept in
``.perfbench_work/trace/``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
WORK = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
EXPECTED_DIR = os.path.join(BENCH_DIR, "expected")


def prepare_environment() -> None:
    """Point every temp/scratch location into WORK and put the repo root
    on the import path of this process AND of Spark's Python workers
    (UDF workers import ``classic_fcd_spark`` by name; without the repo
    root in their PYTHONPATH a run started outside the root fails with
    ModuleNotFoundError inside the worker)."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    pp = os.environ.get("PYTHONPATH", "")
    if REPO not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO + (os.pathsep + pp if pp else "")
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in the host's /tmp from the launcher or driver JVM
    os.environ["_JAVA_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Half the CPUs run tasks; the rest keep the JVM's own threads (JIT
    compiler, garbage collector) and Python workers off the task threads.
    With every CPU running a task, time taken by the host's other tenants
    landed on the critical path: on 4 vCPUs, against runs at ~2% steal
    time, the analytics warm pass was 75% slower on local[4] at 17% steal,
    and 21% slower on local[2] at 12% steal."""
    return max(1, nproc() // 2)


def start_spark(app: str, event_log_dir: str | None = None):
    """The engine's own session factory (``get_spark``) on
    local[task_slots()], with the benchmark's additions: a small driver
    heap (the host is shared), scratch paths inside WORK, and — for traced
    runs — an uncompressed Spark event log that the tracer joins against."""
    from classic_fcd_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app, master=f"local[{task_slots()}]", extra_conf=conf)


def run_conditions(spark, data_dir: str) -> dict:
    """bench.py's isolation stanza plus the host and runtime versions."""
    import bench

    cond = bench._run_conditions(data_dir)
    cond["nproc"] = nproc()
    cond["task_slots"] = task_slots()
    cond["spark_version"] = spark.version
    cond["java_version"] = spark.sparkContext._jvm.System.getProperty("java.version")
    cond["python_version"] = sys.version.split()[0]
    return cond


def storage_mb(spark) -> float:
    """Memory + disk held by persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


# --- statistics ------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(p, value): the highest percentile with at least ten samples
    strictly beyond it (nearest-rank), falling back to the median when
    there are too few samples for any."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100.0 * n)
        if n - rank >= 10:
            return p, xs[rank - 1]
    return 50.0, statistics.median(xs)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- order-insensitive result hash -------------------------------------------
# The rendering follows scripts/check_correctness.py --hash-only: doubles at
# %.9e with NaN/inf/zero/subnormals normalised first, NULL as chr(30),
# columns joined by chr(31) in sorted column-name order, a 60-bit md5 row
# hash, and the signature (rows, xor of hashes, sum of their low 31 bits).
# It runs in Python over collected rows, so Spark results and DuckDB
# oracle rows go through the same code.

_NULL = "\x1e"
_SEP = "\x1f"


def _render(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == 0.0:
            return "0"
        if abs(v) < 2.5e-308:
            return "sub:" + "%.9e" % (v * 1e120)
        return "%.9e" % v
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        if hasattr(v, "asDict"):  # pyspark Row (a tuple subclass)
            return _render(v.asDict())
        return "[" + ",".join(_render(x) for x in v) + "]"
    return str(v)


def result_signature(columns: list[str], rows) -> list[int]:
    """[row count, xor of row hashes, sum of their low 31 bits]."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n = x = s = 0
    for r in rows:
        text = _SEP.join(_render(r[i]) for i in order)
        h = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)
        n += 1
        x ^= h
        s += h & 0x7FFFFFFF
    return [n, x, s]


def digest(obj) -> str:
    """Stable digest of a JSON-able response (dict keys sorted; Decimals,
    datetimes and Rows rendered by str)."""
    text = json.dumps(obj, sort_keys=True, default=str)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:32]
