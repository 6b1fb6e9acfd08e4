"""Spans for the traced run.

A span is (id, name, start, end, parent, run id), kept in memory and
written out when the run ends.  While a span is open, the Spark job group
of the calling thread is ``pb<span id>``, so every job the span launches
can be charged to it from the event log.  With tracing off, ``span`` is a
no-op and no job group is touched.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
import uuid

from common import self_times

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()  # span stack per thread
        self._lock = threading.Lock()  # spans open from the streaming sink's thread too

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "run": self.run_id,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, f"pb{sid}")
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            sc.setLocalProperty(GROUP_KEY, prev)
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper (traced runs
        only) so calls the engine makes between its own layers are timed
        at the layer boundary."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        setattr(module, attr, spanned)

    # --- reading the spans back --------------------------------------------

    def closed(self, prefix: str = "") -> list[dict]:
        return [s for s in self.spans if s["end"] is not None and s["name"].startswith(prefix)]

    def self_seconds(self) -> dict[int, float]:
        return self_times(self.closed())

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def job_counters(event_log_dir: str) -> dict[int, dict]:
    """Span id -> {jobs, tasks, executor_cpu_ms, shuffle_bytes} from the
    event log, joining each task to its stage's job and that job's group.
    Read after the SparkContext has stopped (the log is then complete)."""
    stage_group: dict[int, int] = {}
    out: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        return out.setdefault(
            sid, {"jobs": 0, "tasks": 0, "executor_cpu_ms": 0.0, "shuffle_bytes": 0}
        )

    files = sorted(glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True))
    for path in files:
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    if not group.startswith("pb"):
                        continue
                    sid = int(group[2:])
                    bucket(sid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = sid
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    sid = stage_group.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    b = bucket(sid)
                    b["tasks"] += 1
                    b["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return out
