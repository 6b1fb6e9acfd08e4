"""Self-tests for the benchmark's own arithmetic, its spec, and a tiny
smoke run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCH_DIR, REPO, result_signature, self_times, tail_percentile  # noqa: E402
from spans import job_counters  # noqa: E402


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end, "name": str(sid)}


class TestSelfTime:
    def test_leaf_is_its_duration(self):
        assert self_times([_span(0, None, 1.0, 3.5)]) == {0: 2.5}

    def test_children_are_subtracted_once_each(self):
        spans = [
            _span(0, None, 0.0, 10.0),
            _span(1, 0, 1.0, 3.0),
            _span(2, 0, 5.0, 6.0),
            _span(3, 1, 1.5, 2.0),  # grandchild: charged to 1, not 0
        ]
        st = self_times(spans)
        assert st[0] == pytest.approx(7.0)
        assert st[1] == pytest.approx(1.5)
        assert st[3] == pytest.approx(0.5)

    def test_overlapping_children_cover_their_union(self):
        spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0)]
        assert self_times(spans)[0] == pytest.approx(4.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 9.0)]
        assert self_times(spans)[0] == pytest.approx(3.0)


class TestTailPercentile:
    def test_too_few_samples_fall_back_to_median(self):
        assert tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0)

    def test_twenty_samples_reach_p50_only(self):
        xs = list(range(1, 21))
        assert tail_percentile(xs) == (50.0, 10)

    def test_hundred_samples_reach_p90(self):
        xs = list(range(1, 101))
        assert tail_percentile(xs) == (90.0, 90)  # ten samples (91..100) beyond

    def test_two_hundred_samples_reach_p95(self):
        xs = list(range(1, 201))
        assert tail_percentile(xs) == (95.0, 190)

    def test_thousand_samples_reach_p99(self):
        assert tail_percentile(list(range(1, 1001))) == (99.0, 990)


class TestResultSignature:
    cols = ["b", "a"]

    def test_order_insensitive(self):
        rows = [(1, "x"), (2, "y"), (3, None)]
        assert result_signature(self.cols, rows) == result_signature(self.cols, rows[::-1])

    def test_column_order_insensitive(self):
        assert result_signature(["b", "a"], [(1, "x")]) == result_signature(["a", "b"], [("x", 1)])

    def test_counts_rows_and_duplicates(self):
        one = result_signature(self.cols, [(1, "x")])
        two = result_signature(self.cols, [(1, "x"), (1, "x")])
        assert one[0] == 1 and two[0] == 2
        assert two[1] == 0  # xor of a duplicate pair cancels ...
        assert two[2] == 2 * one[2]  # ... the low-bit sum does not

    def test_doubles_round_at_nine_decimals_of_mantissa(self):
        base = result_signature(["v"], [(1.0,)])
        assert result_signature(["v"], [(1.0 + 1e-12,)]) == base
        assert result_signature(["v"], [(1.0001,)]) != base
        assert result_signature(["v"], [(0.0,)]) == result_signature(["v"], [(-0.0,)])

    def test_null_differs_from_the_string_none(self):
        assert result_signature(["v"], [(None,)]) != result_signature(["v"], [("None",)])

    def test_nested_values(self):
        assert result_signature(["v"], [([1.0, None],)]) != result_signature(["v"], [([1.0],)])


def _event(kind, **fields):
    return json.dumps({"Event": kind, **fields}) + "\n"


def test_job_counters_charge_tasks_to_their_jobs_group(tmp_path):
    log = tmp_path / "app-1" / "events"
    log.parent.mkdir()
    log.write_text(
        _event("SparkListenerApplicationStart", **{"App Name": "x"})
        + _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                             "Properties": {"spark.jobGroup.id": "pb3"}})
        + _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
                                             "Properties": {"spark.jobGroup.id": "other"}})
        + _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3], "Properties": {}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 500_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 93}}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 9_000_000}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": None})
    )
    assert job_counters(str(tmp_path)) == {
        3: {"jobs": 1, "tasks": 2, "executor_cpu_ms": 2.5, "shuffle_bytes": 200}
    }


def test_spec_matches_the_metrics_the_runs_print():
    import run

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert all(m["unit"] == run.END_TO_END[m["name"]] for m in spec["end_to_end"])
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, a run prints nothing and
    fails."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.parametrize("workload", ["analytics", "collector"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace, tmp_path):
    """One tiny run per workload and mode, started from outside the repo
    root: correct, and exactly the metrics the spec names."""
    import analytics
    import run

    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_names() if trace else list(run.END_TO_END)
    assert sorted(result["metrics"]) == sorted(want)
    if trace:
        # the job-group join found the spans' jobs (a lost group reads 0)
        metrics = result["metrics"]
        joined = {
            "analytics": [f"queries.{m}.jobs" for m in analytics.MODULES],
            "collector": ["streaming.jobs_per_batch", "serving.jobs_per_request"],
        }[workload]
        assert all(metrics[name]["value"] > 0 for name in joined), {
            name: metrics[name] for name in joined
        }
