"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench.corpus import frames_match
from perfbench.crawl import failed_rounds
from perfbench.tracing import (
    TRACE_GROUP,
    TreeSampler,
    attribute_jobs,
    layer_totals,
    percentile,
    process_tree,
    read_event_log,
)


def test_percentile_small_samples():
    assert percentile([5.0], 50) == 5.0
    assert percentile([1.0, 3.0], 50) == 2.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([4, 1, 3, 2], 0) == 1
    assert percentile([4, 1, 3, 2], 100) == 4
    assert percentile([1, 2, 3, 4, 5], 25) == 2
    with pytest.raises(ValueError):
        percentile([], 50)


BOUNDS = [(100.0, "scheduler"), (103.0, "fetch"), (104.0, "parse"), (110.0, "dedup")]


def test_jobs_go_to_their_group_or_the_last_boundary():
    jobs = {
        1: (101.0, "scheduler", [1]),
        2: (105.0, "parse", [2]),
        # the engine's metrics thread carries no job group: it lands on
        # the last layer entered before it was submitted
        3: (105.5, None, [3]),
        4: (99.0, None, [4]),  # before the window
        5: (106.0, TRACE_GROUP, [5]),  # the benchmark's own count job
        6: (111.0, None, [6]),
        7: (121.0, "dedup", [7]),  # after the window
        8: (103.5, "not-a-layer", [8]),
    }
    got = attribute_jobs(jobs, BOUNDS, 100.0, 120.0)
    assert got == {1: "scheduler", 2: "parse", 3: "parse", 6: "dedup", 8: "fetch"}


def test_job_before_any_boundary_is_other():
    assert attribute_jobs({1: (100.5, None, [1])}, [(101.0, "parse")], 100.0, 102.0) == {
        1: "other"
    }


def test_layer_totals_charge_shared_stage_once_to_first_job():
    jobs = {1: (101.0, None, [1, 2]), 2: (111.0, None, [2, 3])}
    job_layer = {1: "parse", 2: "dedup"}

    def m(run_s, spill=0):
        return dict(run_s=run_s, gc_s=0.1, shuffle_write_bytes=10, spill_bytes=spill)

    tasks = [(1, m(1.0)), (2, m(2.0, spill=5)), (3, m(4.0)), (9, m(100.0))]
    t = layer_totals(jobs, tasks, job_layer)
    assert t["parse"]["jobs"] == 1 and t["dedup"]["jobs"] == 1
    assert t["parse"]["run_s"] == pytest.approx(3.0)
    assert t["parse"]["spill_bytes"] == 5
    assert t["dedup"]["run_s"] == pytest.approx(4.0)
    assert t["dedup"]["shuffle_write_bytes"] == 10


def test_read_event_log(tmp_path):
    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
            "Disk Bytes Spilled": 8}}

    lines = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1500,
         "Stage IDs": [4, 5], "Properties": {"spark.jobGroup.id": "parse"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1},
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": 2500,
         "Stage IDs": [6], "Properties": {}},
        task(5, 1500),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 6},  # failed task: no metrics
    ]
    path = tmp_path / "app"
    # Spark writes compact JSON, one event per line
    path.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in lines))
    jobs, tasks = read_event_log(str(path))
    assert jobs == {3: (1.5, "parse", [4, 5]), 4: (2.5, None, [6])}
    assert tasks == [(5, dict(run_s=1.5, gc_s=0.02, shuffle_write_bytes=64, spill_bytes=8))]


def test_tree_sampler_sees_child_cpu_and_rss():
    busy = "import time\nt = time.time()\nwhile time.time() - t < 0.8: pass\n"
    with TreeSampler(interval_s=0.05) as s:
        child = subprocess.Popen([sys.executable, "-c", busy])
        time.sleep(0.2)
        assert child.pid in process_tree(os.getpid())
        assert child.wait(timeout=30) == 0
    assert s.peak_rss > 0
    # the child spun ~0.8 s; polls every 50 ms catch most of it
    assert s.cpu_seconds() >= 0.4
    assert 0 < s.cores_busy() <= len(os.sched_getaffinity(0)) + 0.5


def test_frames_match_ignores_order_and_float_noise():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0], "n": [1, 2]})
    b = pd.DataFrame({"n": [2, 1], "v": [2.0 + 1e-12, 1.0], "k": ["y", "x"]})
    assert frames_match(a, b)
    assert not frames_match(a, b.assign(n=[2, 3]))
    assert not frames_match(a, b.assign(v=[2.1, 1.0]))
    assert not frames_match(a, b.iloc[:1])
    assert not frames_match(a, b.rename(columns={"n": "m"}))


SIM = dict(
    fetch_order=[[1, 0, "u0"], [1, 1, "u1"], [2, 2, "u2"], [2, 3, "u3"]],
    seen=["u0", "u1", "u2", "u3", "u4"],
)


def test_failed_rounds_against_simulator():
    log = [(1, 0, "u0"), (1, 1, "u1"), (2, 2, "u2"), (2, 3, "u3")]
    seen = ["u4", "u3", "u2", "u1", "u0"]
    assert failed_rounds(log, seen, SIM, 2) == set()
    assert failed_rounds([log[0], log[1], log[3], log[2]], seen, SIM, 2) == {2}
    assert failed_rounds(log[1:], seen, SIM, 2) == {1}
    assert failed_rounds(log, seen[:-1], SIM, 2) == {2}
    assert failed_rounds(log + [(3, 4, "u4")], seen, SIM, 2) == {3}
