"""Span, event-log and percentile helpers of the benchmark; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    Span, Tracer, attribute, covered_ms, percentile, read_event_log,
    self_times, summarize, tail_percentile,
)


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90


def test_tail_keeps_ten_samples_beyond():
    assert tail_percentile(5) == 50.0  # too few: the median
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        assert n - round(p * n / 100 + 0.4999) >= 10, (n, p)


def test_summarize_records_percentile_and_count():
    s = summarize([float(i) for i in range(1, 41)])
    assert s == {"p50": 20.0, "tail": 30.0, "tail_percentile": 75.0, "samples": 40}


def test_covered_merges_overlaps_and_clips():
    assert covered_ms(0, 100, []) == 0
    assert covered_ms(0, 100, [(10, 20), (15, 30), (50, 60)]) == 30
    assert covered_ms(0, 100, [(-10, 5), (95, 200)]) == 10
    assert covered_ms(0, 100, [(200, 300)]) == 0


def _span(sid, parent, a, b, name="op"):
    return Span(sid, name, parent, a, b)


def test_self_time_subtracts_children():
    spans = [
        _span("r", None, 0, 100),
        _span("c1", "r", 10, 40),
        _span("c2", "r", 30, 50),  # overlaps c1: covered once
        _span("g", "c1", 20, 25),
    ]
    st = self_times(spans)
    assert st["r"] == 60
    assert st["c1"] == 25
    assert st["c2"] == 20
    assert st["g"] == 5


def _events(*evs):
    return [json.dumps(e) for e in evs]


def _task(stage, run_ms, accums=(), reason="Success", shuffle_w=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [
            {"Name": n, "Update": str(v)} for n, v in accums
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Input Metrics": {"Bytes Read": 100}, "Disk Bytes Spilled": 0,
        },
    }


LOG = _events(
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "run-0"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
    _task(0, 500, [("time to run Python workers", 250),
                   ("data sent to Python workers", 64)], shuffle_w=10, gc=20),
    _task(0, 300, reason="ExceptionFailure"),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400,
     "Job Result": {"Result": "JobSucceeded"}},
    # a job without a group, submitted inside span run-1's interval
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
     "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
    _task(2, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300,
     "Job Result": {"Result": "JobFailed"}},
)


def test_event_log_sums_task_counters_per_job():
    jobs = read_event_log(LOG)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.group == "run-0" and j1.group is None
    assert j0.counters["spark.stages"] == 1  # stage 1 was skipped
    assert j0.counters["spark.tasks"] == 2
    assert j0.counters["spark.failed_tasks"] == 1
    assert j0.counters["spark.task_s"] == 0.8
    assert j0.counters["spark.gc_s"] == 0.02
    assert j0.counters["spark.shuffle_write_bytes"] == 10
    assert j0.counters["spark.shuffle_read_bytes"] == 14
    assert j0.counters["spark.input_bytes"] == 200
    assert j0.counters["python.run_s"] == 0.25
    assert j0.counters["python.bytes_sent"] == 64
    assert not j0.failed and j1.failed


def test_attribution_by_group_then_by_time():
    spans = [
        _span("run-0", None, 900, 1600),
        _span("run-1", None, 2000, 2500),
        _span("run-2", "run-1", 2050, 2150, name="child"),
    ]
    per_span, intervals = attribute(spans, read_event_log(LOG))
    assert per_span["run-0"]["spark.jobs"] == 1
    # job 1 has no group: the innermost span open at its submission
    assert per_span["run-2"]["spark.jobs"] == 1
    assert per_span["run-1"]["spark.jobs"] == 0
    assert per_span["run-2"]["spark.failed_jobs"] == 1
    assert intervals["run-0"] == [(1000.0, 1400.0)]
    # 700 ms span, 400 ms covered by its job
    assert per_span["run-0"]["gap_ms"] == 300


class _FakeSc:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(("group", gid))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


def test_tracer_nests_spans_and_restores_job_group():
    sc = _FakeSc()
    tr = Tracer("w-1", True, sc)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start_ms <= inner.start_ms <= inner.end_ms <= outer.end_ms
    assert sc.calls == [
        ("group", "w-1-0"), ("group", "w-1-1"), ("group", "w-1-0"),
        ("prop", "spark.jobGroup.id", None),
    ]


def test_disabled_tracer_records_nothing():
    sc = _FakeSc()
    tr = Tracer("w-1", False, sc)
    with tr.span("op"):
        pass
    assert tr.spans == [] and sc.calls == []


def test_benchmark_json_names_the_worker_workloads():
    from perfbench.worker import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} >= {"setup_s"}
