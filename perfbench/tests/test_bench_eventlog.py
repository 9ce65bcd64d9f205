"""Event-log parsing and span self time."""

import json

import pytest

from eventlog import busy_frac, read_events, span_counters
from tracing import Tracer


def _task(stage, ok=True, run_ms=100, cpu_ns=50_000_000, gc_ms=5, sw=2**20, rr=2**19, lr=2**19, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    }


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "pagerank"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "wcc"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    _task(0), _task(0), _task(1, ok=False, spill=2**21), _task(2), _task(3),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
]


def test_counters_are_attributed_by_job_group():
    c = span_counters(EVENTS, ["pagerank", "wcc", "cdlp"])
    pr = c["pagerank"]
    assert (pr["jobs"], pr["stages"], pr["tasks"], pr["failed_tasks"]) == (1, 2, 3, 1)
    assert pr["task_s"] == pytest.approx(0.3)
    assert pr["cpu_s"] == pytest.approx(0.15)
    assert pr["gc_s"] == pytest.approx(0.015)
    assert pr["shuffle_write_mb"] == pytest.approx(3.0)
    assert pr["shuffle_read_mb"] == pytest.approx(3.0)
    assert pr["spill_mb"] == pytest.approx(2.0)
    assert (c["wcc"]["jobs"], c["wcc"]["tasks"]) == (1, 1)
    assert all(v == 0 for v in c["cdlp"].values())  # no jobs; the ungrouped job is dropped


def test_read_events_reads_every_log_file(tmp_path):
    for i, chunk in enumerate([EVENTS[:3], EVENTS[3:]]):
        (tmp_path / f"app-{i}").write_text("\n".join(json.dumps(e) for e in chunk) + "\n")
    assert read_events(str(tmp_path)) == EVENTS


def test_busy_frac():
    assert busy_frac(8.0, 4.0, 4) == pytest.approx(0.5)
    assert busy_frac(1.0, 0.0, 4) == 0.0


def test_self_time_subtracts_direct_children():
    t = Tracer("r")
    with t.span("outer") as outer:
        with t.span("a"):
            pass
        with t.span("b"):
            with t.span("c"):
                pass
    spans = {s.name: s for s in t.spans}
    assert spans["a"].parent == outer.id and spans["c"].parent == spans["b"].id
    assert t.self_time(outer) == pytest.approx(outer.seconds - spans["a"].seconds - spans["b"].seconds)
    assert {s["run_id"] for s in t.export()} == {"r"}
