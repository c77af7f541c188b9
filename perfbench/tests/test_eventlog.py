"""The event-log folder on a canned log with known totals."""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402


def _rdd(scope_name):
    return {"RDD ID": 1, "Name": "x", "Scope": json.dumps({"id": "1", "name": scope_name})}


def _stage(sid, group, scopes):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                       "RDD Info": [_rdd(s) for s in scopes]},
        "Properties": {"spark.jobGroup.id": group},
    }


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "RDD Info": []}}


def _task(sid, run_ms, *, gc_ms=0, sr=0, sw=0, spill=0, out=0, heap=0,
          reason="Success", attempt=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Task ID": 0, "Attempt": attempt},
        "Task Executor Metrics": {"JVMHeapMemory": heap, "JVMOffHeapMemory": 9 * heap},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Memory Bytes Spilled": 7 * spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": sr, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _job(jid, group, stages, t0_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0_ms,
            "Stage IDs": stages, "Properties": props}


def _job_end(jid, t1_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1_ms,
            "Job Result": {"Result": "JobSucceeded"}}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"},
    # job 0 (group "loop#1"): a JVM shuffle stage then a Python grouped map
    _job(0, "loop#1", [0, 1], 10_000),
    _stage(0, "loop#1", ["WholeStageCodegen (1)", "Exchange"]),
    _task(0, 1500, gc_ms=100, sw=2_000_000, heap=700_000_000),
    _task(0, 500, sw=1_000_000, heap=900_000_000),
    _stage_done(0),
    _stage(1, "loop#1", ["FlatMapCoGroupsInPandas", "mapPartitionsInternal"]),
    _task(1, 2000, sr=1_500_000, spill=3_000_000),
    _task(1, 250, reason="ExceptionFailure", attempt=0),
    _task(1, 250, attempt=1),
    _stage_done(1),
    _job_end(0, 13_000),
    # SQL noise the folder must skip
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "physicalPlanDescription": "SparkListenerTaskEnd " * 3},
    # job 1 (same group): writes files
    _job(1, "loop#1", [2], 14_000),
    _stage(2, "loop#1", ["WriteFiles", "WholeStageCodegen (2)"]),
    _task(2, 400, out=5_000_000),
    _stage_done(2),
    _job_end(1, 14_500),
    # job 2 has no group: ignored entirely
    _job(2, None, [3], 15_000),
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 3, "RDD Info": [_rdd("MapInPandas")]}, "Properties": {}},
    _task(3, 9999, heap=5_000_000_000),
    _stage_done(3),
    _job_end(2, 16_000),
]


@pytest.fixture
def canned_log(tmp_path):
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in CANNED))
    return str(path)


def test_fold_totals(canned_log):
    groups = eventlog.fold(eventlog.read_events(canned_log))
    assert set(groups) == {"loop#1"}
    g = groups["loop#1"]
    assert (g.jobs, g.stages, g.tasks) == (2, 3, 6)
    assert g.task_s == pytest.approx(4.9)
    assert g.gc_s == pytest.approx(0.1)
    assert g.shuffle_write_mb == pytest.approx(3.0)
    assert g.shuffle_read_mb == pytest.approx(3.0)  # remote + local
    assert g.spill_mb == pytest.approx(3.0)  # disk bytes, not memory bytes
    assert g.output_mb == pytest.approx(5.0)
    assert g.heap_peak_mb == pytest.approx(900.0)  # max, not sum; on-heap only
    assert g.python_stages == 1
    assert g.python_task_s == pytest.approx(2.5)
    assert (g.failed_tasks, g.retried_tasks) == (1, 1)
    assert g.write_job_s == pytest.approx(0.5)
    assert sorted(g.job_spans) == [(10.0, 13.0), (14.0, 14.5)]


def test_driver_idle_is_call_wall_minus_job_cover(canned_log):
    g = eventlog.fold(eventlog.read_events(canned_log))["loop#1"]
    # call span 9..15 s: jobs cover 3.0 + 0.5 s of it
    assert eventlog.driver_idle_s(g, 9.0, 15.0) == pytest.approx(2.5)
    # jobs are clipped to the call span
    assert eventlog.driver_idle_s(g, 12.0, 14.25) == pytest.approx(1.0)


def test_covered_merges_overlaps():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert eventlog.covered_s(spans, 0.0, 10.0) == pytest.approx(4.0)
    assert eventlog.covered_s([], 0.0, 10.0) == 0.0


def test_python_stage_pattern():
    match = eventlog.PYTHON_GROUPED_MAP.match
    for name in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow"):
        assert match(name)
    for name in ("MapInPandas", "ArrowEvalPython", "WholeStageCodegen (1)"):
        assert not match(name)


def test_read_events_skips_other_events(canned_log):
    kinds = {e["Event"] for e in eventlog.read_events(canned_log)}
    assert kinds == set(eventlog._WANTED)
