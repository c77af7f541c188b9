"""Fold an uncompressed Spark event log into per-job-group layer metrics.

Standard library only. The benchmark tags every public engine call with its
own Spark job group; this module sums the task metrics of the stages each
group ran and keeps the job intervals, so a caller can set them against the
wall time it measured around the call.

Fields read (Spark 4 JSON event log):

- ``SparkListenerJobStart`` / ``SparkListenerJobEnd``: job id, group
  (``Properties["spark.jobGroup.id"]``), submission and completion time.
- ``SparkListenerStageSubmitted``: the stage's group and the operator names
  in its RDD scopes (to tell Python and file-writing stages apart).
- ``SparkListenerStageCompleted``: stage attempts that finished.
- ``SparkListenerTaskEnd``: run and GC time, shuffle read/write, spill,
  output bytes, end reason, attempt number and the executor's peak JVM heap
  use while the task ran (``Task Executor Metrics``; in local mode the
  executor is the driver JVM).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

MB = 1e6

# Stages whose operator is a pandas or Arrow grouped / cogrouped map.
PYTHON_GROUPED_MAP = re.compile(r"^FlatMap(Co)?GroupsIn(Pandas|Arrow)$")
WRITE_SCOPE = "WriteFiles"

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


@dataclass
class GroupStats:
    """Totals for the stages and tasks one job group ran."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    heap_peak_mb: float = 0.0
    python_stages: int = 0
    python_task_s: float = 0.0
    failed_tasks: int = 0
    retried_tasks: int = 0
    # (submission, completion) of each job, epoch seconds
    job_spans: list = field(default_factory=list)
    # wall seconds of the jobs that ran a file-writing stage
    write_job_s: float = 0.0


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return names


def read_events(path: str):
    """Yield the events this module folds, skipping the rest unparsed."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:64]
            if any(f'"{name}"' in head for name in _WANTED):
                yield json.loads(line)


def fold(events) -> dict[str, GroupStats]:
    """Group id → :class:`GroupStats`. Jobs without a group are dropped."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    stage_writes: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    job_writes: set[int] = set()
    groups: dict[str, GroupStats] = {}

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            groups.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                g = groups[job_group[jid]]
                end = ev["Completion Time"] / 1000.0
                g.job_spans.append((job_start[jid], end))
                if jid in job_writes:
                    g.write_job_s += end - job_start[jid]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None or group not in groups:
                continue
            sid = info["Stage ID"]
            names = _scope_names(info)
            stage_group[sid] = group
            stage_python[sid] = any(PYTHON_GROUPED_MAP.match(n) for n in names)
            stage_writes[sid] = WRITE_SCOPE in names
            if stage_writes[sid] and sid in stage_job:
                job_writes.add(stage_job[sid])
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                g = groups[stage_group[sid]]
                g.stages += 1
                g.python_stages += stage_python[sid]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_group:
                continue
            g = groups[stage_group[sid]]
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            run_s = m.get("Executor Run Time", 0) / 1000.0
            g.tasks += 1
            g.task_s += run_s
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            g.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            g.shuffle_write_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            g.output_mb += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0) / MB
            g.heap_peak_mb = max(g.heap_peak_mb, heap)
            if stage_python[sid]:
                g.python_task_s += run_s
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                g.failed_tasks += 1
            if info.get("Attempt", 0) > 0:
                g.retried_tasks += 1
    return groups


def covered_s(spans, start: float, end: float) -> float:
    """Seconds of ``[start, end]`` covered by the union of ``spans``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in spans)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_idle_s(stats: GroupStats, start: float, end: float) -> float:
    """Wall time of the call ``[start, end]`` not covered by any of its jobs:
    Python driver work, Catalyst planning and Observation round-trips."""
    return (end - start) - covered_s(stats.job_spans, start, end)
