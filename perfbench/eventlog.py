"""Stdlib reader for an uncompressed, unrolled Spark event log, and the
per-query layer arithmetic built on it.

Spark writes one JSON object per line. Of those this module reads job
start/end (with the job group), stage completion, task end (run time,
CPU, GC, shuffle, spill), SQL execution start/end and structured
streaming progress. ``attribute`` assigns every job to the query whose
time window holds its submission, since the benchmark runs queries one
after another; jobs whose group is not that query are counted as
ungrouped.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_PROGRESS = ("org.apache.spark.sql.streaming.StreamingQueryListener"
             "$QueryProgressEvent")


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None = None
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> (number of tasks, completion time ms)
    stages: dict[int, tuple[int, int]] = field(default_factory=dict)
    # one dict of metrics per finished task, keyed by stage id
    tasks: list[dict] = field(default_factory=list)
    # execution id -> [start ms, end ms]
    sql: dict[int, list] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def parse(lines) -> Log:
    """Parse event-log lines (an open file or any iterable of str)."""
    log = Log()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            log.stages[info["Stage ID"]] = (info["Number of Tasks"],
                                            info.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            shuffle = m.get("Shuffle Write Metrics") or {}
            log.tasks.append({
                "stage": ev["Stage ID"],
                "failed": bool(info.get("Failed")),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })
        elif kind == _SQL_START:
            log.sql.setdefault(ev["executionId"], [None, None])[0] = ev["time"]
        elif kind == _SQL_END:
            log.sql.setdefault(ev["executionId"], [None, None])[1] = ev["time"]
        elif kind == _PROGRESS:
            p = ev["progress"]
            d = p.get("durationMs") or {}
            log.progress.append({
                "timestamp": p.get("timestamp"),
                "batch_id": p.get("batchId"),
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "wal_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "trigger_ms": d.get("triggerExecution", 0),
            })
    return log


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals; overlaps count
    once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def attribute(log: Log, windows: dict[str, tuple[float, float]]) -> dict:
    """Split the log over queries.

    ``windows`` maps each query to its (start ms, end ms) wall-clock
    window. Returns per query: its jobs (ids), ungrouped job count,
    stages, and task totals."""
    out = {q: {"jobs": [], "ungrouped_jobs": 0, "stages": 0, "tasks": 0,
               "failed_tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
           for q in windows}
    stage_owner: dict[int, str] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        owner = next((q for q, (lo, hi) in windows.items()
                      if lo <= job.start_ms <= hi), None)
        if owner is None:
            continue
        rec = out[owner]
        rec["jobs"].append(job.job_id)
        if job.group != owner:
            rec["ungrouped_jobs"] += 1
        for sid in job.stage_ids:
            stage_owner.setdefault(sid, owner)
    for sid, owner in stage_owner.items():
        if sid in log.stages:
            out[owner]["stages"] += 1
    for t in log.tasks:
        owner = stage_owner.get(t["stage"])
        if owner is None:
            continue
        rec = out[owner]
        rec["tasks"] += 1
        rec["failed_tasks"] += int(t["failed"])
        rec["task_run_s"] += t["run_ms"] / 1e3
        rec["task_cpu_s"] += t["cpu_ns"] / 1e9
        rec["gc_s"] += t["gc_ms"] / 1e3
        rec["shuffle_write_mb"] += t["shuffle_bytes"] / 2**20
        rec["spill_mb"] += t["spill_bytes"] / 2**20
    return out


def job_busy_s(log: Log, job_ids, lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] during which at least one of the jobs
    ran. A job with no end event is taken to run until ``hi_ms``."""
    spans = [(log.jobs[j].start_ms,
              log.jobs[j].end_ms if log.jobs[j].end_ms is not None
              else hi_ms) for j in job_ids]
    return union_length(clip(spans, lo_ms, hi_ms)) / 1e3


def within(expected: float, measured: float, rel: float = 0.05,
           abs_s: float = 0.0) -> bool:
    """True when ``measured`` is within ``rel`` of ``expected`` (or
    within ``abs_s`` seconds, for queries too short for a share)."""
    return abs(measured - expected) <= max(rel * abs(expected), abs_s)
