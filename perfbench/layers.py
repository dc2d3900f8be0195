"""Per-query layer records of a traced pass, their consistency checks,
and the per-workload sums the benchmark reports.

Inputs are the worker's record (Python-side timings, probe totals,
Catalyst phase intervals, codegen counters) and the parsed event log.
All intervals are wall-clock milliseconds, so the JVM's and Python's
views of one query line up.
"""

from __future__ import annotations

import datetime as _dt

import eventlog

# How far the layer sum may sit from the measured exec time, and the
# absolute slack for queries too short for a share: the py4j call into
# the writer's save() and its return take 10-20 ms that no JVM interval
# covers, which is more than 5% of a write shorter than 0.4 s.
REL_TOL = 0.05
ABS_TOL_S = 0.02

PHASES = ("analysis", "optimization", "planning")


def _progress_ms(p: dict) -> float | None:
    ts = p.get("timestamp")
    if not ts:
        return None
    t = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return t.timestamp() * 1e3


def query_layers(rec: dict, log: eventlog.Log) -> list[dict]:
    """One layer record per query that completed."""
    done = [q for q in rec["queries"] if "window_ms" in q]
    windows = {q["name"]: tuple(q["window_ms"]) for q in done}
    per_job = eventlog.attribute(log, windows)
    qe_events = rec.get("qe_events", [])
    out = []
    for q in done:
        lo, hi = q["window_ms"]
        mid = q["exec_from_ms"]
        jobs = per_job[q["name"]]
        wall_busy = eventlog.job_busy_s(log, jobs["jobs"], lo, hi)
        exec_busy = eventlog.job_busy_s(log, jobs["jobs"], mid, hi)

        # Catalyst phases of the executions whose analysis began in the
        # write (exec) window: the write's own QueryExecution
        write_phases = {p: 0.0 for p in PHASES}
        phase_spans = []
        build_phase_ms = 0.0
        for ev in qe_events:
            starts = [ev[p][0] for p in PHASES if p in ev]
            if not starts or not lo <= min(starts) <= hi:
                continue
            in_exec = min(starts) >= mid
            for p in PHASES:
                if p in ev:
                    s, e = ev[p]
                    if in_exec:
                        write_phases[p] += e - s
                        phase_spans.append((s, e))
                    else:
                        build_phase_ms += e - s

        sql_spans = [(s, e if e is not None else hi)
                     for s, e in log.sql.values()
                     if s is not None and mid <= s <= hi]
        job_spans = [(log.jobs[j].start_ms,
                      log.jobs[j].end_ms or hi) for j in jobs["jobs"]]
        accounted_s = eventlog.union_length(eventlog.clip(
            phase_spans + sql_spans + job_spans, mid, hi)) / 1e3

        batches = [p for p in log.progress
                   if (t := _progress_ms(p)) is not None and lo <= t <= hi]

        c0, c2 = q["codegen0"], q["codegen2"]
        r = {
            "name": q["name"],
            "wall_s": q["wall_s"],
            "build_s": q["build_s"],
            "exec_s": q["exec_s"],
            "plans.run_s": q.get("plans.run_s", 0.0),
            "plans.run_calls": q.get("plans.run_calls", 0),
            "plans.assert_s": q.get("plans.assert_s", 0.0),
            "sources.commit_s": q.get("sources.commit_s", 0.0),
            "sources.commits": q.get("sources.commit_calls", 0),
            "sources.read_table_s": q.get("sources.read_table_s", 0.0),
            "concurrency.overlap_s": q.get("concurrency.overlap_s", 0.0),
            "concurrency.legs": q.get("concurrency.legs", 0),
            "streaming.batches": len(batches),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "streaming.planning_ms": sum(b["planning_ms"] for b in batches),
            "streaming.wal_ms": sum(b["wal_ms"] for b in batches),
            "catalyst.analysis_ms": write_phases["analysis"],
            "catalyst.optimization_ms": write_phases["optimization"],
            "catalyst.planning_ms": write_phases["planning"],
            "catalyst.build_phases_ms": build_phase_ms,
            "codegen.compiles": c2[0] - c0[0],
            "codegen.compile_ms": c2[1] - c0[1],
            "exec.jobs": len(jobs["jobs"]),
            "exec.stages": jobs["stages"],
            "exec.tasks": jobs["tasks"],
            "exec.task_run_s": jobs["task_run_s"],
            "exec.task_cpu_s": jobs["task_cpu_s"],
            "exec.gc_s": jobs["gc_s"],
            "exec.shuffle_write_mb": jobs["shuffle_write_mb"],
            "exec.spill_mb": jobs["spill_mb"],
            "exec.failed_tasks": jobs["failed_tasks"],
            "exec.job_busy_s": wall_busy,
            "exec.driver_gap_s": q["wall_s"] - wall_busy,
            "exec.exec_job_busy_s": exec_busy,
            "exec.exec_driver_gap_s": q["exec_s"] - exec_busy,
            "exec.exec_accounted_s": accounted_s,
            "exec.ungrouped_jobs": jobs["ungrouped_jobs"],
        }
        r["checks"] = check(r)
        out.append(r)
    return out


def check(r: dict) -> dict:
    """The layer-sum check of one query record.

    ``exec``: the JVM's own view of the write (its Catalyst phases, its
    SQL execution and the jobs it ran, as one union of intervals)
    against exec_s measured in Python. Codegen runs inside those
    intervals, and driver_gap_s is what remains after job_busy_s.

    There is no such check of build_s: most of a build is Python and
    per-call DataFrame analysis, which no JVM interval covers."""
    return {
        "exec": eventlog.within(r["exec_s"], r["exec.exec_accounted_s"],
                                REL_TOL, ABS_TOL_S),
    }


SUMMED = (
    "plans.run_s", "plans.run_calls", "plans.assert_s",
    "sources.commit_s", "sources.commits", "sources.read_table_s",
    "concurrency.overlap_s", "concurrency.legs",
    "streaming.batches", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.wal_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compile_ms", "codegen.compiles",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.failed_tasks", "exec.job_busy_s",
    "exec.driver_gap_s", "exec.ungrouped_jobs",
)


def workload_layers(rec: dict, records: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced pass: sums over its queries."""
    out = {
        "session.start_s": rec["session_start_s"],
        "session.warmup_s": rec["warmup_s"],
        "queries.build_s": sum(r["build_s"] for r in records),
        "queries.exec_s": sum(r["exec_s"] for r in records),
    }
    for key in SUMMED:
        out[key] = sum(r[key] for r in records)
    out["trace.wall_s"] = sum(r["wall_s"] for r in records)
    out["trace.failed_checks"] = sum(
        not ok for r in records for ok in r["checks"].values())
    out["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    out["host.jvm_unit_s"] = rec["host"]["jvm_unit_s"]
    out["host.py_unit_s"] = rec["host"]["py_unit_s"]
    return out
