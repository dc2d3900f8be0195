"""Record the tests' fixture: one traced pass of two small queries.

    python3 perfbench/tests/record_fixture.py

Run from the root of an engine checkout. Writes ``data/eventlog.jsonl``
(the events ``eventlog.parse`` reads, cut down to the fields it reads)
and ``data/record.json`` (the worker's record, output fingerprints
left out) beside this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402

# a chain query (plans, Catalyst) and a streaming one (progress events,
# jobs from the poller's threads outside the query's job group)
QUERIES = ["q42_race_control_chain", "q69_stream_rest_ingest"]

_TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                 "Memory Bytes Spilled", "Disk Bytes Spilled")


def trim(ev: dict) -> dict | None:
    """The event with only the fields ``eventlog.parse`` reads, or None
    for an event it skips."""
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev.get("Stage IDs", []),
                "Properties": {} if group is None
                else {"spark.jobGroup.id": group}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {
            k: info[k] for k in ("Stage ID", "Number of Tasks",
                                 "Completion Time") if k in info}}
    if kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        shuffle = m.get("Shuffle Write Metrics") or {}
        metrics = {k: m[k] for k in _TASK_METRICS if k in m}
        metrics["Shuffle Write Metrics"] = {
            "Shuffle Bytes Written": shuffle.get("Shuffle Bytes Written", 0)}
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Info": {"Failed": ev["Task Info"].get("Failed", False)},
                "Task Metrics": metrics}
    if kind in (eventlog._SQL_START, eventlog._SQL_END):
        return {"Event": kind, "executionId": ev["executionId"],
                "time": ev["time"]}
    if kind == eventlog._PROGRESS:
        p = ev["progress"]
        return {"Event": kind, "progress": {
            "timestamp": p.get("timestamp"), "batchId": p.get("batchId"),
            "durationMs": p.get("durationMs") or {}}}
    return None


def main() -> None:
    sys.path.insert(0, run.ROOT)
    rec, run_dir = run.run_pass("elt_chain", 1, True, run.RUN_LIMIT_S,
                                "fixture", queries=QUERIES)
    try:
        logdir = os.path.join(run_dir, "eventlog")
        (name,) = os.listdir(logdir)
        out = os.path.join(HERE, "data")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(logdir, name)) as src, \
                open(os.path.join(out, "eventlog.jsonl"), "w") as dst:
            for line in src:
                if line.strip() and (ev := trim(json.loads(line))):
                    dst.write(json.dumps(ev) + "\n")
        for q in rec["queries"]:
            q.pop("fingerprint", None)
        with open(os.path.join(out, "record.json"), "w") as f:
            json.dump(rec, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
