"""Tests of the benchmark's own arithmetic: the event-log parser, the
job-interval union, driver_gap_s and the 5% layer-sum check.

    python3 -m pytest perfbench/tests -q

They read a small event log and worker record recorded from a traced
two-query pass (``record_fixture.py``); no Spark session is started.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def log() -> eventlog.Log:
    with open(os.path.join(DATA, "eventlog.jsonl")) as f:
        return eventlog.parse(f)


@pytest.fixture(scope="module")
def rec() -> dict:
    with open(os.path.join(DATA, "record.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def records(rec, log) -> dict[str, dict]:
    return {r["name"]: r for r in layers.query_layers(rec, log)}


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def test_parse_reads_every_kind_of_event(log):
    assert log.jobs and log.stages and log.tasks and log.sql
    assert all(j.end_ms is not None and j.end_ms >= j.start_ms
               for j in log.jobs.values())
    assert all(s is not None and e is not None and e >= s
               for s, e in log.sql.values())
    # every finished task belongs to a stage some job declared
    declared = {sid for j in log.jobs.values() for sid in j.stage_ids}
    assert {t["stage"] for t in log.tasks} <= declared


def test_parse_reads_streaming_progress(log):
    assert [p["batch_id"] for p in log.progress] == list(
        range(len(log.progress)))
    for p in log.progress:
        assert p["add_batch_ms"] >= 0 and p["wal_ms"] >= 0
        assert p["trigger_ms"] >= p["add_batch_ms"]


def test_parse_skips_blank_lines_and_other_events():
    lines = ["", json.dumps({"Event": "SparkListenerApplicationStart"}),
             json.dumps({"Event": "SparkListenerJobStart", "Job ID": 3,
                         "Submission Time": 100, "Stage IDs": [7],
                         "Properties": {"spark.jobGroup.id": "q"}}),
             json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 3,
                         "Completion Time": 250})]
    parsed = eventlog.parse(lines)
    assert list(parsed.jobs) == [3]
    job = parsed.jobs[3]
    assert (job.start_ms, job.end_ms, job.group, job.stage_ids) == (
        100, 250, "q", [7])


# ---------------------------------------------------------------------------
# interval union, job_busy_s and driver_gap_s
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("spans, length", [
    ([], 0.0),
    ([(0, 10)], 10.0),
    ([(0, 10), (5, 15)], 15.0),          # overlap counts once
    ([(0, 10), (2, 3)], 10.0),           # nested
    ([(0, 10), (10, 12)], 12.0),         # touching
    ([(20, 25), (0, 10)], 15.0),         # unsorted, disjoint
    ([(5, 5), (8, 6)], 0.0),             # empty and reversed spans
])
def test_union_length(spans, length):
    assert eventlog.union_length(spans) == length


def test_clip():
    assert eventlog.clip([(0, 10), (15, 30), (40, 50)], 5, 20) == [
        (5, 10), (15, 20)]


def _busy_by_grid(log, job_ids, lo, hi) -> float:
    """job_busy_s the slow way: count the milliseconds some job runs."""
    lo, hi = int(lo), int(hi)
    busy = set()
    for j in job_ids:
        job = log.jobs[j]
        busy.update(range(max(job.start_ms, lo), min(job.end_ms, hi)))
    return len(busy) / 1e3


def test_job_busy_matches_a_millisecond_grid(rec, log, records):
    for q in rec["queries"]:
        lo, hi = q["window_ms"]
        jobs = eventlog.attribute(log, {q["name"]: (lo, hi)})[q["name"]]
        # the recorded windows have sub-ms ends; compare on whole ms
        got = eventlog.job_busy_s(log, jobs["jobs"], int(lo), int(hi))
        assert got == pytest.approx(
            _busy_by_grid(log, jobs["jobs"], lo, hi), abs=1e-9)
        assert 0 < records[q["name"]]["exec.job_busy_s"] <= q["wall_s"]


def test_driver_gap_is_wall_minus_job_busy(records):
    for r in records.values():
        assert r["exec.driver_gap_s"] == pytest.approx(
            r["wall_s"] - r["exec.job_busy_s"])
        assert r["exec.driver_gap_s"] >= 0


def test_job_busy_treats_an_unfinished_job_as_running_to_the_end():
    log = eventlog.Log(jobs={1: eventlog.Job(1, 100, None),
                             2: eventlog.Job(2, 50, 150)})
    assert eventlog.job_busy_s(log, [1, 2], 0, 400) == pytest.approx(0.35)


# ---------------------------------------------------------------------------
# attribution of jobs to queries
# ---------------------------------------------------------------------------


def test_every_job_in_a_window_is_attributed_once(rec, log):
    windows = {q["name"]: tuple(q["window_ms"]) for q in rec["queries"]}
    per_query = eventlog.attribute(log, windows)
    owned = [j for v in per_query.values() for j in v["jobs"]]
    assert len(owned) == len(set(owned))
    inside = {j.job_id for j in log.jobs.values()
              if any(lo <= j.start_ms <= hi for lo, hi in windows.values())}
    assert set(owned) == inside


def test_jobs_outside_the_query_group_count_as_ungrouped(rec, log, records):
    # the chain query runs on the calling thread: every job carries its
    # group; the REST poller's threads submit jobs without it
    for q in rec["queries"]:
        lo, hi = q["window_ms"]
        expected = sum(1 for j in log.jobs.values()
                       if lo <= j.start_ms <= hi and j.group != q["name"])
        assert records[q["name"]]["exec.ungrouped_jobs"] == expected
    chain = records["q42_race_control_chain"]
    stream = records["q69_stream_rest_ingest"]
    assert chain["exec.ungrouped_jobs"] == 0
    assert 0 < stream["exec.ungrouped_jobs"] <= stream["exec.jobs"]


def test_streaming_batches_fall_in_the_streaming_query(records):
    chain = records["q42_race_control_chain"]
    stream = records["q69_stream_rest_ingest"]
    assert chain["streaming.batches"] == 0
    assert stream["streaming.batches"] > 0
    assert stream["streaming.add_batch_ms"] > 0


# ---------------------------------------------------------------------------
# the 5% layer-sum check
# ---------------------------------------------------------------------------


def test_recorded_pass_passes_the_layer_sum_check(records):
    for r in records.values():
        assert r["checks"] == {"exec": True}, r["name"]


def test_layer_sum_check_holds_to_five_percent(records):
    # the chain query's write is long enough for the 5% share to rule
    r = copy.deepcopy(records["q42_race_control_chain"])
    assert r["exec_s"] * layers.REL_TOL > layers.ABS_TOL_S
    accounted = r["exec.exec_accounted_s"]
    r["exec_s"] = accounted / 0.96
    assert layers.check(r)["exec"]
    r["exec_s"] = accounted / 0.94
    assert not layers.check(r)["exec"]
    r["exec_s"] = accounted * 0.94
    assert not layers.check(r)["exec"]


def test_short_writes_get_the_absolute_slack(records):
    r = copy.deepcopy(records["q69_stream_rest_ingest"])
    accounted = r["exec.exec_accounted_s"]
    r["exec_s"] = accounted + layers.ABS_TOL_S * 0.9
    assert layers.check(r)["exec"]
    r["exec_s"] = accounted + layers.ABS_TOL_S * 1.1
    assert not layers.check(r)["exec"]


def test_within():
    assert eventlog.within(100.0, 104.9)
    assert not eventlog.within(100.0, 105.1)
    assert eventlog.within(0.1, 0.115, abs_s=0.02)
    assert not eventlog.within(0.1, 0.125, abs_s=0.02)


def test_workload_sums_add_the_query_records(rec, records):
    sums = layers.workload_layers(rec, list(records.values()))
    assert sums["queries.exec_s"] == pytest.approx(
        sum(r["exec_s"] for r in records.values()))
    assert sums["exec.jobs"] == sum(r["exec.jobs"]
                                    for r in records.values())
    assert sums["trace.failed_checks"] == 0
