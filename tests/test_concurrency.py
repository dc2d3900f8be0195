"""Round-14 optimization infrastructure: driver-thread leg overlap
(`concurrency.overlap`) and the reference-counted shuffle-partition
scope it depends on (`streaming.confs.scoped_shuffle_partitions`).

The failure mode the scope guard exists for: two threads entering
save/set/restore scopes interleaved so one thread "restores" the
other's override, leaking a streaming-sized partition count into
every later batch plan. The tests drive the interleavings directly
with python threads — no Spark jobs needed beyond conf reads."""

from __future__ import annotations

import threading
import time
import uuid

import pytest

from formula1_data_pipeline_spark.concurrency import overlap
from formula1_data_pipeline_spark.streaming.confs import (
    scoped_shuffle_partitions,
)

KEY = "spark.sql.shuffle.partitions"


def test_scope_sets_and_restores(spark):
    prev = spark.conf.get(KEY)
    with scoped_shuffle_partitions(spark, 5):
        assert spark.conf.get(KEY) == "5"
    assert spark.conf.get(KEY) == prev


def test_concurrent_same_value_scopes_share_and_restore(spark):
    prev = spark.conf.get(KEY)
    inside = threading.Barrier(3, timeout=30)
    seen: list[str] = []

    def leg() -> None:
        with scoped_shuffle_partitions(spark, 7):
            inside.wait()  # all three hold the scope at once
            seen.append(spark.conf.get(KEY))

    threads = [threading.Thread(target=leg) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert seen == ["7", "7", "7"]
    # the LAST exit restores the original value — no leak
    assert spark.conf.get(KEY) == prev


def test_conflicting_value_blocks_until_scope_unwinds(spark):
    prev = spark.conf.get(KEY)
    entered = threading.Event()
    release = threading.Event()
    order: list[str] = []

    def holder() -> None:
        with scoped_shuffle_partitions(spark, 6):
            entered.set()
            release.wait(timeout=30)
            order.append("holder-exit")

    def contender() -> None:
        entered.wait(timeout=30)
        with scoped_shuffle_partitions(spark, 9):
            order.append("contender-in")
            assert spark.conf.get(KEY) == "9"

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=contender)
    t1.start()
    t2.start()
    entered.wait(timeout=30)
    time.sleep(0.2)  # contender must still be blocked on value 6
    assert order == []
    release.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert order == ["holder-exit", "contender-in"]
    assert spark.conf.get(KEY) == prev


def test_overlap_returns_results_in_order(spark):
    def slow() -> str:
        time.sleep(0.2)
        return "slow"

    assert overlap(spark, [("a", slow), ("b", lambda: "fast")]) \
        == ["slow", "fast"]


def test_overlap_waits_for_all_then_raises_first_failure(spark):
    finished = threading.Event()

    def ok_leg() -> str:
        time.sleep(0.3)
        finished.set()
        return "ok"

    def bad_leg() -> None:
        raise RuntimeError("leg failed")

    with pytest.raises(RuntimeError, match="leg failed"):
        overlap(spark, [("bad", bad_leg), ("ok", ok_leg)])
    # the surviving leg ran to completion before the raise
    assert finished.is_set()


def test_overlap_legs_inherit_callers_job_group(spark):
    """Legs run in the caller's job group (so it attributes and can
    cancel their jobs), each with its own description label — one
    leg's label never relabels a sibling."""
    sc = spark.sparkContext
    group = f"overlap-group-{uuid.uuid4().hex[:8]}"
    labelled = threading.Barrier(2, timeout=30)

    def leg(n: int):
        def thunk():
            labelled.wait()  # both legs have set their description
            seen = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            spark.range(n).collect()
            return seen
        return thunk

    sc.setJobGroup(group, "overlap attribution")
    try:
        seen = overlap(spark, [("leg a", leg(3)), ("leg b", leg(5))])
    finally:
        sc.setJobGroup(None, None)
    assert seen == [(group, "leg a"), (group, "leg b")]
    # the caller ran no job of its own: every job in the group is a leg's
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_cancel_job_group_stops_an_overlap_leg(spark):
    sc = spark.sparkContext
    group = f"overlap-cancel-{uuid.uuid4().hex[:8]}"
    started = threading.Event()

    def sleeping_leg():
        started.set()
        return sc.parallelize([0], 1).map(lambda _: time.sleep(60)) \
            .collect()

    def cancel_once_running() -> None:
        started.wait(timeout=30)
        deadline = time.monotonic() + 30
        tracker = sc.statusTracker()
        while time.monotonic() < deadline:
            if any(j in tracker.getActiveJobsIds()
                   for j in tracker.getJobIdsForGroup(group)):
                sc.cancelJobGroup(group)
                return
            time.sleep(0.1)

    canceller = threading.Thread(target=cancel_once_running)
    canceller.start()
    t0 = time.monotonic()
    sc.setJobGroup(group, "overlap cancel", interruptOnCancel=True)
    try:
        with pytest.raises(Exception, match="cancel"):
            overlap(spark, [("sleeper", sleeping_leg)])
    finally:
        sc.setJobGroup(None, None)
        canceller.join(timeout=60)
    # cancelled well before the task's 60 s sleep could finish
    assert time.monotonic() - t0 < 45
