"""Scoped shuffle-partition override for bounded streaming replays.

A stateful streaming stage creates one state-store instance (and one
Arrow/Python worker exchange, one commit file per micro-batch) per
shuffle partition — fixed per-partition overhead that dominates a
bounded AvailableNow replay on small backlogs: q35 measured 7.7 s at
32 partitions vs 2.9 s at 8 on sf0.1. On a real cluster the right
number scales with key cardinality and executor count (state must
shard wide enough to spread across the fleet), so the override is one
constant, ``STATE_PARTITIONS``, sized for these local bounded replays
— a deployment sets it once for its cluster, not per call. Every
replay runs through ``scaffold.run``, which also bounds it by
``TIMEOUT_SEC``. The previous session value is always restored — the
conf is read at stream *planning* time, so restoring once the query
has ended can't affect it.

Concurrency (round 14): independent streaming legs of one gate now
run from driver threads (guide §2.6 back-fill — a bounded replay is
a chain of small sequential jobs that leaves most cores idle), but
``spark.conf`` is SESSION-global, not thread-local. A naive
save/set/restore from two threads can interleave so that one thread
"restores" the other thread's override, leaking it into every later
plan. The scope is therefore reference-counted under a module lock:
the first enter saves+sets, the last exit restores, and a thread
requesting a DIFFERENT value blocks until the current scope fully
unwinds (same value → share the scope). All replays use the same
``STATE_PARTITIONS``, so sharing is the hot path and blocking (e.g.
against ``operators/cluster.py``'s own scope) is the loud-but-safe
fallback.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: shuffle partitions (= state-store instances) of every bounded
#: replay — the q35 measurement above
STATE_PARTITIONS = 8
#: seconds ``scaffold.run`` waits before it stops a replay and raises
TIMEOUT_SEC = 300

_LOCK = threading.Condition()
#: session-id -> [depth, active value, saved previous value,
#:                {thread ident: nesting depth}]
_ACTIVE: dict[int, list] = {}


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    if n is None:
        yield
        return
    key = id(spark)
    me = threading.get_ident()
    with _LOCK:
        # a thread nesting the scope with a DIFFERENT value would wait
        # on itself forever (it holds the depth the wait loop is
        # waiting out) — refuse loudly instead of deadlocking
        if (key in _ACTIVE and _ACTIVE[key][1] != n
                and me in _ACTIVE[key][3]):
            raise RuntimeError(
                "scoped_shuffle_partitions: same-thread re-entry with "
                f"a conflicting value ({n} inside an active "
                f"{_ACTIVE[key][1]} scope) would self-deadlock")
        while key in _ACTIVE and _ACTIVE[key][1] != n:
            _LOCK.wait()
        if key in _ACTIVE:
            _ACTIVE[key][0] += 1
            owners = _ACTIVE[key][3]
            owners[me] = owners.get(me, 0) + 1
        else:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            _ACTIVE[key] = [1, n, prev, {me: 1}]
    try:
        yield
    finally:
        with _LOCK:
            st = _ACTIVE[key]
            st[0] -= 1
            owners = st[3]
            if owners.get(me, 0) <= 1:
                owners.pop(me, None)
            else:
                owners[me] -= 1
            if st[0] == 0:
                try:
                    spark.conf.set("spark.sql.shuffle.partitions",
                                   st[2])
                finally:
                    # even if the restore raises (session stopped
                    # mid-gate), the entry must not survive at depth 0
                    # with waiters blocked forever
                    del _ACTIVE[key]
                    _LOCK.notify_all()
