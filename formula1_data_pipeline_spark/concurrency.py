"""Driver-thread overlap for independent Spark legs (guide §2.6).

This is the package's one concurrency primitive: every concurrent
Spark leg goes through ``overlap``, and no other module keeps a thread
pool. Its callers:

- gates that build more than one independent artifact before returning
  their lazy result frame (a batch-maintained index AND a
  stream-maintained one; three unrelated streaming replays; two txn
  table layouts);
- the recall/dedup gates q71, q92 and q96, whose method legs each
  collect an independent plan;
- ``ModelRegistry.run``, which builds each DAG generation's writing
  models (the marts) as legs, dbt's ``threads`` run stage.

Each build is a chain of small sequential Spark jobs — at
bounded-replay scale the cluster is mostly idle while the driver
round-trips — so running the independent chains from a small thread
pool lets the scheduler back-fill: wall time drops from the sum of the
legs to roughly the max. Spark's scheduler is explicitly
multi-job-safe (FIFO across concurrently submitted jobs), and the one
piece of session-global state the streaming legs touch (the scoped
shuffle-partition override) is reference-counted for exactly this
(streaming/confs.py).

``overlap`` is deliberately tiny: run the thunks, keep result order,
re-raise the first failure (after every thunk finished — a gate must
not leave a half-built index behind a raised exception, or a live
foreachBatch stream racing the test harness's scratch cleanup).

Legs inherit the caller's Spark local properties (job group, job
description, scheduler pool) through pyspark's
``inheritable_thread_target``: under pinned-thread mode a plain pool
thread starts with empty properties, so its jobs would sit outside the
caller's job group — unattributed, and out of reach of
``cancelJobGroup``. Each leg gets its own clone of the properties, so
one leg's job-description label never relabels a sibling's jobs
(guide §1.5; descriptions are thread-local).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(spark: SparkSession,
            legs: Sequence[tuple[str, Callable[[], Any]]]) -> list[Any]:
    """Run ``(label, thunk)`` legs concurrently; return results in
    input order. Raises the first leg's exception only after every
    leg has settled. Each leg runs with a clone of the caller's local
    properties and ``label`` as its job description."""
    sc = spark.sparkContext

    def run(label: str, thunk: Callable[[], Any]) -> Any:
        sc.setJobDescription(label)
        try:
            return thunk()
        finally:
            sc.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=max(1, len(legs))) as pool:
        # one inheritable_thread_target call per leg: each call clones
        # the caller's properties, so legs never share one Properties
        futures = [pool.submit(inheritable_thread_target(spark)(run),
                               label, thunk)
                   for label, thunk in legs]
        results: list[Any] = []
        first_exc: BaseException | None = None
        for (label, _), f in zip(legs, futures):
            try:
                results.append(f.result())
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                results.append(None)
                if first_exc is None:
                    first_exc = exc
                else:
                    # secondary leg failures must not vanish — the
                    # root-cause leg may be a later one (round-14
                    # ADVICE); notes ride the raised exception
                    first_exc.add_note(
                        f"overlap: leg {label!r} also failed: "
                        f"{type(exc).__name__}: {exc}")
        if first_exc is not None:
            raise first_exc
    return results
