"""Streaming REST ingest — the SURVEY §2.10 "idiomatic upgrade" leg.

The reference's realtime DAG polls the OpenF1 API on a fixed interval
and delete+reloads the latest-session tables per poll
(``dags/open_f1_realtime.py:249-263``). This module composes the
already-gated pieces into that loop as Structured Streaming:

- a **poll schedule** drives micro-batches: one tiny file per poll id,
  replayed one file per trigger with ``Trigger.AvailableNow`` —
  each micro-batch IS one poll tick. (In an unbounded deployment the
  clock is the trigger interval itself; the bounded file schedule is
  what makes the leg gateable.)
- each micro-batch fetches **driver-side** through a
  ``RateLimitedClient`` (the API's rate cap enforced at the client
  edge, independent of trigger pacing), normalizes via
  ``records_to_raw_df`` (S3: all-string landing, sentinel scrub,
  key injection), and lands through ``foreachBatch`` →
  ``merge_upsert`` — the manifest-transactional sink, so every poll
  commits atomically and a crashed poll never half-publishes.
- merge priority is *intrinsic* (the injected poll number), so the
  landed table converges to last-poll-wins per key regardless of
  micro-batch order or replay — the same idempotence contract as
  ``stream_merge_upsert``.

Scale notes: the REST fetch is inherently driver-side and tiny (a few
thousand rows per poll — the reference's own boundary); everything
after ``records_to_raw_df`` is distributed. Landed-table state is the
only state (no executor state store), and each poll's merge cost is
bounded by the landing table, which for the realtime leg is one
session's dimension-sized latest-state table.
"""

from __future__ import annotations

import pathlib
import threading
import time
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.sources.openf1 import OpenF1Client
from formula1_data_pipeline_spark.streaming.scaffold import run, source


class RateLimitedClient:
    """Wrap an ``OpenF1Client`` with a minimum interval between
    ``fetch`` calls (token-per-interval pacing) — the polling loop's
    politeness contract with the API, enforced at the client so every
    caller (batch backfill or streaming poller) shares one budget.

    ``clock``/``sleep`` are injectable for deterministic tests; the
    defaults are monotonic wall-clock pacing.
    """

    def __init__(
        self,
        inner: OpenF1Client,
        min_interval_sec: float = 0.0,
        clock=time.monotonic,
        sleep=time.sleep,
    ):
        self._inner = inner
        self._min_interval = float(min_interval_sec)
        self._clock = clock
        self._sleep = sleep
        self._next_allowed: float | None = None
        # pacing state is shared-budget by contract, so concurrent
        # callers must not both observe the same free slot and burst
        self._lock = threading.Lock()

    def fetch(self, endpoint: str, **params: object) -> list[dict]:
        if self._min_interval > 0:
            with self._lock:
                now = self._clock()
                # schedule from the *allowed* slot, not the observed
                # time, so long fetches don't grant burst credit
                base = self._next_allowed if self._next_allowed is not None \
                    else now
                slot = max(base, now)
                self._next_allowed = slot + self._min_interval
            # reserve the slot under the lock, sleep outside it so a
            # waiting caller doesn't serialize everyone behind it
            if slot > now:
                self._sleep(slot - now)
        return self._inner.fetch(endpoint, **params)


def stream_rest_ingest(
    spark: SparkSession,
    client: OpenF1Client,
    endpoint: str,
    session_key: int,
    n_polls: int,
    keys: list[str],
    order: list[Column] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame | None:
    """Run ``n_polls`` REST polls as a bounded stream (one micro-batch
    per poll), landing each through the transactional merge sink, and
    return the converged landed table — or ``None`` if every poll was
    empty (the ``records_to_raw_df`` convention). Raises TimeoutError
    rather than returning a partially-landed table.

    Each poll ``p`` fetches ``endpoint`` with
    ``(session_key=…, poll=p)`` (the incremental-params shape of the
    reference's realtime loop), injects ``session_key`` and ``poll``
    into the landed rows, and merges keyed by ``keys`` with
    poll-number-descending priority by default — so the final state is
    last-poll-wins per key, independent of batch order.
    """
    from formula1_data_pipeline_spark.sources.openf1 import (
        records_to_raw_df,
    )
    from formula1_data_pipeline_spark.sources.sinks import merge_upsert
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
    )

    if order is None:
        order = [F.col("poll").cast("int").desc()]
        order_cols = list(set(order_cols or []) | {"poll"})

    base = pathlib.Path(scratch_dir(prefix="stream_rest_"))
    schedule_dir = base / "schedule"
    landing = str(base / "landing")

    # one single-row parquet file per poll id = one micro-batch per
    # poll: spark.range with n partitions writes n one-row files in a
    # single job (a per-poll createDataFrame+write costs ~5 s each on
    # the Python-RDD serialization path — measured, not guessed)
    (
        spark.range(0, n_polls, 1, numPartitions=n_polls)
        .select(F.col("id").cast("int").alias("poll"))
        .write.parquet(str(schedule_dir))
    )

    stream = source(spark, "poll int", str(schedule_dir))

    def poll_and_land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # the schedule is metadata (poll ids), not data — collecting it
        # is one int per micro-batch, the driver-side fetch boundary
        for row in sorted(batch_df.collect()):
            p = row["poll"]
            records = client.fetch(endpoint, session_key=session_key,
                                   poll=p)
            df = records_to_raw_df(
                sess, records,
                inject={"session_key": session_key, "poll": p},
            )
            if df is None:  # empty poll — the S3 short-circuit
                continue
            merge_upsert(sess, df, landing, keys=keys, order=order,
                         order_cols=order_cols)

    run(stream, "stream_rest_ingest", poll_and_land, base)
    if not is_txn_table(spark, landing):
        return None  # every poll was empty — the S3 short-circuit
    return read_table(spark, landing)


def batch_rest_ingest(
    spark: SparkSession,
    client: OpenF1Client,
    endpoint: str,
    session_key: int,
    polls: Iterable[int],
    keys: list[str],
) -> DataFrame | None:
    """The batch equivalent of ``stream_rest_ingest`` for parity
    checks: fetch every poll, union, keep the max-poll row per key —
    what the landed table must converge to regardless of streaming.
    ``None`` when every poll is empty, matching the stream side."""
    from formula1_data_pipeline_spark.operators.dedup_priority import (
        dedup_by_priority,
    )
    from formula1_data_pipeline_spark.sources.openf1 import (
        records_to_raw_df,
    )

    frames = []
    for p in polls:
        df = records_to_raw_df(
            spark, client.fetch(endpoint, session_key=session_key, poll=p),
            inject={"session_key": session_key, "poll": p},
        )
        if df is not None:
            frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return dedup_by_priority(
        out, keys=keys, order=[F.col("poll").cast("int").desc()]
    )
