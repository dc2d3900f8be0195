"""Streaming upsert leg — micro-batches landed through the real sink.

This is the reference's realtime DAG shape end-to-end (poll → upsert
latest state, ``dags/open_f1_realtime.py:221-246``) expressed as
Structured Streaming: ``readStream`` over a file source, and each
micro-batch landed through ``sources.sinks.merge_upsert`` inside
``foreachBatch`` — the idiomatic Spark bridge from a stream to a
batch-only sink (parquet-merge here; Delta/Iceberg MERGE in
production).

Correctness across batches: the merge priority is *intrinsic* to the
rows (event time desc, event id desc), not batch arrival order, so the
landed table converges to the same state — latest event per
(user_id, event_type) — no matter how the source is split into
micro-batches or in what order they commit. That is exactly the
idempotent-upsert property the reference's delete+reload gets by
brute force.

Scale notes (100 TB stream): foreachBatch gives the stream
transactional batch semantics per micro-batch; merge_upsert's manifest
commit protocol (``sources/txn.py`` — immutable data dirs + atomic
put-if-absent manifest) keeps readers consistent between batches,
including on object stores where directory rename is not atomic. State
is the landed table itself (no executor state store), so stream memory
is O(micro-batch), not O(stream). The merge cost grows with the landed
table — in production the landing table is partitioned by key range so
each micro-batch merge touches only the partitions it hits (or a
transactional format's MERGE does the same via file-level pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage


def stream_merge_upsert(
    spark: SparkSession,
    events_path: str,
    n_source_files: int = 4,
) -> DataFrame:
    """Replay ``events`` as a file stream of ``n_source_files``
    micro-batches (one file per batch), landing each through
    ``merge_upsert`` keyed by (user_id, event_type) with
    latest-event-wins priority; return the landed table.
    """
    from formula1_data_pipeline_spark.functions.timestamps import (
        normalize_event_ts,
        read_parquet_maybe_nanos,
    )
    from formula1_data_pipeline_spark.sources.sinks import merge_upsert
    from formula1_data_pipeline_spark.sources.txn import read_table

    # read_parquet_maybe_nanos: loud one-time conf fallback only if
    # the footer is TIMESTAMP(NANOS), matching queries.load
    ev = normalize_event_ts(read_parquet_maybe_nanos(spark, events_path))
    ev = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())

    base = scratch_dir(prefix="stream_upsert_")
    landing = f"{base}/latest_events"
    # several files so AvailableNow genuinely exercises multi-batch
    # merging; the stream reads back what was just written, so its
    # schema IS ev's (already ts-normalized) — no footer probe job
    stream = source(spark, ev.schema,
                    stage(ev, base, n_source_files, "stream_merge_upsert"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # priority is intrinsic (ts, event_id), so replaying or
        # reordering micro-batches converges to the same landed state.
        # The landed table is all-string (S4 landing semantics); cast
        # the order keys back for correct comparison.
        merge_upsert(
            batch_df.sparkSession, batch_df, landing,
            keys=["user_id", "event_type"],
            order=[
                F.col("ts").cast("timestamp").desc(),
                F.col("event_id").cast("long").desc(),
            ],
        )

    run(stream, "stream_merge_upsert", land, base)
    return read_table(spark, landing)
