"""Custom stateful streaming operator — ``applyInPandasWithState``.

The reference has no stateful operators (§2.10: its "realtime" leg is
a daily delete+reload poll), but a 100 TB streaming deployment of this
pipeline needs keyed state the built-in windows can't express — e.g.
emit each (driver, event_type)'s FIRST occurrence exactly once across
micro-batches (streaming dedup with unbounded lookback, the streaming
twin of the W1/W2 priority dedups).

``stateful_first_seen`` implements that: per-key state holds the set
of already-emitted subkeys (as a hashed long array — bounded by subkey
cardinality, not stream length); each micro-batch sorts its rows
deterministically, emits unseen subkeys, and folds them into state.
Arrow-batched both ways; state lives in the state store (RocksDB at
scale), so executors stay constant-memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructType,
)

from formula1_data_pipeline_spark.streaming.scaffold import file_stream, run

STATE_SCHEMA = StructType().add("seen", ArrayType(LongType()))


def _h64(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big",
                          signed=False) >> 1


def stateful_first_seen(
    events: DataFrame,
    key_col: str = "user_id",
    subkey_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """First occurrence of each (key, subkey) across the stream.

    Works on a streaming OR batch DataFrame grouped by ``key_col``;
    output schema = input schema. Deterministic: rows sort by
    ``order_cols`` inside each batch before the first-seen scan.
    """
    out_schema = events.schema

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (seen,) = state.get if state.exists else ([],)
        seen_set = set(seen)
        # Concatenate the group's Arrow chunks BEFORE sorting: a group
        # larger than arrow.maxRecordsPerBatch arrives as several
        # chunks, and chunk-local sorts would make first-seen depend on
        # chunk boundaries. One micro-batch's group fits executor
        # memory by the same argument as any applyInPandas group.
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        emit_mask = []
        for sk in pdf[subkey_col]:
            h = _h64(str(sk))
            if h in seen_set:
                emit_mask.append(False)
            else:
                seen_set.add(h)
                emit_mask.append(True)
        out = pdf[pd.Series(emit_mask, index=pdf.index)]
        if len(out):
            yield out
        state.update((sorted(seen_set),))

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stateful_dedup(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """Run ``stateful_first_seen`` over the events table as a real
    Structured Streaming query (file source -> applyInPandasWithState
    -> AvailableNow -> memory sink) and return the emitted rows.

    Over a bounded backlog replayed in one AvailableNow pass this emits
    exactly the min-(ts, event_id) row per (user_id, event_type) —
    which is what the DuckDB oracle replays with row_number() = 1. On
    a live unbounded stream the same operator keeps emitting only
    never-before-seen subkeys, state bounded by subkey cardinality.
    """
    deduped = stateful_first_seen(file_stream(spark, events_path))
    # state-store instances scale with shuffle partitions: run sizes
    # them to the bounded replay, not the session default (confs.py)
    return run(deduped, "stream_stateful_dedup")
