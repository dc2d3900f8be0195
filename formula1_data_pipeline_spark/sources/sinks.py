"""Raw-layer sinks — the S4-S8 ingest surface, Spark-first.

The reference lands API JSON into all-VARCHAR Snowflake tables with
batched INSERTs, delete+reload upserts, and drop-recreate schema
recovery (``dags/open_f1_historical.py:111-152``,
``dags/open_f1_realtime.py:108-170``). The Spark-native equivalents:

- **append_raw** (S4+S5): all-string landing + ``mode("append")``
  parquet — Spark batches writes per partition; no 5000-row
  executemany loop needed.
- **replace_by_key** (S6): the delete+reload upsert as an atomic
  partition-scoped replace — only the partitions present in the
  incoming batch are replaced, the exact semantic of
  ``DELETE WHERE session_key = X`` + re-insert, minus the two-step
  race window.
- **merge_upsert** (S6 alt): key-based last-write-wins merge for
  non-partitioned layouts — read, union (schema drift tolerated via
  unionByName/allowMissingColumns, replacing the reference's
  drop-and-recreate S7 destructively losing data), priority-dedup,
  rewrite.
- **skip_loaded** (S8): left-anti join of candidate keys against
  already-landed keys.

Both mutating sinks commit through the **manifest commit protocol**
(``sources/txn.py``): immutable data dirs + an atomically-published
single-object manifest, transactional on object stores where a
directory-rename swap (atomic only on POSIX/HDFS) or a dynamic
partition overwrite (non-transactional on S3-class stores) is not.
Read the landed tables back with ``txn.read_table`` — it falls
through to a plain parquet read for the plain layouts ``append_raw``
lands.

At 100 TB: raw tables partition by the replace key (session_key here,
date/hour for event feeds), so a realtime refresh touches one
partition's files and incremental loads prune everything else; the
manifest carries untouched partitions forward by reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.functions.cleaning import stringify_all


def append_raw(df: DataFrame, path: str,
               partition_by: list[str] | None = None) -> None:
    """S4+S5: land as all-string parquet, append-only."""
    w = stringify_all(df).write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def replace_by_key(df: DataFrame, path: str, key: str,
                   stats_cols: list[str] | None = None) -> None:
    """S6: atomically replace exactly the ``key`` partitions present in
    ``df`` — the delete+reload upsert.

    Commits via txn.py: new partition dirs staged invisibly, untouched
    partitions carried forward by reference, one atomic manifest
    publish — transactional on object stores.

    ``stats_cols``: record per-segment min/max for these columns so
    ``txn.read_table(prune=...)`` can skip segments — e.g. land
    sessions with ``stats_cols=["date_start"]`` and season-window reads
    never list the other seasons' files. ``None`` inherits whatever
    the table already records."""
    from formula1_data_pipeline_spark.sources.txn import txn_replace

    txn_replace(df.sparkSession, stringify_all(df), path, key,
                stats_cols=stats_cols)


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    order: list[Column],
    order_cols: list[str] | None = None,
) -> None:
    """S6/S7: last-write-wins merge into a non-partitioned table. New
    columns from schema drift survive as NULLs on old rows (the
    non-destructive upgrade of the reference's drop-recreate).

    ``order_cols`` names plain columns the ``order`` expressions
    reference that a batch may not carry yet (e.g. a ``loaded_at``
    stamp that first appears mid-stream): they are null-filled so the
    priority sort resolves instead of failing analysis — drift in the
    order column gets the same NULL tolerance as any other drifted
    column.

    Commits through txn.txn_merge: the merge result is staged
    invisibly and published with one atomic put-if-absent manifest —
    transactional on object stores, and concurrent merges retry
    against the new snapshot instead of losing updates.

    Read-modify-write: fine for dimension-sized tables; big facts
    should use replace_by_key partitioning instead.
    """
    from formula1_data_pipeline_spark.operators.dedup_priority import (
        dedup_by_priority,
    )
    from formula1_data_pipeline_spark.sources.txn import txn_merge

    def _ensure_order_cols(frame: DataFrame) -> DataFrame:
        for name in order_cols or []:
            if name not in frame.columns:
                frame = frame.withColumn(name, F.lit(None).cast("string"))
        return frame

    incoming = _ensure_order_cols(stringify_all(df))

    def merge_fn(existing: DataFrame | None) -> DataFrame:
        # A genuinely missing table takes the fresh-write path — which
        # must also enforce key uniqueness, or the landed state would
        # depend on how the first batch was split. A transient/corrupt
        # read error surfaces instead of silently overwriting landed
        # data with the incoming batch alone.
        if existing is None:
            return dedup_by_priority(incoming, keys=keys, order=order)
        return dedup_by_priority(
            incoming.unionByName(_ensure_order_cols(existing),
                                 allowMissingColumns=True),
            keys=keys,
            order=order,
        )

    txn_merge(spark, path, merge_fn)


def skip_loaded(candidates: DataFrame, loaded: DataFrame,
                key: str = "session_key") -> DataFrame:
    """S8: drop candidate rows whose key already landed
    (``dags/open_f1_historical.py:226-231``). Broadcast left-anti —
    the loaded-keys side is a DISTINCT projection, always small."""
    return candidates.join(
        F.broadcast(loaded.select(key).distinct()), key, "left_anti"
    )
