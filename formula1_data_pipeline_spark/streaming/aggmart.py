"""Streaming aggregate-mart maintenance — the profile statistics of
``operators/aggmart.py`` kept current by a Structured Streaming
foreachBatch sink.

The streaming composition of the incremental aggregate mart:
documents arrive as a file stream; each micro-batch folds ITS OWN
partial-aggregate rows (group -> n, sum, min, max, sumsq) and
txn-appends them as one delta segment via ``agg_mart_append`` —
whose batch-id exactly-once contract maps ONE-TO-ONE onto
Structured Streaming's batch-id replay guarantee: the foreachBatch
``batch_id`` IS the mart's ``batch_id``, so a re-delivered
micro-batch is skipped by the mart's own O(1) marker existence
probe with no extra machinery in this module. Because every carried
aggregate is DISTRIBUTIVE (sums add, mins min, maxes max), the
folded statistics are bit-for-bit the one-shot ``groupBy`` over the
whole corpus, independent of how the source was split into
micro-batches — the ``stream_cms_counters`` convergence contract,
here over the general algebraic-aggregate surface.

Re-delivery safety scope (shared with every staged leg): the
checkpoint location is STABLE (``work_dir/ckpt``) and the source
staging is written ONCE under ``scaffold.stage``'s order-free
content-fingerprint guard — a re-call against the same
``work_dir`` with a CHANGED corpus raises loudly rather than
silently replaying old staging under recycled batch ids.
Continuous ingestion is the explicit delta-log surface
(``agg_mart_append`` per arriving batch with caller-owned batch
ids); this entry point replays a FIXED snapshot.

Scale shape per micro-batch: one partial-agg pass over the batch
only (landed data never re-read), one |batch groups|-row commit.
Pre-staged round 11 (third session); LANDING ROUTE: rides whichever
of q31/q54's r12 streaming re-gates the streaming histogram does
not take, as kind='aggmart' rows (exact values under the full hash
— same oracle as the batch mart, by the convergence contract).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage


def stream_agg_mart(
    spark: SparkSession,
    documents_path: str,
    group_cols: list[str],
    value_col: str,
    n_source_files: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Replay ``documents`` as a file stream of ``n_source_files``
    micro-batches, maintaining the aggregate mart; return
    ``agg_mart_stats`` at the stored grain — exactly equal to the
    one-shot groupBy over the full corpus, for ANY split.

    ``work_dir``: where the mart and checkpoint live — a deployment
    passes durable storage; ``None`` uses a process-lifetime scratch
    dir (gates/tests)."""
    from formula1_data_pipeline_spark.operators.aggmart import (
        agg_mart_append,
        agg_mart_stats,
    )

    docs = (spark.read.parquet(documents_path)
            .select(*group_cols, value_col))
    base = pathlib.Path(work_dir if work_dir is not None
                        else scratch_dir(prefix="stream_aggmart_"))
    mart_dir = str(base / "mart")
    stream = source(spark, docs.schema,
                    stage(docs, base, n_source_files, "stream_agg_mart"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # the mart's batch-id contract IS the replay skip: a
        # re-delivered bid hits the marker existence probe inside
        # agg_mart_append and no-ops
        agg_mart_append(
            batch_df.sparkSession, batch_df, mart_dir,
            group_cols, value_col, f"bid-{batch_id}",
        )

    run(stream, "stream_agg_mart", land, base)
    return agg_mart_stats(spark, mart_dir, group_cols)
