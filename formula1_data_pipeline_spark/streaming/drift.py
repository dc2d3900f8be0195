"""Streaming drift monitor — per-micro-batch distribution drift
against a static reference.

The streaming composition of the drift family (`operators/quality.py
::drift_report`): data arrives as a file stream; every micro-batch
compares ITS OWN value distribution against a static reference
snapshot (yesterday's corpus, the training mix, a golden profile) and
appends per-column total-variation rows to a manifest-committed
monitor table — the ingest-time alarm wire for "this batch's language
mix / source mix / length profile shifted".

Per micro-batch: one exploded-pairs aggregation over the BATCH only
(the reference's counts are computed once up front and reused as a
static frame — the stream-static join discipline of
``streaming/enrich.py``), a cardinality-sized null-safe outer join,
and one manifest append. The reference is never rescanned.
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source


def drift_vs_reference_counts(
    batch: DataFrame,
    ref_counts: DataFrame,
    ref_total: int,
    cols: list[str],
) -> DataFrame:
    """`operators.quality.drift_report` against PRE-AGGREGATED
    reference counts — the streaming-side body, factored so batch and
    streaming paths share the exact math (and so the reference is
    aggregated once per monitor, not once per micro-batch).
    Returns the per-column summary (column, n_values, tv_distance)."""
    from formula1_data_pipeline_spark.operators.quality import (
        value_counts_long,
    )

    b = value_counts_long(batch, cols).withColumnRenamed("cnt", "cnt_new")
    a = ref_counts.withColumnRenamed("cnt", "cnt_old")
    n2 = batch.count()
    share_old = F.round(
        F.col("cnt_old").cast("double") / F.lit(max(ref_total, 1)), 6
    )
    share_new = F.round(
        F.col("cnt_new").cast("double") / F.lit(max(n2, 1)), 6
    )
    cond = (a["column"] == b["column"]) & a["value"].eqNullSafe(
        b["value"]
    )
    rep = (
        a.join(b, cond, "full_outer")
        .select(
            F.coalesce(a["column"], b["column"]).alias("column"),
            F.coalesce(a["cnt_old"], F.lit(0)).alias("cnt_old"),
            F.coalesce(b["cnt_new"], F.lit(0)).alias("cnt_new"),
        )
        .select(
            "column",
            F.round(F.abs(share_old - share_new), 6).alias("abs_delta"),
        )
    )
    return rep.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_values"),
        (
            F.sum(F.col("abs_delta").cast("decimal(18,6)"))
            .cast("double") / 2.0
        ).alias("tv_distance"),
    )


def stream_drift_monitor(
    spark: SparkSession,
    documents_path: str,
    reference: DataFrame,
    cols: list[str],
    n_source_files: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Replay the parquet table at ``documents_path`` as a file
    stream of ``n_source_files`` micro-batches (one file per batch,
    deterministic ``id_col % n`` slices written under ordered names —
    ``id_col`` must be a numeric id column of the table, round-9
    ADVICE: the slicer is column-generic like the rest of the API);
    per batch, append (batch_id, n_rows, column, n_values,
    tv_distance) to a manifest-committed monitor table and return it.

    The per-batch drift math is the exact batch operator's
    (:func:`drift_vs_reference_counts` is shared), so the streaming
    leg adds only plumbing — the convergence test compares each
    landed row against the batch path run on the same slice."""
    docs = spark.read.parquet(documents_path)
    base = pathlib.Path(scratch_dir(prefix="stream_drift_"))
    src_dir = base / "src"
    src_dir.mkdir()
    landing = str(base / "monitor")
    # one file per deterministic slice, each written by its own Spark
    # job (the rows stay on the executors) and renamed to an
    # ordered name. Slices are written one after another, so their
    # mtimes follow slice order: the file source triggers them in that
    # order and batch i carries slice i (test-observable; the math is
    # order-free)
    for i in range(n_source_files):
        tmp = base / f"slice-{i:04d}"
        (docs.filter(F.col(id_col) % n_source_files == i)
         .coalesce(1).write.parquet(str(tmp)))
        [part] = tmp.glob("part-*.parquet")
        part.rename(src_dir / f"{i:04d}.parquet")
        shutil.rmtree(tmp)

    from formula1_data_pipeline_spark.operators.quality import (
        value_counts_long,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    ref_counts = value_counts_long(reference, cols).persist()
    ref_total = reference.count()

    stream = source(spark, docs.schema, str(src_dir))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        summary = drift_vs_reference_counts(
            batch_df, ref_counts, ref_total, cols
        )
        txn_append(
            batch_df.sparkSession,
            summary.select(
                F.lit(batch_id).alias("batch_id"),
                F.lit(batch_df.count()).alias("n_rows"),
                "column", "n_values", "tv_distance",
            ),
            landing,
        )

    try:
        run(stream, "stream_drift_monitor", land, base)
    finally:
        ref_counts.unpersist()
    return read_table(spark, landing)
