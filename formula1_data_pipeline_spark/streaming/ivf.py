"""Streaming maintenance of the persisted IVF vector index — the
embedding-ingestion leg of §2.10: a production embedding store is
appended to continuously (new documents embed as they land), and the
index must stay queryable and exactly-once through that ingestion.

Shape mirrors ``streaming/aggmart.py``: a file stream replayed one
file per micro-batch, ``foreachBatch`` folding each batch through
``ivf_index_append`` against the FROZEN quantizer. Exactly-once
needs NO bid machinery here — the append's landed-id skip (Bloom
sidecar + exact verification, round 12) makes any re-delivered
micro-batch a natural no-op, which is strictly stronger than bid
replay skip: it also dedups across OVERLAPPING batches, not just
re-fired ones.

Convergence contract (the q88/q31/q54 discipline): because appends
assign against frozen centroids and build+append == one-shot
(property-gated since r10), the streamed index's landed lists are
row-identical to one-shot indexing of the whole corpus under the
same quantizer — for ANY micro-batch split — and ``ivf_index_topk``
over the streamed state is row-identical to ``ivf_flat_topk``.

LANDING ROUTE: rides q88's r13 re-gate (streaming ingestion
surface; r11-gated, due r13) as kind='ivf_stream' rows — the topk
from the STREAMED index, replaying the q34 hash-sample-quantizer
oracle.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage


def stream_ivf_append(
    spark: SparkSession,
    embeddings_path: str,
    index_dir: str,
    n_source_files: int = 3,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    work_dir: str | None = None,
) -> None:
    """Replay ``embeddings_path`` as a file stream of
    ``n_source_files`` micro-batches, folding each into the EXISTING
    index at ``index_dir`` (built by ``ivf_index_build`` — streaming
    ingest never creates or retrains an index; that is an explicit
    offline step, the FAISS convention). Idempotent under replay and
    overlap via the landed-id skip.

    ``work_dir``: staging + checkpoint location — a deployment
    passes durable storage; ``None`` uses a process-lifetime scratch
    dir (gates/tests)."""
    from formula1_data_pipeline_spark.operators.vecindex import (
        _check_consistent,
        ivf_index_append,
    )

    _check_consistent(spark, index_dir)  # refuse a partial index
    emb = (spark.read.parquet(embeddings_path)
           .select(id_col, vec_col))
    base = pathlib.Path(work_dir if work_dir is not None
                        else scratch_dir(prefix="stream_ivf_"))
    stream = source(spark, emb.schema,
                    stage(emb, base, n_source_files, "stream_ivf_append"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # no bid bookkeeping: the landed-id skip IS the replay (and
        # overlap) dedup — see module docstring
        ivf_index_append(
            batch_df.sparkSession, batch_df, index_dir,
            n_assign=n_assign, id_col=id_col, vec_col=vec_col,
        )

    run(stream, "stream_ivf_append", land, base)
