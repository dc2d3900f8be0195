"""Streaming BM25-index maintenance — the incremental full-text index
of ``operators/retrieval.py`` kept current by a Structured Streaming
foreachBatch sink.

The streaming composition of the persisted BM25 index: documents
arrive as a file stream; each micro-batch folds ITS OWN postings /
doclen / df-delta / stats-delta rows via ``bm25_index_append``. The
append's replay guard is the landed-DOC anti-join (the S8
incremental-skip): a re-delivered micro-batch re-presents doc ids
that are already landed and indexes ZERO new docs — so Structured
Streaming's at-least-once replay needs no extra machinery here, and
unlike the batch-id-keyed marts this index also tolerates PARTIAL
overlap between micro-batches (each doc indexes exactly once
whichever batch carries it first). Because df/stats are additive
deltas and tf/dl are per-doc rows, the landed state is
query-equivalent to the one-shot build for ANY split of the corpus —
``bm25_index_topk`` returns row-identical rankings (the q39
``bm25_idx`` contract composed with the stream).

Re-delivery safety scope (shared with every staged leg): the
checkpoint location is STABLE (``work_dir/ckpt``) and the source
staging is written ONCE under ``scaffold.stage``'s order-free
content-fingerprint guard — a re-call against the same ``work_dir``
with a CHANGED corpus raises loudly rather than silently replaying
old staging under recycled batch ids. Continuous ingestion is the
explicit delta-log surface (``bm25_index_append`` per arriving
batch); this entry point replays a FIXED snapshot.

Scale shape per micro-batch: one tokenize+aggregate pass over the
batch only (landed data is read as COLUMN-PRUNED doc ids for the
skip, never postings), four delta appends + one marker. The final
compaction folds the df/stats logs under the nonce+heartbeat lease.

Landed in q39 as kind='bm25_stream' rows — row-identical to the
live-scan and batch-index kinds, so the shared oracle CTE replays
all three.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage


def stream_bm25_index(
    spark: SparkSession,
    documents_path: str,
    n_source_files: int = 3,
    work_dir: str | None = None,
    compact: bool = True,
) -> str:
    """Replay ``documents`` as a file stream of ``n_source_files``
    micro-batches, maintaining the BM25 index; returns the index dir
    (query it with ``bm25_index_topk``). The landed index is
    query-equivalent to a one-shot build over the full corpus for
    ANY split — re-delivered or overlapping micro-batches index each
    doc exactly once via the landed-id anti-join.

    ``work_dir``: where the index and checkpoint live — a deployment
    passes durable storage; ``None`` uses a process-lifetime scratch
    dir (gates/tests)."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
    )

    docs = (spark.read.parquet(documents_path)
            .select("doc_id", "text"))
    base = pathlib.Path(work_dir if work_dir is not None
                        else scratch_dir(prefix="stream_bm25_"))
    index_dir = str(base / "idx")
    stream = source(spark, docs.schema,
                    stage(docs, base, n_source_files, "stream_bm25_index"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # replay skip is the index's own landed-doc anti-join: a
        # re-delivered batch's ids are all landed and index 0 docs
        bm25_index_append(batch_df.sparkSession, batch_df, index_dir)

    run(stream, "stream_bm25_index", land, base)
    if compact:
        # maintenance fold of the df/stats delta logs — results
        # invariant (readers sum deltas); lease-serialized
        bm25_index_compact(spark, index_dir)
    return index_dir
