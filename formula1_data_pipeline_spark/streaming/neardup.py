"""Streaming near-duplicate dedup — LSH index + merge-upsert verdicts.

The streaming composition of §2.10 and §2.12: documents arrive as a
file stream; each micro-batch signatures ONLY its own docs, appends
(id, band array, token set) to a manifest-committed seen-index, finds
LSH candidates in one band self-join of the index restricted to pairs
touching this batch, verifies exact jaccard on candidates only, and
merge-upserts per-doc verdicts where **dropped wins**.

Order-stable by construction: a verdict is "dropped iff a verified
near-dup with a SMALLER id exists anywhere in the corpus". The
smaller-id doc may arrive after the bigger one (file splits are not
id-ordered); when it does, the pair is discovered in ITS batch and
the merge-upsert retroactively flips the bigger doc to dropped — so
the converged landed state is independent of how the source was split
into micro-batches, the same convergence contract as
``stream_merge_upsert``'s intrinsic latest-wins priority. Every
near-dup pair is discovered exactly in the batch of its later-ARRIVING
member, because by then both members are in the seen-index.

Scale shape per micro-batch: signature/token aggregates over the batch
only (the corpus is never rescanned), one band-key self-join whose
shuffles carry (band, id) pairs, jaccard on candidates only, and two
manifest commits (index append + verdict merge). No broadcast hints on
the growing index side — join strategy stays the planner's size-based
call (the q83 lesson).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage


def stream_neardup_dedup(
    spark: SparkSession,
    documents_path: str,
    threshold: float = 0.8,
    n_source_files: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Replay ``documents`` as a file stream of ``n_source_files``
    micro-batches; return the landed verdict table (doc_id, kept).

    ``work_dir``: where the staging, seen-index, verdict table, and
    checkpoint live — a deployment passes durable storage here, and a
    re-call on it resumes from the checkpoint; ``None`` uses a
    process-lifetime scratch dir (gates/tests)."""
    from formula1_data_pipeline_spark.operators.dedup import (
        _sig_agg,
        hashed_token_sets_df,
        minhash_bands,
        seen_index_neardup_dropped,
    )
    from formula1_data_pipeline_spark.sources.sinks import merge_upsert
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    docs = spark.read.parquet(documents_path).select("doc_id", "text")
    base = pathlib.Path(work_dir if work_dir is not None
                        else scratch_dir(prefix="stream_neardup_"))
    idx_path = str(base / "seen_index")
    landing = str(base / "verdicts")
    stream = source(spark, docs.schema,
                    stage(docs, base, n_source_files, "stream_neardup_dedup"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        sig = _sig_agg(batch_df, "text", "doc_id", 16)
        toks_b = hashed_token_sets_df(batch_df, "text", "doc_id")
        txn_append(
            bspark,
            sig.select(
                "id", minhash_bands(F.col("sig")).alias("bands")
            ).join(toks_b, "id").withColumn("bid", F.lit(batch_id)),
            idx_path,  # default compact_threshold: unbounded
            # streams append one index segment per micro-batch;
            # auto-compaction bounds live dirs (round-6 verdict #6)
        )
        seen = read_table(bspark, idx_path)
        # shared incremental pass (operators.dedup, also the q87
        # batch body): hash splits are not id-ordered, so a pair's
        # later-arriving member can sit on either side —
        # symmetric=True runs two one-sided (index x batch) joins,
        # each with the batch predicate pruned BELOW the band join (a
        # both-sides OR filter would force a full index x index join
        # per micro-batch, O(index²) per hot band)
        dropped = (
            seen_index_neardup_dropped(
                seen, F.col("bid") == F.lit(batch_id),
                threshold=threshold, symmetric=True,
            )
            .select(F.col("id").alias("doc_id"),
                    F.lit(False).alias("kept"))
        )
        arrivals = batch_df.select("doc_id", F.lit(True).alias("kept"))
        # dropped outranks kept: landing is all-string (S4), and
        # "false" < "true" ascending, so a retro-discovered near-dup
        # flips an earlier kept verdict and never the reverse
        merge_upsert(
            bspark, arrivals.unionByName(dropped), landing,
            keys=["doc_id"], order=[F.col("kept").asc()],
        )

    run(stream, "stream_neardup_dedup", land, base)
    return read_table(spark, landing)
