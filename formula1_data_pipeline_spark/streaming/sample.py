"""Streaming priority sampling — a fixed-size weighted sample
maintained over a document stream, converging EXACTLY to the batch
``sampling.priority_sample`` over the union of everything streamed.

Why this composes exactly (the property the batch operator's
docstring proves and property-tests): priority sampling selects the
k smallest race keys ``(h+1)/w``, and bottom-k selection MERGES —
the bottom-(k+1) of a union is the bottom-(k+1) of the parts'
bottom-(k+1)s. So the landed state is just the current global
bottom-(k+1) racer rows (k+1, not k: the (k+1)-th racer IS tau, the
Horvitz-Thompson threshold), each micro-batch folds its own
bottom-(k+1) into it, and the final sample + tau + ht_weights are
bit-for-bit the one-shot operator's for ANY split of the corpus —
race keys are md5-derived (no RNG), so the state is a pure function
of the document SET.

Replay safety: the fold is VALUE-LEVEL IDEMPOTENT (min-selection of
already-present rows changes nothing — the HLL discipline), so a
re-delivered micro-batch needs no batch-id machinery; the stable
checkpoint + ``scaffold.stage``'s content-fingerprint guard (shared
with the other streaming maintainers) close the recycled-bid hazard
anyway.

Scale shape per micro-batch: one ``TakeOrderedAndProject`` over the
batch (per-partition heap, no shuffle), then a (2k+2)-row union +
re-select + txn overwrite of a (k+1)-row state table — the landed
corpus is NEVER re-read, and state is O(k) at any corpus size. This
is the streaming/mergeable weighted-reservoir story the batch
docstring promises, as an operator.

Landed in q80 as kind='priority_stream' rows — the SAME oracle as
the kind='priority' leg, by exact convergence.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.sampling import md5_hash60
from formula1_data_pipeline_spark.scratch import scratch_dir
from formula1_data_pipeline_spark.streaming.scaffold import run, source, stage

_STATE = "racers"


def _batch_racers(batch: DataFrame, weight_col: str, k: int,
                  id_col: str, salt: str) -> DataFrame:
    """The batch's bottom-(k+1) racer rows (id, w, u, r) — the exact
    expressions of ``sampling.priority_sample`` (negative weights
    raise, NULL/zero weights sit out)."""
    w_raw = F.col(weight_col).cast("double")
    w_guard = F.when(
        w_raw < 0,
        F.raise_error(F.concat(
            F.lit("stream_priority_sample: negative weight "),
            w_raw.cast("string"),
        )),
    ).otherwise(F.coalesce(w_raw, F.lit(0.0)))
    u_int = md5_hash60(F.col(id_col), salt) + F.lit(1)
    return (
        batch.select(
            F.col(id_col).alias("id"),
            w_guard.alias("w"),
            u_int.alias("u"),
        )
        .filter(F.col("w") > 0)
        .withColumn("r", F.col("u").cast("double") / F.col("w"))
        .orderBy(F.col("r").asc(), F.col("id").asc())
        .limit(k + 1)
    )


def _fold_batch(batch_df: DataFrame, state_tbl: str, weight_col: str,
                k: int, id_col: str, salt: str) -> None:
    """Fold one micro-batch's bottom-(k+1) racers into the landed
    state — the foreachBatch body, module-level so re-delivery is
    directly testable."""
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
        txn_overwrite,
    )

    sp = batch_df.sparkSession
    cand = _batch_racers(batch_df, weight_col, k, id_col, salt)
    if is_txn_table(sp, state_tbl):
        cand = read_table(sp, state_tbl).unionByName(cand)
    merged = (
        # a re-delivered micro-batch puts rows already in the state
        # into the union twice; without the id-dedup both copies
        # could land in limit(k+1) and evict a genuine distinct
        # racer (round-13 ADVICE, the high item) — r is a pure
        # function of (id, w), so duplicates are row-identical and
        # any-wins is exact
        cand.dropDuplicates(["id"])
        .orderBy(F.col("r").asc(), F.col("id").asc())
        .limit(k + 1)
    )
    # value-level idempotent: re-folding already-present rows
    # re-selects the identical bottom-(k+1), so a re-delivered
    # micro-batch overwrites the state with itself
    txn_overwrite(sp, merged, state_tbl)


def stream_priority_sample(
    spark: SparkSession,
    documents_path: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "priosample-v1",
    n_source_files: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Replay ``documents`` as a file stream of ``n_source_files``
    micro-batches, maintaining the bottom-(k+1) racer state; returns
    (``id_col``, w, prio_rank, tau, ht_weight) — bit-for-bit the
    batch ``priority_sample`` over the full corpus, for ANY split.

    ``work_dir``: where the state and checkpoint live — a deployment
    passes durable storage; ``None`` uses a process-lifetime scratch
    dir (gates/tests)."""
    from formula1_data_pipeline_spark.sources.txn import read_table

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    docs = (spark.read.parquet(documents_path)
            .select(id_col, weight_col))
    base = pathlib.Path(work_dir if work_dir is not None
                        else scratch_dir(prefix="stream_priosample_"))
    state_tbl = str(base / _STATE)
    stream = source(spark, docs.schema, stage(
        docs, base, n_source_files, "stream_priority_sample"))

    def land(batch_df: DataFrame, batch_id: int) -> None:
        _fold_batch(batch_df, state_tbl, weight_col, k, id_col, salt)

    run(stream, "stream_priority_sample", land, base)
    state = read_table(spark, state_tbl)
    w_rank = Window.orderBy(F.col("r").asc(), F.col("id").asc())
    ranked = state.withColumn("prio_rank",
                              F.row_number().over(w_rank))
    tau_expr = (
        F.col("w") * F.lit(float(1 << 60))
        / F.col("u").cast("double")
    )
    tau_1row = (
        ranked.filter(F.col("prio_rank") == k + 1)
        .agg(F.max(tau_expr).alias("_tau_raw"))
    )
    return (
        ranked.filter(F.col("prio_rank") <= k)
        .crossJoin(F.broadcast(tau_1row))
        .withColumn("tau", F.coalesce(F.col("_tau_raw"), F.lit(0.0)))
        .withColumn("ht_weight", F.greatest(F.col("w"), F.col("tau")))
        .select(F.col("id").alias(id_col), "w", "prio_rank", "tau",
                "ht_weight")
    )
