"""Persisted mergeable HyperLogLog sketch table — incremental
distinct counting over a continuously-ingested corpus.

``quality.table_profile`` (q79) and the q53 sketch surface estimate
distinct cardinalities with ``approx_count_distinct`` — a per-query
rescan. At 100 TB the question is usually INCREMENTAL ("distinct
users/domains per source, updated per ingest batch, never rescanning
landed data"), and the standard answer is a landed table of MERGEABLE
sketches (Flajolet et al. 2007's HyperLogLog; the Apache DataSketches
HLL that Spark 3.5+ exposes as ``hll_sketch_agg`` / ``hll_union_agg``
/ ``hll_sketch_estimate``): per batch, fold the batch into one tiny
sketch row per group and append it; at query time, union the landed
sketch rows per group (register-wise max — associative, commutative,
idempotent) and read the estimate. Cost is GROUP-shaped at every
step: a batch append writes |batch groups| rows of <= ~2^lg_k bytes,
a query reads |groups| x |appends| sketch rows (bounded back to
|groups| by compaction), and landed data is never rescanned.

Two properties make HLL the right landed state:

* **Value-level idempotence**: inserting a value already represented
  is a register no-op, so a RE-DELIVERED batch cannot inflate any
  estimate — the ingestion-dedup problem the bm25/vecindex indexes
  solve with landed-id anti-joins simply does not exist here (a
  re-delivery adds a redundant sketch row — storage, reclaimed by
  compaction — never error). Property-tested.
* **Order-free mergeability**: coupon/register merge is a set
  union / register max — associative, commutative, idempotent — so
  the estimate from a given landed state is deterministic and
  independent of row order and partitioning (what lets a gate
  value-hash derived booleans). One measured caveat (test-pinned):
  the estimate is not invariant to HOW the data was batched —
  Spark's DataSketches one-shot estimator and the union-gadget
  estimator disagree by ~1 at coupon-mode cardinalities (25 values:
  one-shot 25, union-of-3 24 with exact = 24) — so gates bound
  estimates against EXACT counts, never against a differently
  batched sketch's estimate.

The table layout follows the incremental-index discipline
(``operators/retrieval.py``): one manifest-txn ``sketches`` table
(group cols + binary sketch + append attempt id) plus a ``commits``
marker table appended LAST, so readers see only whole batches;
compaction folds the delta rows to one per group via
``_overwrite_preserving_late`` (concurrent appends survive — the
round-10 ADVICE race fix, shared with the BM25 index).

Rollups come free: estimating over a SUBSET of the stored group
columns unions the finer sketches — distinct-per-(source) from
landed per-(source, lang) rows without touching the corpus. This is
the one thing the exact groupBy can never do incrementally (distinct
counts don't add), and the reason the sketch, not the count, is the
landed state.

Estimates carry the standard HLL relative error ~1.04/sqrt(2^lg_k)
(~1.6% at the default lg_k=12); gates bound them against DuckDB's
exact counts (the q53/q79 HLL++ discipline) rather than value-hash
the estimate itself.

Pre-staged round 11; lands via q53's r13 re-gate (q53 owns the
approx-sketch surface and is r9/r11-gated) as kind='hll_idx' rows
per the CHANGELOG landing plan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.retrieval import (
    _committed_attempts as _bm25_committed,
)
from formula1_data_pipeline_spark.operators.retrieval import (
    _overwrite_preserving_late,
)
from formula1_data_pipeline_spark.session import local_frame

_SKETCHES, _COMMITS = "sketches", "commits"

#: DataSketches default: 2^12 registers, ~1.6% standard error, <=
#: ~2.5 KiB per sketch row.
DEFAULT_LG_K = 12


def _tables(index_dir: str) -> dict[str, str]:
    return {n: f"{index_dir}/{n}" for n in (_SKETCHES, _COMMITS)}


def _committed(spark: SparkSession, index_dir: str) -> list[str]:
    """Committed attempt ids — same marker protocol as the BM25
    index (``retrieval._committed_attempts`` reads ``commits/``
    under any index dir; the table layouts share the convention)."""
    return _bm25_committed(spark, index_dir)


def hll_sketch_append(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    group_cols: list[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> int:
    """Fold a batch into the sketch table: ONE aggregate pass over
    the batch produces one sketch row per group present in it, and
    the rows land atomically (marker-last). Returns the number of
    group rows appended. NULL values are ignored by the sketch
    aggregate (SQL semantics: COUNT(DISTINCT) over non-NULLs);
    ``lg_k`` must match the table's existing sketches — Spark's
    union aggregate raises on mixed configs, so a mismatch fails
    loudly at query time rather than degrading silently."""
    from formula1_data_pipeline_spark.sources.txn import txn_append

    t = _tables(index_dir)
    attempt = uuid.uuid4().hex[:16]
    sk = (
        batch.groupBy(*group_cols)
        .agg(F.hll_sketch_agg(F.col(value_col), F.lit(lg_k))
             .alias("sketch"))
        .select(*group_cols, "sketch",
                F.lit(attempt).alias("attempt"))
    )
    sk = sk.persist()
    try:
        n_groups = sk.count()
        if n_groups == 0:
            return 0
        txn_append(spark, sk, t[_SKETCHES], stats_cols=group_cols)
        marker = local_frame(spark, [(attempt,)], "attempt string")
        txn_append(spark, marker, t[_COMMITS])
        return n_groups
    finally:
        sk.unpersist()


def _committed_sketches(spark: SparkSession,
                        index_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.txn import read_table

    t = _tables(index_dir)
    committed = _committed(spark, index_dir)
    return (
        read_table(spark, t[_SKETCHES])
        .filter(F.col("attempt").isin(committed or ["-"]))
        .drop("attempt")
    )


def hll_distinct_estimates(
    spark: SparkSession,
    index_dir: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct-count estimates from LANDED sketches only — group
    cols + ``n_distinct_est`` (long). ``group_cols`` may be any
    subset of the stored grouping (or ``[]`` / None-as-stored for
    the grand total): coarser groups union the finer sketches —
    the incremental rollup exact counts cannot do. Cost is
    sketch-table-shaped; the corpus is never read."""
    sk = _committed_sketches(spark, index_dir)
    keys = [c for c in sk.columns if c != "sketch"] \
        if group_cols is None else list(group_cols)
    merged = (
        sk.groupBy(*keys).agg(F.hll_union_agg("sketch").alias("u"))
        if keys else
        sk.agg(F.hll_union_agg("sketch").alias("u"))
    )
    return merged.select(
        *keys,
        F.hll_sketch_estimate("u").cast("long").alias("n_distinct_est"),
    )


def hll_sketch_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold the per-batch sketch rows to ONE row per group
    (register-wise union — estimates invariant, readers always union
    anyway; compaction only bounds row count between appends). Runs
    on the maintenance cadence. Marker-first + late-append-preserving
    overwrite: the exact crash/concurrency discipline of
    ``bm25_index_compact`` (a concurrent append's rows are re-appended
    from the superseded version, never dropped), including its
    compaction lease — register union is idempotent, so a concurrent
    double-fold here is merely redundant rows, but the three marts'
    compaction semantics stay identical."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        acquire_compaction_lease,
        release_compaction_lease,
    )
    from formula1_data_pipeline_spark.sources.txn import txn_append

    lease = acquire_compaction_lease(index_dir)
    if lease is None:
        return
    try:
        _hll_sketch_compact_locked(spark, index_dir, txn_append)
    finally:
        release_compaction_lease(lease)


def _hll_sketch_compact_locked(spark, index_dir, txn_append) -> None:
    from formula1_data_pipeline_spark.operators.retrieval import (
        recover_pending_late,
    )

    t = _tables(index_dir)
    # heal any prior compaction's crashed late-preservation BEFORE
    # snapshotting (see recover_pending_late — order is correctness)
    recover_pending_late(spark, t[_SKETCHES])
    committed = _committed(spark, index_dir)
    attempt = uuid.uuid4().hex[:16]
    txn_append(
        spark,
        local_frame(spark, [(attempt,)], "attempt string"),
        t[_COMMITS],
    )
    from formula1_data_pipeline_spark.sources.txn import read_table

    # fold the SNAPSHOT, not a re-read (the bm25/aggmart snapshot
    # discipline): an append committing after the marker would
    # otherwise be folded AND late-re-appended — merely redundant
    # rows here (register union is idempotent), but the snapshot
    # keeps the three marts' compaction semantics identical
    sk = (
        read_table(spark, t[_SKETCHES])
        .filter(F.col("attempt").isin(committed or ["-"]))
        .drop("attempt")
    )
    keys = [c for c in sk.columns if c != "sketch"]
    folded = (
        sk.groupBy(*keys)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select(*keys, "sketch", F.lit(attempt).alias("attempt"))
    )
    _overwrite_preserving_late(
        spark, folded, t[_SKETCHES],
        committed + [attempt], stats_cols=keys,
    )
