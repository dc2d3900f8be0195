"""Persisted incremental aggregate mart — algebraic rollups over a
continuously-ingested corpus, landed data never rescanned.

``quality.table_profile`` (q79) answers "count / mean / stddev /
min / max per group" with a full-corpus groupBy per question. At
100 TB the production question is INCREMENTAL: per-ingest-batch
maintenance of those statistics without touching landed data. The
standard answer (the materialized-rollup half of the lambda
architecture; Gray et al.'s algebraic-aggregate decomposition from
the original CUBE paper) is a landed table of MERGEABLE PARTIAL
AGGREGATES: per batch, ONE aggregate pass folds the batch to a
(group -> n, sum, min, max, sumsq) row, appended atomically; at
query time the landed partials fold per group (sums add, mins min,
maxes max) and the derived statistics (mean, variance, stddev) come
from the folded moments. Every step is GROUP-shaped: an append
writes |batch groups| rows, a query reads |groups| x |segments|
partial rows (bounded back to |groups| by compaction), and landed
corpus data is never re-read.

This is the exact-aggregate sibling of the HLL sketch table
(``operators/hll.py``): the HLL table lands the one aggregate that
does NOT decompose (distinct counts); this mart lands the ones that
do. Shared disciplines, one deliberate difference:

* **Marker-last atomicity** (``retrieval.py`` / ``hll.py``): partial
  rows land under an attempt id, a ``commits`` marker row lands
  LAST, readers filter to committed attempts — a crashed append is
  invisible.
* **Late-append-preserving compaction**
  (``retrieval._overwrite_preserving_late``): folding the segments
  to one row per group cannot drop a concurrent append (round-10
  ADVICE race fix, shared code path).
* **Re-delivery is HARMFUL here** — sums add, so the HLL table's
  by-construction idempotence does not hold. Idempotence is keyed on
  the CALLER'S ``batch_id``: the marker row records it, and an
  append whose batch_id already has a commit marker is a no-op via
  an O(1) existence probe (filter + limit(1), the streaming
  bid-skip discipline — never a collect of the marker history; the
  vecindex/bm25 landed-id anti-joins are unnecessary because the
  unit of idempotence is the batch, not the row). The SEGMENT
  attempt id is batch_id + a fresh uuid (the bm25 discipline), so a
  crash between the data append and the marker append leaves rows
  that stay uncommitted forever — a retry under the bare batch_id
  would otherwise retroactively bless them and double-count.

Rollups over any SUBSET of the stored group columns come free at
query time — n/sum/sumsq re-add and min/max re-fold across the
dropped columns — so one landed (source, lang) mart answers
per-source, per-lang, and grand-total profiles without a rescan.

Overflow discipline: ``sum`` and ``sumsq`` are carried as
DECIMAL(38,0) from the first partial on (the zorder round-11
lesson — BIGINT intermediates wrap silently in non-ANSI mode; a
100 TB corpus of ~1e5-valued rows overflows BIGINT sumsq at ~1e8
rows). Derived float statistics are computed from the exact folded
moments with a FIXED expression shape (documented per function) so
a DuckDB oracle replaying the same shape is bit-identical.

Pre-staged round 11 (third session); LANDING ROUTE: rides q79's r12
re-gate (q79 owns the profiling surface, r10-gated, due r12) as
kind='aggmart' rows beside the live table_profile legs — exact
values under the full hash. Draft: tests/test_r14_gate_drafts.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.retrieval import (
    _committed_attempts,
    _overwrite_preserving_late,
)
from formula1_data_pipeline_spark.session import local_frame

_PARTIALS, _COMMITS = "partials", "commits"

#: moment columns carried per landed partial row, in schema order.
_MOMENTS = ["n", "s", "mn", "mx", "ssq"]


def _tables(mart_dir: str) -> dict[str, str]:
    return {t: f"{mart_dir}/{t}" for t in (_PARTIALS, _COMMITS)}


def _partial_aggs(value: F.Column) -> list[F.Column]:
    """The decomposed-aggregate set for one batch/fold pass. DECIMAL
    (38,0) sums from the first partial on (see module docstring)."""
    dec = value.cast("decimal(38,0)")
    return [
        F.count(value).alias("n"),
        F.sum(dec).alias("s"),
        F.min(value).alias("mn"),
        F.max(value).alias("mx"),
        F.sum(dec * dec).alias("ssq"),
    ]


def agg_mart_append(
    spark: SparkSession,
    batch: DataFrame,
    mart_dir: str,
    group_cols: list[str],
    value_col: str,
    batch_id: str,
) -> int:
    """Fold ``batch`` into the mart: ONE aggregate pass produces a
    partial row per group present in the batch; rows land atomically
    (marker-last). Returns group rows appended — 0 when ``batch_id``
    is already committed (exactly-once re-delivery no-op) or the
    batch has no non-NULL values. ``value_col`` must be integral
    (long-castable); NULLs are ignored (SQL aggregate semantics).

    The segment attempt id is ``batch_id`` + a fresh uuid — NOT the
    bare batch_id. With the bare id, a crash between the data append
    and the marker append would leave orphan partial rows that the
    re-delivery's marker then retroactively blesses, double-counting
    the batch (the bm25 fresh-uuid discipline; session review
    finding). With the uuid suffix the crashed try's rows stay
    forever uncommitted (invisible to readers, reclaimed at the next
    compaction) and the retry commits exactly one segment."""
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
        txn_append,
    )

    t = _tables(mart_dir)
    # exactly-once per batch: O(1) existence probe for THIS batch_id
    # (filter + limit(1), the streaming bid-skip discipline) — never
    # a collect of the whole marker history.
    if is_txn_table(spark, t[_COMMITS]):
        commits = read_table(spark, t[_COMMITS])
        if "batch_id" not in commits.columns:
            raise ValueError(
                "agg_mart_append: commits table has no batch_id "
                "column — a mart written by the pre-release bare-"
                "batch_id format; rebuild it (mixing formats would "
                "break re-delivery idempotence)")
        if commits.filter(
                F.col("batch_id") == batch_id).limit(1).count():
            return 0
    attempt = f"{batch_id}~{uuid.uuid4().hex[:12]}"
    v = F.col(value_col).cast("long")
    part = (
        batch.filter(v.isNotNull())
        .groupBy(*group_cols)
        .agg(*_partial_aggs(v))
        .select(*group_cols, *_MOMENTS,
                F.lit(attempt).alias("attempt"))
    )
    part = part.persist()
    try:
        n_groups = part.count()
        if n_groups == 0:
            return 0
        txn_append(spark, part, t[_PARTIALS], stats_cols=group_cols)
        marker = local_frame(
            spark, [(attempt, batch_id)], "attempt string, batch_id string")
        txn_append(spark, marker, t[_COMMITS])
        return n_groups
    finally:
        part.unpersist()


def _committed_partials(spark: SparkSession, mart_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.txn import read_table

    t = _tables(mart_dir)
    committed = _committed_attempts(spark, mart_dir)
    return (
        read_table(spark, t[_PARTIALS])
        .filter(F.col("attempt").isin(committed or ["-"]))
        .drop("attempt")
    )


def _fold(keys: list[str], partials: DataFrame) -> DataFrame:
    folded = [
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ssq").alias("ssq"),
    ]
    return (partials.groupBy(*keys).agg(*folded) if keys
            else partials.agg(*folded))


def agg_mart_stats(
    spark: SparkSession,
    mart_dir: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Profile statistics from LANDED partials only — group cols +
    ``n_rows / sum_value / min_value / max_value / mean_value /
    var_pop / stddev_pop``. ``group_cols`` may be any subset of the
    stored grouping (``[]`` for the grand total; None = as stored):
    coarser groups re-fold the finer partials — the incremental
    rollup. Cost is mart-shaped; the corpus is never read.

    Derived-float expression shape (the oracle contract, replayed
    verbatim by the gate SQL): exact DECIMAL/LONG moments are each
    cast to DOUBLE (correctly rounded in both engines), then
    ``mean = s/n``, ``var_pop = greatest(ssq/n - (s/n)*(s/n), 0.0)``,
    ``stddev_pop = sqrt(var_pop)`` — every step one IEEE
    correctly-rounded op on identically-constructed operands.

    Moment-method precision: the two-moment variance cancels
    catastrophically once ``v^2`` exceeds 2^53 (|v| >~ 9.5e7) — a
    constant high-magnitude column can yield a NEGATIVE raw
    difference (session review repro: three rows of 6.9e14 gave
    -7e13), so the ``greatest(..., 0.0)`` clamp keeps var_pop in
    range and sqrt defined in both engines. Within |v| < 9.5e7 the
    moments are exact in double and the clamp is a no-op; beyond it
    variance precision degrades as with any moment-decomposed
    accumulator (mean/min/max/sum stay exact — they come from the
    DECIMAL/LONG moments directly)."""
    partials = _committed_partials(spark, mart_dir)
    keys = ([c for c in partials.columns if c not in _MOMENTS]
            if group_cols is None else list(group_cols))
    m = _fold(keys, partials)
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    ssq_d = F.col("ssq").cast("double")
    mean = s_d / n_d
    var_pop = F.greatest(ssq_d / n_d - mean * mean, F.lit(0.0))
    return m.select(
        *keys,
        F.col("n").alias("n_rows"),
        F.col("s").cast("decimal(38,0)").alias("sum_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
        mean.alias("mean_value"),
        var_pop.alias("var_pop"),
        F.sqrt(var_pop).alias("stddev_pop"),
    )


def agg_mart_compact(spark: SparkSession, mart_dir: str) -> None:
    """Fold the per-batch partial rows to ONE row per stored group
    (re-aggregation is the same decomposition — queries are
    invariant; compaction only bounds row count between appends).
    Marker-first + late-append-preserving overwrite: the exact
    crash/concurrency discipline of ``bm25_index_compact`` — a
    concurrent append's rows are re-appended from the superseded
    version, never dropped.

    The fold filters on the SAME committed-attempt snapshot it later
    passes to ``_overwrite_preserving_late`` as ``known_attempts``
    (the bm25 discipline) — re-reading the committed set after the
    marker append would admit an append that committed in between
    into the fold while the late-preservation path ALSO re-appends
    its rows as unknown, double-counting it (sums are not
    idempotent, so the hll shape this module started from is not
    safe here; session review finding). The late-preservation diff
    in ``_overwrite_preserving_late`` is unconditional, so an append
    landing ANYWHERE between the snapshot and the overwrite's
    publish is re-appended exactly once (deterministic interleaving
    test).

    CONCURRENT COMPACTIONS are serialized by a lease (round-12
    ADVICE): without it, two compacts snapshotting the same committed
    set each publish a fold, and the later publisher's unconditional
    late-preservation re-appends the earlier's fold — two committed
    folds of the same data, which readers SUM (register-union marts
    survive that; these sums silently double). A contended call
    returns without compacting — compaction is optional
    maintenance."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        acquire_compaction_lease,
        release_compaction_lease,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    lease = acquire_compaction_lease(mart_dir)
    if lease is None:
        return
    try:
        _agg_mart_compact_locked(spark, mart_dir, read_table,
                                 txn_append)
    finally:
        release_compaction_lease(lease)


def _agg_mart_compact_locked(spark, mart_dir, read_table,
                             txn_append) -> None:
    from formula1_data_pipeline_spark.operators.retrieval import (
        recover_pending_late,
    )

    t = _tables(mart_dir)
    # heal any prior compaction's crashed late-preservation BEFORE
    # snapshotting (see recover_pending_late — order is correctness)
    keys_hint = None  # stats cols unknown here; recovery passes None
    recover_pending_late(spark, t[_PARTIALS], stats_cols=keys_hint)
    committed = _committed_attempts(spark, mart_dir)
    attempt = "compact-" + uuid.uuid4().hex[:16]
    txn_append(
        spark,
        local_frame(
            spark, [(attempt, attempt)], "attempt string, batch_id string"),
        t[_COMMITS],
    )
    partials = (
        read_table(spark, t[_PARTIALS])
        .filter(F.col("attempt").isin(committed or ["-"]))
        .drop("attempt")
    )
    keys = [c for c in partials.columns if c not in _MOMENTS]
    folded = (
        _fold(keys, partials)
        .select(*keys, *_MOMENTS, F.lit(attempt).alias("attempt"))
    )
    _overwrite_preserving_late(
        spark, folded, t[_PARTIALS],
        committed + [attempt], stats_cols=keys,
    )
