"""Epoch shuffle + training-shard export — round-8 verdict item #3.

The corpus-to-trainer handoff contract: the shuffle order is a pure
function of (id set, epoch salt) — invariant to physical partitioning
— every shard but the last holds exactly ``rows_per_shard`` rows, the
export is atomic and re-runnable, and mid-epoch resume is manifest
data skipping on ``epoch_rank`` stats, not bookkeeping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.shards import (
    epoch_shuffle,
    export_epoch_shards,
)
from formula1_data_pipeline_spark.scratch import scratch_dir


def _docs(spark, n=57, parts=None):
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    return df.repartition(parts) if parts else df


def _order(df):
    return [r.doc_id for r in df.orderBy("epoch_rank").collect()]


def test_rank_is_dense_unique_and_partitioning_invariant(spark):
    """The epoch order must not depend on how the input was laid out
    (the whole point of hash-rank over df.sample), and ranks are a
    dense permutation 0..n-1."""
    base = epoch_shuffle(_docs(spark), "epoch-1", rows_per_shard=10)
    got = base.select("doc_id", "epoch_rank").collect()
    assert sorted(r.epoch_rank for r in got) == list(range(57))
    for parts in (1, 7, 32):
        again = epoch_shuffle(_docs(spark, parts=parts), "epoch-1",
                              rows_per_shard=10)
        assert _order(again) == _order(base)
    # a different number of rank buckets is a different PLAN, not a
    # different order
    rebkt = epoch_shuffle(_docs(spark), "epoch-1", rows_per_shard=10,
                          n_rank_buckets=3)
    assert _order(rebkt) == _order(base)


def test_epochs_are_independent_orders(spark):
    a = _order(epoch_shuffle(_docs(spark), "epoch-1", 10))
    b = _order(epoch_shuffle(_docs(spark), "epoch-2", 10))
    assert sorted(a) == sorted(b)
    assert a != b  # 57! orders; identical would mean the salt is dead


def test_every_shard_but_last_is_exactly_full(spark):
    df = epoch_shuffle(_docs(spark, n=57), "epoch-1", rows_per_shard=10)
    sizes = {r.shard: r.n for r in
             df.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert sorted(sizes) == [0, 1, 2, 3, 4, 5]
    assert all(sizes[s] == 10 for s in range(5)) and sizes[5] == 7
    # row_in_shard is the dense within-shard position
    rows = df.filter(F.col("shard") == 2).orderBy("epoch_rank").collect()
    assert [r.row_in_shard for r in rows] == list(range(10))
    assert [r.epoch_rank for r in rows] == list(range(20, 30))


def test_bad_params_fail_loudly(spark):
    with pytest.raises(ValueError, match="rows_per_shard"):
        epoch_shuffle(_docs(spark), "epoch-1", rows_per_shard=0)
    with pytest.raises(ValueError, match="n_rank_buckets"):
        epoch_shuffle(_docs(spark), "epoch-1", 10, n_rank_buckets=0)


def test_export_roundtrip_and_resume_pruning(spark):
    """Export publishes atomically through the txn layer; contents are
    invariant to input partitioning; a resume read pruned on
    epoch_rank >= R skips finished shards from manifest stats alone
    (strict superset-of-matching-rows semantics, fewer rows scanned)."""
    from formula1_data_pipeline_spark.sources.txn import read_table

    table = scratch_dir("shards") + "/epoch1"
    v = export_epoch_shards(spark, _docs(spark, n=57), table,
                            "epoch-1", rows_per_shard=10)
    back = read_table(spark, table)
    assert back.count() == 57
    expect = {(r.doc_id, r.epoch_rank, r.shard, r.row_in_shard)
              for r in epoch_shuffle(_docs(spark), "epoch-1", 10).collect()}
    got = {(int(r.doc_id), r.epoch_rank, int(r.shard), r.row_in_shard)
           for r in back.collect()}
    assert got == expect

    # re-export after a different input layout: byte-identical contents
    v2 = export_epoch_shards(spark, _docs(spark, n=57, parts=5), table,
                             "epoch-1", rows_per_shard=10)
    assert v2 == v + 1
    got2 = {(int(r.doc_id), r.epoch_rank, int(r.shard), r.row_in_shard)
            for r in read_table(spark, table).collect()}
    assert got2 == expect

    # mid-epoch resume at rank 35: shards 0-2 (ranks 0..29) pruned
    # out by their recorded [min, max] before any data scan
    resumed = read_table(spark, table, prune={"epoch_rank": (35, None)})
    n_scanned = resumed.count()
    assert n_scanned < 57            # pruning actually dropped segments
    assert n_scanned >= 57 - 35      # superset of the matching rows
    matching = resumed.filter(F.col("epoch_rank") >= 35)
    assert matching.count() == 57 - 35
    assert {r.epoch_rank for r in matching.collect()} == set(range(35, 57))


def test_rank_plan_has_no_global_sort_and_broadcasts_offsets(spark):
    """The 100 TB plan claims, pinned: per-bucket counts partial-
    aggregate map-side, bucket offsets come back as a BROADCAST join
    (never a shuffled one), and no range partitioning (global sort)
    appears anywhere — the whole point of the two-level prefix sum."""
    df = epoch_shuffle(_docs(spark, n=200), "epoch-1", rows_per_shard=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
        plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_string_ids_rank_then_pack_recipe(spark):
    """The recipe pack_sequences' numeric-id error message points at:
    string doc ids get a dense numeric rank from epoch_shuffle's
    md5-rank, and packing runs on the rank — deterministic,
    partitioning-invariant, no global sort."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.operators.packing import (
        pack_sequences,
    )
    from formula1_data_pipeline_spark.operators.shards import epoch_shuffle

    docs = spark.createDataFrame(
        [(f"doc-{i:04d}", (i % 7) + 1) for i in range(200)],
        "doc_id string, n_tokens long",
    )
    ranked = epoch_shuffle(docs, epoch_salt="order-v1", rows_per_shard=50,
                           id_col="doc_id")
    packed = pack_sequences(
        ranked, F.col("n_tokens"), budget=16, id_col="epoch_rank",
        bucket_size=64,
    )
    rows = packed.collect()
    assert len(rows) == 200
    # the prefix-sum layout is exact over the rank order
    by_rank = {r["epoch_rank"]: r for r in rows}
    cum = 0
    for rank in sorted(by_rank):
        r = by_rank[rank]
        assert r["bin_id"] == cum // 16 and r["pack_pos"] == cum % 16
        cum += r["n_tokens"]
    # and invariant to physical partitioning
    again = pack_sequences(
        epoch_shuffle(docs.repartition(7), "order-v1", 50,
                      id_col="doc_id"),
        F.col("n_tokens"), budget=16, id_col="epoch_rank",
        bucket_size=64,
    ).collect()
    assert {(r["epoch_rank"], r["bin_id"], r["pack_pos"]) for r in again} \
        == {(r["epoch_rank"], r["bin_id"], r["pack_pos"]) for r in rows}
