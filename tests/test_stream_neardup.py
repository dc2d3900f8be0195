"""Streaming near-dup dedup (streaming/neardup.py) — the convergence
contract: the landed verdict state must be INDEPENDENT of how the
source was split into micro-batches, because a near-dup pair whose
smaller id arrives later is discovered retroactively and the dropped
verdict outranks the earlier kept one."""

import pyspark.sql.functions as F

from formula1_data_pipeline_spark.streaming import stream_neardup_dedup

SF = "/root/testdata/sf0.001"


def _verdicts(spark, n_files):
    landed = stream_neardup_dedup(
        spark, f"{SF}/documents.parquet", n_source_files=n_files
    )
    return {
        r["doc_id"]: r["kept"]
        for r in landed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("kept") == "true").alias("kept"),
        ).collect()
    }


def test_converged_state_is_split_independent(spark):
    one = _verdicts(spark, 1)   # whole corpus in a single batch
    five = _verdicts(spark, 5)  # hash-split, not id-ordered
    assert one == five
    # non-vacuous: the synthetic corpus has near-dups to drop and docs
    # to keep
    assert any(one.values()) and not all(one.values())


def test_dropped_docs_have_smaller_id_neardup(spark):
    """Every dropped doc must have a verified jaccard>=0.8 partner
    with a smaller id (checked against the batch operator), and every
    kept doc must not."""
    from formula1_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    got = _verdicts(spark, 3)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dropped_expect = {
        r["b_id"]
        for r in minhash_lsh_candidates(docs, "text", "doc_id")
        .filter(F.col("jaccard") >= 0.8).select("b_id").collect()
    }
    assert {d for d, kept in got.items() if not kept} == dropped_expect
    assert set(got) == {r["doc_id"] for r in docs.select("doc_id")
                        .collect()}


def test_seen_index_stays_bounded_under_compaction(
        spark, tmp_path, monkeypatch):
    """Round-6 verdict item 6: one index segment per micro-batch is
    unbounded over a long-running stream. With the (call-time)
    AUTO_COMPACT_DIRS default now enabled on the index appends,
    tightened to 3 here and vacuum's age floor zeroed, an 8-batch
    replay must leave BOTH the manifest's live-dir count and the
    on-disk dir count bounded by small constants — while the landed
    verdicts stay identical to the single-batch replay (compaction
    must be invisible to semantics)."""
    from formula1_data_pipeline_spark.sources import txn as txn_mod
    from formula1_data_pipeline_spark.sources.txn import (
        _live_dirs,
        _read_manifest,
        current_version,
    )

    monkeypatch.setattr(txn_mod, "AUTO_COMPACT_DIRS", 3)
    monkeypatch.setattr(txn_mod, "AUTO_VACUUM_MIN_AGE_SEC", 0.0)
    landed = stream_neardup_dedup(
        spark, f"{SF}/documents.parquet", n_source_files=8,
        work_dir=str(tmp_path),
    )
    got = {
        r["doc_id"]: r["kept"]
        for r in landed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("kept") == "true").alias("kept"),
        ).collect()
    }
    assert got == _verdicts(spark, 1)

    # a second call on the same work_dir resumes from its staging and
    # checkpoint: no batch is left to land, so the verdicts are the
    # same and the index gains no segment
    again = stream_neardup_dedup(
        spark, f"{SF}/documents.parquet", n_source_files=8,
        work_dir=str(tmp_path),
    )
    assert {
        r["doc_id"]: r["kept"]
        for r in again.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("kept") == "true").alias("kept"),
        ).collect()
    } == got

    idx = str(tmp_path / "seen_index")
    v = current_version(spark, idx)
    live = _live_dirs(_read_manifest(spark, idx, v)["segments"])
    assert live <= 4, f"live dirs not bounded: {live}"  # threshold + 1
    on_disk = [d.name for d in (tmp_path / "seen_index").iterdir()
               if d.name.startswith("d-")]
    # live dirs + at most a few not-yet-vacuumed stragglers — NOT 8
    assert len(on_disk) <= 6, sorted(on_disk)
