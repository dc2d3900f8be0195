"""Greedy k-center diversity selection (`operators/coreset.py`).
Cross-engine parity for the eventual gate lives in
``test_r10_gate_drafts.py``."""

from __future__ import annotations

import math

from formula1_data_pipeline_spark.operators.coreset import (
    kcenter_assign,
    kcenter_centers,
)


def _select(df, k):
    """The (rank, vec_id, min_dist) selection trace."""
    return [(r, i, d) for r, i, d, _ in kcenter_centers(df, k)]


def _naive(vecs: dict[int, list[float]], k: int):
    """Reference greedy: rounded cosine, id tiebreaks, seed = min id."""
    def cos(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(num / (na * nb), 6)

    ids = sorted(vecs)
    out = [(0, ids[0], None)]
    chosen = [ids[0]]
    for r in range(1, k):
        cands = [
            (1.0 - max(cos(vecs[i], vecs[c]) for c in chosen), -i, i)
            for i in ids if i not in chosen
        ]
        if not cands:
            break
        d, _, i = max(cands)  # max distance, then SMALLEST id
        out.append((r, i, d))
        chosen.append(i)
    return out


def _fixture(spark):
    # four tight clusters on distinct directions + a duplicate pair
    base = {
        0: [1.0, 0.0, 0.0, 0.0], 1: [0.99, 0.01, 0.0, 0.0],
        2: [0.0, 1.0, 0.0, 0.0], 3: [0.0, 0.98, 0.02, 0.0],
        4: [0.0, 0.0, 1.0, 0.0], 5: [0.0, 0.01, 0.99, 0.0],
        6: [0.0, 0.0, 0.0, 1.0], 7: [1.0, 0.0, 0.0, 0.0],  # dup of 0
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in base.items()],
        "vec_id long, embedding array<float>",
    )
    # array<float> loses precision vs the python doubles — recompute
    # the reference from the FLOAT-cast values the operator sees
    cast = {i: [float(__import__("numpy").float32(x)) for x in v]
            for i, v in base.items()}
    return df, cast


def test_kcenter_matches_naive_greedy(spark):
    df, vecs = _fixture(spark)
    for k in (1, 2, 4, 6):
        got = _select(df, k)
        assert got == _naive(vecs, k), f"k={k}"


def test_kcenter_covers_all_clusters_before_duplicates(spark):
    df, vecs = _fixture(spark)
    picks = [i for _, i, _ in _naive(vecs, 4)]
    got = [i for _, i, _ in _select(df, 4)]
    assert got == picks
    # the four picks hit four DIFFERENT axis clusters
    axes = {max(range(4), key=lambda d: vecs[i][d]) for i in got}
    assert len(axes) == 4
    # and the duplicate of the seed (id 7) is never picked before
    # the space is exhausted of distinct directions
    assert 7 not in got


def test_kcenter_exhaustion_and_validation(spark):
    df, _ = _fixture(spark)
    # k > n: returns exactly n rows, no duplicate ids
    ids = [i for _, i, _ in _select(df, 100)]
    assert len(ids) == 8 and len(set(ids)) == 8
    import pytest

    with pytest.raises(ValueError):
        kcenter_centers(df, 0)
    assert kcenter_centers(df.filter("vec_id < 0"), 3) == []


def test_kcenter_assign_nearest_with_rank_ties(spark):
    df, vecs = _fixture(spark)
    centers = kcenter_centers(df, 4)
    out = {r["vec_id"]: (r["center_rank"], r["cos_sim"])
           for r in kcenter_assign(df, centers).collect()}
    assert set(out) == set(vecs)
    # each center assigns to itself with sim 1.0
    for rank, cid, _, _ in centers:
        assert out[cid] == (rank, 1.0)
    # the duplicate vector (7 == 0) lands on 0's center with sim 1.0,
    # at the LOWEST matching rank
    seed_rank = next(r for r, i, _, _ in centers if i == 0)
    assert out[7] == (seed_rank, 1.0)
    # every neighbor lands on its own cluster's center
    for i, j in [(1, 0), (3, 2), (5, 4)]:
        assert out[i][0] == out[j][0]


def test_kcenter_partitioning_invariant(spark):
    df, _ = _fixture(spark)
    base = [(r, i) for r, i, _ in _select(df, 5)]
    for parts in (1, 7):
        got = [(r, i) for r, i, _ in _select(df.repartition(parts), 5)]
        assert got == base, f"parts={parts}"


def test_kcenter_excludes_zero_vectors(spark):
    """Zero-norm vectors are excluded from selection (cosine
    undefined; visible policy) and keep NULL-assignment rows."""
    from pyspark.sql import functions as F

    df, _ = _fixture(spark)
    withz = df.unionByName(
        df.sparkSession.createDataFrame(
            [(99, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
    )
    picks = [i for _, i, _ in _select(withz, 100)]
    assert 99 not in picks and len(picks) == 8
    centers = kcenter_centers(withz, 4)
    out = {r["vec_id"]: (r["center_rank"], r["cos_sim"])
           for r in kcenter_assign(withz, centers).collect()}
    assert out[99] == (None, None)
    assert sum(1 for v in out.values() if v[0] is not None) == 8


def test_kcenter_incremental_equals_stateless(spark):
    """The two cost shapes are value-identical — min over a set is a
    left-fold of pairwise mins on the same rounded operands — on the
    clustered fixture AND on real embeddings."""
    df, _ = _fixture(spark)
    a = kcenter_centers(df, 6)
    b = kcenter_centers(df, 6, incremental=True)
    assert [(r, i, d) for r, i, d, _ in a] \
        == [(r, i, d) for r, i, d, _ in b]
    emb = df.sparkSession.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    a = kcenter_centers(emb, 5)
    b = kcenter_centers(emb, 5, incremental=True)
    assert [(r, i, d) for r, i, d, _ in a] \
        == [(r, i, d) for r, i, d, _ in b]


def test_kcenter_incremental_releases_checkpoint_blocks(spark):
    """Round-9 ADVICE regression: each round's superseded
    localCheckpoint frame is released as soon as the next round
    materializes — a k-round run must leave ZERO persisted RDDs
    behind (previously up to k-1 corpus-sized block sets lingered
    until driver GC)."""
    from formula1_data_pipeline_spark.operators.coreset import (
        kcenter_centers,
    )

    def persisted_ids():
        return {info.id() for info in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    before = persisted_ids()
    kcenter_centers(emb, 8, incremental=True)
    # compare by RDD id, not count: other operators' eager
    # localCheckpoints (heavy_hitters, zorder) leave blocks the
    # driver GC may release at ANY moment, so an exact-count
    # assertion flakes when a collection lands mid-test (seen in the
    # round-10 full-suite run); what this guards is that kcenter
    # itself leaves NO NEW persisted RDDs behind
    leaked = persisted_ids() - before
    assert not leaked, leaked


def test_release_local_checkpoint_seam_resolves_and_frees(spark):
    """Round-12 verdict item #4: _release_local_checkpoint reaches
    through PySpark private API (queryExecution().analyzed().rdd())
    and was try/except-guarded, so a Spark upgrade moving the seam
    would SILENTLY stop releasing checkpoint storage. This test holds
    a LIVE reference to the checkpointed frame — the ContextCleaner
    never collects a referenced RDD, so the blocks can only disappear
    through the private-API path. If the seam stops resolving, the
    blocks stay and this fails loudly."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.operators.coreset import (
        _release_local_checkpoint,
    )

    def persisted_ids():
        return {info.id() for info in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = persisted_ids()
    ck = (spark.range(50_000)
          .withColumn("x", (F.col("id") * 3).cast("double"))
          .localCheckpoint(eager=True))
    created = persisted_ids() - before
    assert created, "localCheckpoint left no persisted blocks — " \
        "the fixture itself is broken"
    _release_local_checkpoint(ck)
    still = persisted_ids() & created
    assert not still, (
        "private-API release path no longer frees checkpoint blocks "
        f"(Spark upgrade moved the seam?): {still}")
