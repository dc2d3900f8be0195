"""ANN quality instrumentation (VERDICT r1 item 7).

Measures recall@k of the LSH-bucketed ANN (q26 path) against the exact
brute-force baseline (q24 path) on the shared synthetic embeddings, and
locks a floor so a recall regression (e.g. a banding change that
silently drops candidates) fails CI rather than shipping as a silently
worse index.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    lsh_bucket_keys,
    _lsh_bucketed,
    _lsh_bucketed_arrow,
)
from tests.conftest import sf_dir


def _load_emb(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet")


def _pairs(df) -> set[tuple]:
    return {(r.q_id, r.n_id) for r in df.select("q_id", "n_id").collect()}


def test_ann_recall_floor(spark):
    """Multi-table 16x5 LSH must recover >= 60% of the exact top-5.

    Measured ~0.7-0.9 on the synthetic corpus (true neighbors sit at
    cos ~0.32, so single-table 8-plane recall is 0.02-0.06 — the
    multi-table sketch is what makes the index usable here).
    """
    emb = _load_emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(emb, queries, k=5,
                               id_col="vec_id", vec_col="embedding"))
    approx = _pairs(ann_lsh_topk(emb, queries, dim=64, k=5,
                                 n_tables=16, n_planes=5,
                                 id_col="vec_id", vec_col="embedding"))
    assert exact, "exact baseline returned no pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall@5 regressed: {recall:.2f}"


def test_ivf_recall_floor(spark):
    """IVF-flat at 16 lists / 4 probes / 3-way soft assignment must
    recover >= 75% of the exact top-5. Round-6 honesty note: the old
    floor (0.80, 'measured 0.94') rode the first-16-ids centroid init,
    under which the evaluation queries WERE centroids — their lists
    aligned by construction. With the hash-sampled init the test data
    (structure-free gaussians) bounds recall by candidate fraction:
    measured 0.78 at sf0.01, 0.88 at sf0.001, 0.94 at sf0.1."""
    from formula1_data_pipeline_spark.operators.similarity import (
        ivf_flat_topk,
    )

    emb = _load_emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(emb, queries, k=5,
                               id_col="vec_id", vec_col="embedding"))
    approx = _pairs(ivf_flat_topk(emb, queries, dim=64, k=5,
                                  n_centroids=16, n_probe=4, n_assign=3,
                                  id_col="vec_id", vec_col="embedding"))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.75, f"IVF recall@5 regressed: {recall:.2f}"


def test_bulk_bucketing_matches_column_form(spark):
    """The explode+join bulk path must emit exactly the bucket keys the
    per-row column form defines (same planes, same key layout)."""
    emb = _load_emb(spark).limit(50)
    col_form = {
        (r.vec_id, b)
        for r in emb.select(
            "vec_id",
            lsh_bucket_keys(
                F.transform("embedding", lambda x: x.cast("double")),
                dim=64, n_tables=4, n_planes=5,
            ).alias("keys"),
        ).collect()
        for b in r.keys
    }
    bulk = {
        (r.n_id, r.bucket)
        for r in _lsh_bucketed(emb, 64, 4, 5, "vec_id", "embedding",
                               "n_").collect()
    }
    assert bulk == col_form


def test_arrow_bucketing_degrades_per_row_on_bad_vectors(spark):
    """A NULL or wrong-length embedding must drop that ROW, not fail
    the whole stage (np.stack raises on ragged input otherwise) —
    parity with the per-row degradation of the JVM path it replaced."""
    from pyspark.sql import types as T

    rows = [
        (0, [1.0] * 64),
        (1, None),            # NULL vector
        (2, [1.0, 2.0]),      # wrong length
        (3, [0.5] * 64),
        (4, [2.0] * 64),      # 0, 3, 4, 5 are parallel: cos_sim ties
        (5, [0.25] * 64),
    ]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )
    out = _lsh_bucketed_arrow(df, 64, 4, 5, "vec_id", "embedding", "n_")
    ids = {r.n_id for r in out.select("n_id").distinct().collect()}
    assert ids == {0, 3, 4, 5}

    # End-to-end: ann_lsh_topk over the same frame completes and only
    # scores the valid rows. Every candidate ties at cos_sim 1.0, so
    # the lower n_id ranks first and the cut falls at k per q_id — the
    # same policy for the exact path.
    queries = df.filter(F.col("vec_id").isin(0, 4))
    want = {(0, 3, 1.0, 1), (0, 4, 1.0, 2), (4, 0, 1.0, 1), (4, 3, 1.0, 2)}
    for res in (
        ann_lsh_topk(df, queries, dim=64, k=2, n_tables=4, n_planes=5,
                     id_col="vec_id", vec_col="embedding"),
        cosine_topk(df, queries, k=2, id_col="vec_id",
                    vec_col="embedding"),
    ):
        assert {tuple(r) for r in res.select(
            "q_id", "n_id", "cos_sim", "rank").collect()} == want


def test_arrow_bucketing_matches_column_form(spark):
    """The Arrow/NumPy bucketing (the q26 production path) must emit
    bit-identical bucket keys AND norms to the JVM forms — its
    d-sequential accumulation is designed to round exactly like the
    sequential fold, so equality here is exact, not approximate."""
    emb = _load_emb(spark).limit(50)
    arrow = {
        (r.n_id, r.bucket): r.n_norm
        for r in _lsh_bucketed_arrow(emb, 64, 4, 5, "vec_id",
                                     "embedding", "n_").collect()
    }
    bulk = {
        (r.n_id, r.bucket): r.n_norm
        for r in _lsh_bucketed(emb, 64, 4, 5, "vec_id", "embedding",
                               "n_").collect()
    }
    assert set(arrow) == set(bulk)
    for key, nrm in arrow.items():
        assert nrm == bulk[key], f"norm mismatch at {key}"


def test_semantic_dedup_drops_within_cell_only(spark):
    """Hand-crafted geometry pinning BOTH semantic-dedup behaviors:
    ids 0/1 are identical vectors, id 2 a near-dup (cos ~0.995), id 3
    orthogonal. The md5 sample picks docs 1 and 2 as the two
    centroids, so 0/1/3 land in cell 0 (3 by the tie-to-lowest rule —
    it scores 0 against both centroids) and 2 sits alone in cell 1.
    Expected at tau=0.9: id 1 dropped (identical to smaller-id 0 in
    its cell), id 0 kept, id 3 kept (cos 0 to its cellmates), and —
    the documented recall boundary — id 2 KEPT despite being a
    near-dup of 0/1, because a pair split across Voronoi cells is
    never a candidate (SemDeDup's accepted miss, mitigated in
    production by k-means centroids rather than a 2-point sample)."""
    import pyspark.sql.functions as F

    from formula1_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, None),                   # degenerate: NULL embedding
        (5, []),                     # degenerate: empty embedding
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {
        r["id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(
            emb, dim=4, n_centroids=2, threshold=0.9
        ).collect()
    }
    assert sorted(out) == [0, 1, 2, 3, 4, 5]  # ONE row per input doc
    assert out[0][0] == out[1][0] == out[3][0]  # cell 0
    assert out[2][0] != out[0][0]               # own cell (centroid)
    assert out[0][1] is True          # smallest id of the dup pair kept
    assert out[1][1] is False         # identical to 0, same cell
    assert out[2][1] is True          # cross-cell near-dup: the miss
    assert out[3][1] is True          # orthogonal doc untouched
    # NULL/empty embeddings have no defined similarity: sentinel cell,
    # kept — they must not vanish (a missing verdict row reads as
    # "dropped as duplicate" downstream)
    assert out[4] == (-1, True) and out[5] == (-1, True)

    # round 7: n_assign=2 soft assignment closes exactly that miss —
    # id 2's second-closest cell is cell 0, so the straddling pairs
    # (0,2)/(1,2) become candidates and id 2 IS dropped (cos ~0.995
    # to smaller-id 0), while its reported cluster stays the primary
    # cell and everything else is unchanged
    soft = {
        r["id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(
            emb, dim=4, n_centroids=2, threshold=0.9, n_assign=2
        ).collect()
    }
    assert sorted(soft) == [0, 1, 2, 3, 4, 5]   # still one row per doc
    assert soft[2][0] == out[2][0]              # primary cell reported
    assert soft[2][1] is False                  # straddling pair found
    assert soft[0][1] is True and soft[1][1] is False
    assert soft[3][1] is True
    assert soft[4] == (-1, True) and soft[5] == (-1, True)


def test_lloyd_training_improves_recall_on_clustered_embeddings(spark):
    """Round-7 quantizer gate (q92's logic at unit scale): on a
    gaussian-mixture fixture a Lloyd-trained quantizer must recall at
    least as well as its hash-sample init, and both must crush the
    ~n_probe/n_centroids candidate-fraction bound a random assignment
    is stuck at (the regression the round-6 structure-free fixture
    could not detect)."""
    import pyspark.sql.functions as F

    from formula1_data_pipeline_spark.evalsets import clustered_embeddings
    from formula1_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_flat_topk,
        train_ivf_centroids,
    )

    emb = clustered_embeddings(spark, n=600, dim=8, n_clusters=10,
                               std=0.6, seed=13)
    q = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {(r.q_id, r.n_id)
                for r in df.select("q_id", "n_id").collect()}

    exact = pairs(cosine_topk(emb, q, k=5, id_col="vec_id",
                              vec_col="embedding"))
    hash_p = pairs(ivf_flat_topk(
        emb, q, dim=8, k=5, n_centroids=10, n_probe=1,
        id_col="vec_id", vec_col="embedding"))
    coefs = train_ivf_centroids(emb, n_centroids=10, n_iter=3,
                                id_col="vec_id", vec_col="embedding")
    lloyd_p = pairs(ivf_flat_topk(
        emb, q, dim=8, k=5, n_probe=1, id_col="vec_id",
        vec_col="embedding", centroid_coefs=coefs))
    r_hash = len(exact & hash_p) / len(exact)
    r_lloyd = len(exact & lloyd_p) / len(exact)
    assert r_lloyd >= r_hash          # training must not hurt
    assert r_lloyd >= 0.5             # far above the ~0.1 random bound


def test_lloyd_training_carries_empty_clusters_forward(spark):
    """A centroid that loses every member must keep its previous
    coordinates, not vanish — a quantizer that silently shrinks
    changes every consumer's cell arithmetic."""
    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    # 5 identical vectors: every point assigns to one cell (tie ->
    # lowest cluster id); the other two centroids are member-less from
    # iteration 1 onward
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    coefs = train_ivf_centroids(emb, n_centroids=3, n_iter=2,
                                id_col="vec_id", vec_col="embedding")
    got = coefs.groupBy("cluster").count().collect()
    assert sorted(r["cluster"] for r in got) == [0, 1, 2]
    assert all(r["count"] == 2 for r in got)  # dim rows per cluster


def test_lloyd_training_rejects_ragged_vectors(spark):
    """A vector whose length differs from the centroids' must fail
    the training loudly — zip_with would NULL-pad it into a
    -Infinity score and a silent cluster-0 assignment. A NULL vector
    stays accepted (it scores NULL and never reaches a mean)."""
    import pytest

    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = [(i, [1.0, float(i), 0.5]) for i in range(6)]
    schema = "vec_id long, embedding array<double>"
    ok = spark.createDataFrame(rows + [(6, None)], schema)
    got = train_ivf_centroids(ok, n_centroids=2, n_iter=1).collect()
    assert got and {r["d"] for r in got} == {0, 1, 2}
    ragged = spark.createDataFrame(rows + [(7, [1.0, 2.0])], schema)
    with pytest.raises(Exception, match="vector 7 has length 2"):
        train_ivf_centroids(ragged, n_centroids=2, n_iter=1)


def _hash_rank(ids) -> list:
    """``ids`` in the trainer's (md5(id), id) sample order."""
    import hashlib

    return sorted(ids, key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))


def test_lloyd_training_rejects_ragged_vector_outside_sample(spark):
    """The trainer keeps only the first 256 * n_centroids rows of the
    hash order, but the length check must still see every row: a
    ragged vector ranked past the sample raises like one inside it."""
    import pytest

    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from formula1_data_pipeline_spark.session import local_frame

    ids = list(range(300))
    last = _hash_rank(ids)[-1]   # rank 300 > the 256-row sample
    rows = [(i, [1.0, float(i), 0.5] if i != last else [1.0, 2.0])
            for i in ids]
    emb = local_frame(spark, rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=f"vector {last} has length 2"):
        train_ivf_centroids(emb, n_centroids=1, n_iter=1)


def test_lloyd_training_runs_one_spark_job(spark):
    """A fixture-sized training is one sample job: the Lloyd rounds
    run on the driver and the coefficient table is a local relation."""
    from formula1_data_pipeline_spark.evalsets import clustered_embeddings
    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = clustered_embeddings(spark, n=600, dim=16, n_clusters=8)
    sc = spark.sparkContext
    group = "test_lloyd_training_runs_one_spark_job"
    sc.setJobGroup(group, "lloyd job count")
    try:
        coefs = train_ivf_centroids(emb, n_centroids=8, n_iter=5)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert coefs.count() == 8 * 16


def test_lloyd_training_matches_python_reference(spark):
    """The NumPy rounds against a plain-Python Lloyd loop under the
    same rules (init = first n_centroids rows of the hash order;
    cosine argmax by a sequential dot fold, ties to the lowest
    cluster, zero-norm centroids never win; member means summed in
    hash order; empty clusters carried forward). Same arithmetic in
    the same order, so the centroids must be EQUAL, not close."""
    import math

    import numpy as np

    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from formula1_data_pipeline_spark.session import local_frame

    # double (not float) coordinates, so sums round and their order
    # shows in the result
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(5, 16))
    pts = centers[rng.integers(0, 5, size=300)] \
        + rng.normal(scale=0.8, size=(300, 16))
    vecs = {i: [float(x) for x in p] for i, p in enumerate(pts)}
    emb = local_frame(spark, list(vecs.items()),
                      "vec_id long, embedding array<double>")
    order = [vecs[i] for i in _hash_rank(vecs)]
    k, n_iter = 6, 4
    cent = {c: list(v) for c, v in enumerate(order[:k])}
    for _ in range(n_iter):
        norms = {c: math.sqrt(sum(x * x for x in v))
                 for c, v in cent.items()}
        members = {c: [] for c in cent}
        for v in order:
            best, best_s = None, None
            for c in sorted(cent):
                s = -math.inf
                if norms[c] != 0.0:
                    acc = 0.0
                    for x, y in zip(v, cent[c]):
                        acc += x * y
                    s = acc / norms[c]
                if best is None or s > best_s:
                    best, best_s = c, s
            members[best].append(v)
        for c, vs in members.items():
            if vs:
                cent[c] = [sum(col) / len(vs) for col in zip(*vs)]

    got = train_ivf_centroids(emb, n_centroids=k, n_iter=n_iter)
    assert {(r["cluster"], r["d"]): r["coef"] for r in got.collect()} \
        == {(c, d): x for c, v in cent.items() for d, x in enumerate(v)}


def test_semantic_dedup_accepts_pretrained_quantizer(spark):
    """Round 8: semantic_dedup(centroid_coefs=...) must route the
    assignment through the supplied quantizer. Passing the SAME
    hash-sample table the default builds internally is verdict-
    identical (exact plumbing check, no trained floats involved);
    the trained-beats-hash recall bound lives in the q96 gate."""
    from formula1_data_pipeline_spark.evalsets import clustered_embeddings
    from formula1_data_pipeline_spark.operators.similarity import (
        _as_double,
        _hash_sample_coefs,
        norm,
        semantic_dedup,
    )
    from pyspark.sql import functions as F

    emb = clustered_embeddings(spark, n=120, dim=8, n_clusters=4,
                               std=0.5, seed=3)
    base = emb.select(
        F.col("vec_id").alias("id"),
        _as_double(F.col("embedding")).alias("vec"),
    ).withColumn("nrm", norm(F.col("vec")))
    coefs = _hash_sample_coefs(base, 4)
    default = semantic_dedup(emb, dim=8, n_centroids=4, threshold=0.8,
                             id_col="vec_id", vec_col="embedding")
    explicit = semantic_dedup(emb, dim=8, n_centroids=999, threshold=0.8,
                              id_col="vec_id", vec_col="embedding",
                              centroid_coefs=coefs)
    as_set = lambda df: {(r["id"], r["cluster"], r["kept"])
                         for r in df.collect()}
    assert as_set(explicit) == as_set(default)


def test_exact_all_pairs_twin_matches_one_cell_semantic_dedup(spark):
    """r15 optimization guard (q96 ground-truth leg): the direct
    all-(a<b)-pairs verify must drop EXACTLY the ids that
    semantic_dedup(n_centroids=1) drops — same cosine expression,
    same 6-dp round, same threshold — because q96 now computes its
    exact denominator that way instead of routing every pair through
    the one-cell assignment + salted band join."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.evalsets import (
        clustered_embeddings,
    )
    from formula1_data_pipeline_spark.operators.similarity import (
        _as_double,
        cosine_from_norms,
        norm,
        semantic_dedup,
    )

    emb = clustered_embeddings(spark, n=200, dim=8, n_clusters=6,
                               std=0.7, seed=11)
    thr = 0.85
    op_dropped = {
        r["id"]
        for r in semantic_dedup(
            emb, dim=8, threshold=thr, n_centroids=1,
            id_col="vec_id", vec_col="embedding",
        ).collect()
        if not r["kept"]
    }

    base = emb.select(
        F.col("vec_id").alias("id"),
        _as_double(F.col("embedding")).alias("vec"),
    ).filter(
        ~(F.col("vec").isNull() | (F.size("vec") == 0))
    ).withColumn("nrm", norm(F.col("vec")))
    a = base.select(F.col("id").alias("a_id"),
                    F.col("vec").alias("a_vec"),
                    F.col("nrm").alias("a_norm"))
    b = base.select(F.col("id").alias("b_id"),
                    F.col("vec").alias("b_vec"),
                    F.col("nrm").alias("b_norm"))
    twin_dropped = {
        r["b_id"]
        for r in a.join(b, F.col("a_id") < F.col("b_id")).select(
            "b_id",
            F.round(cosine_from_norms(
                F.col("a_vec"), F.col("b_vec"),
                F.col("a_norm"), F.col("b_norm")), 6).alias("cos_sim"),
        ).filter(F.col("cos_sim") >= thr)
        .select("b_id").distinct().collect()
    }
    assert twin_dropped == op_dropped
    assert len(op_dropped) > 0  # fixture sanity: the twin is exercised
