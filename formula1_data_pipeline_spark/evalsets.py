"""Deterministic evaluation datasets the synthetic testdata lacks.

The driver-shipped ``embeddings`` table is STRUCTURE-FREE (isotropic
gaussian): true nearest neighbors sit at cos ~0.3-0.5 and are spread
uniformly, so ANN recall there is bounded by the candidate fraction
no matter the quantizer — a hash-sample init and a trained k-means
are indistinguishable (measured: Lloyd moves recall < 0.05;
SCALE.md round 6). Quantizer quality only becomes measurable on data
with CLUSTER structure, which is what real embedding models produce.

``clustered_embeddings`` generates that: a seeded mixture of
gaussians — well-separated centers, per-cluster noise wide enough
(std ~0.5-0.6 of unit-variance centers) that a sampled POINT is a
noticeably worse cell center than the cluster MEAN, so Lloyd
training has something to improve and a recall floor can separate
working quantizers from broken ones (q92).

Generation is driver-side NumPy (seeded ``default_rng``), then one
JVM local relation (``session.local_frame``) — the set is an
EVALUATION fixture, bounded to a
few thousand rows by construction; at deployment scale the
corresponding object is a real embedding table, not a fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from formula1_data_pipeline_spark.session import local_frame


def clustered_embeddings(
    spark: SparkSession,
    n: int = 2000,
    dim: int = 16,
    n_clusters: int = 20,
    std: float = 0.6,
    seed: int = 7,
) -> DataFrame:
    """(vec_id long, embedding array<float>, label int): ``n`` points
    from a ``n_clusters``-component gaussian mixture — centers ~
    N(0, I) (typical inter-center distance ~ sqrt(2*dim), far above
    ``std``), labels uniform, point = center + N(0, std^2 I).
    Deterministic for a given (n, dim, n_clusters, std, seed)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centers[labels] + rng.normal(scale=std, size=(n, dim))
    return local_frame(
        spark,
        [
            (int(i), [float(x) for x in vecs[i]], int(labels[i]))
            for i in range(n)
        ],
        "vec_id long, embedding array<float>, label int",
    )
