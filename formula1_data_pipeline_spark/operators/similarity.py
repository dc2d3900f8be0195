"""Embedding similarity search (SURVEY.md §2.12 mandate).

- **cosine_topk** — brute-force exact top-k: broadcast the (small)
  query set against the corpus; per-row dot/norm as JVM fold
  expressions (sequential double accumulation — deterministic and
  oracle-matchable); rank per query. The correctness baseline.
- **ann_lsh_topk** — the scale path: random-hyperplane LSH buckets
  (sign-bit sketch from deterministic per-dimension hashes), candidates
  = same-bucket pairs, exact cosine on candidates only. At 100 TB the
  corpus shuffles once on bucket keys instead of cross-joining.
- **train_ivf_centroids** — Lloyd quantizer training the way FAISS's
  k-means does it (Johnson et al. 2019): one Spark job takes a
  bounded hash-order sample of at most 256 rows per centroid, and the
  rounds run on the driver in NumPy over at most ``256·k·dim``
  doubles. The corpus is read once, however many rounds run.

Every top-k kind here and in ``vecindex``/``dimred`` ends in the same
exact ranking step, ``rank_topk``; they differ only in how candidates
are generated.

Embeddings are ``array<float>``; all math is widened to double first
(float kernels lose determinism across engines).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.session import local_frame


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b, dim: int | None = None) -> Column:
    """Sequential-fold dot product in double (deterministic order).

    Stays the interpreted ``zip_with``/``aggregate`` fold on purpose:
    unrolling the fold into a 64-term GetArrayItem sum chain was built
    and measured (round 2) at 3-5x SLOWER end-to-end — the ~400-node
    expression trees blow up codegen/compile time and fall out of
    whole-stage codegen. The cheap structural win is precomputing
    norms per *vector* instead of per *pair* (see ``with_norm``); the
    remaining per-pair fold is candidate-bounded. ``dim`` is accepted
    for API stability and ignored.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a, b, dim: int | None = None) -> Column:
    return dot(a, b, dim) / F.nullif(norm(a, dim) * norm(b, dim), F.lit(0.0))


def cosine_from_norms(a: Column, b: Column, norm_a: Column,
                      norm_b: Column) -> Column:
    """Cosine with the norms supplied from per-vector precomputation —
    one fold per pair instead of three. Bit-identical to ``cosine``:
    same dot fold, same operands to the final division."""
    return dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self).

    Output: q_id, n_id, cos_sim, rank. ``round_dp`` rounds the score
    before ranking (with an id tiebreak) so rankings are reproducible
    across engines; pass None for raw scores. Pass ``dim`` to unroll
    the per-pair cosine into codegen (see ``dot``).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_norm", norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("n_id"), _as_double(F.col(vec_col)).alias("n_vec")
    ).withColumn("n_norm", norm(F.col("n_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            cosine_from_norms(F.col("q_vec"), F.col("n_vec"),
                              F.col("q_norm"), F.col("n_norm"))
            .alias("cos_raw"),
        )
    )
    score = (
        F.round(F.col("cos_raw"), round_dp) if round_dp is not None
        else F.col("cos_raw")
    )
    return rank_topk(
        scored.select("q_id", "n_id", score.alias("cos_sim")), k, "cos_sim")


def rank_topk(scored: DataFrame, k: int, score: str) -> DataFrame:
    """The exact top-k step every ANN kind ends in: per ``q_id``,
    ``row_number`` over ``score`` desc with the ``n_id`` asc
    tiebreak, kept where ``rank`` <= k. Candidate generation (all
    pairs, LSH buckets, IVF cells, projected cosine) is what differs
    between the kinds; this ranking policy is shared, so their outputs
    stay row-comparable and oracle-replayable."""
    w = Window.partitionBy("q_id").orderBy(
        F.col(score).desc(), F.col("n_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a hash
    (no RNG state — reproducible across runs/executors). Memoized:
    plane construction is driver-side md5 work and callers ask for the
    same planes repeatedly."""
    return list(_hyperplane_cached(dim, plane))


@functools.lru_cache(maxsize=4096)
def _hyperplane_cached(dim: int, plane: int) -> tuple[float, ...]:
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).digest()
        vals.append(int.from_bytes(h[:8], "big") / 2**63 - 1.0)
    return tuple(vals)


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-bit sketch: bucket id from n hyperplane sign bits.
    Per-row (not per-pair) cost — the interpreted fold is fine here."""
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        bits.append(F.when(dot(vec, plane) >= 0, 2 ** p).otherwise(0))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def lsh_bucket_keys(vec: Column, dim: int, n_tables: int = 16,
                    n_planes: int = 5) -> Column:
    """Multi-table LSH sketch: ``n_tables`` independent sign-bit
    buckets (``n_planes`` hyperplanes each, plane ids t*n_planes+p so
    tables never share planes). Key = t * 2^n_planes + bits — distinct
    across tables, so one exploded column joins all tables at once.

    Multi-table is the recall lever: a neighbor at per-bit agreement
    prob q survives one m-plane table with p = q^m but L tables with
    1-(1-p)^L. Single-table 8-plane recall@5 measured 0.02-0.06 on the
    synthetic embeddings (true neighbors sit at cos~0.32); 16x5
    measures ~0.7-0.9 (see tests/test_similarity.py)."""
    keys = []
    for t in range(n_tables):
        bits: Column | None = None
        for p in range(n_planes):
            plane = F.array(
                *[F.lit(v) for v in _hyperplane(dim, t * n_planes + p)]
            )
            bit = F.when(dot(vec, plane) >= 0, 2 ** p).otherwise(0)
            bits = bit if bits is None else bits + bit
        keys.append(F.lit(t * (1 << n_planes)) + bits)
    return F.array(*keys)


def _plane_coefs(spark, dim: int, n_tables: int, n_planes: int) -> DataFrame:
    """Tiny (d, plane, coef) coefficient table for all hyperplanes —
    built once per operator call and broadcast-joined on both sides."""
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            plane_id = t * n_planes + p
            vals = _hyperplane(dim, plane_id)
            rows.extend((d, plane_id, vals[d]) for d in range(dim))
    return local_frame(spark, rows, "d int, plane int, coef double")


def _lsh_bucketed(df: DataFrame, dim: int, n_tables: int, n_planes: int,
                  id_col: str, vec_col: str, out_prefix: str,
                  coefs: DataFrame | None = None) -> DataFrame:
    """(id, vec, norm, bucket) with one row per table bucket — the bulk
    shape of ``lsh_bucket_keys``.

    The column form evaluates n_tables*n_planes interpreted HOF folds
    per row (~10x slower than codegen; measured 18-40 s on q26 at
    sf0.1). An 80-aggregate codegen tree (one SUM per plane) was also
    built and rejected: its generated source costs ~5-8 s of janino
    compile per plan instance, which the per-query-cold bench pays in
    full. The shape that wins is data, not expression tree: explode the
    vector to (id, d, val), broadcast-join a tiny (d, plane, coef)
    coefficient table, and compute every plane dot with a SINGLE
    codegen'd SUM via groupBy(id, plane) — constant-size generated
    code, map-side partial agg, one skinny shuffle of (id, plane, sum).
    Per-group accumulation runs in explode order (d ascending; the
    broadcast probe preserves stream order and each id lives in one
    input partition), matching the sequential fold the oracle replays.
    """
    if coefs is None:
        coefs = _plane_coefs(df.sparkSession, dim, n_tables, n_planes)
    base = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    ex = base.select("id", F.posexplode("vec").alias("d", "val"))
    dots = (
        ex.join(F.broadcast(coefs), "d")
        .groupBy("id", "plane")
        .agg(F.sum(F.col("val") * F.col("coef")).alias("dot"))
    )
    bucketed = dots.groupBy(
        "id", (F.col("plane") / n_planes).cast("int").alias("t")
    ).agg(
        F.sum(
            F.when(F.col("dot") >= 0,
                   F.expr(f"shiftleft(1, plane % {n_planes})"))
            .otherwise(0)
        ).alias("bits")
    ).select(
        "id",
        (F.col("t") * (1 << n_planes) + F.col("bits")).alias("bucket"),
    )
    return base.join(bucketed, "id").select(
        F.col("id").alias(f"{out_prefix}id"),
        F.col("vec").alias(f"{out_prefix}vec"),
        F.col("nrm").alias(f"{out_prefix}norm"),
        "bucket",
    )


def _lsh_bucketed_arrow(df: DataFrame, dim: int, n_tables: int,
                        n_planes: int, id_col: str, vec_col: str,
                        out_prefix: str) -> DataFrame:
    """Arrow-vectorized bucketing: one narrow ``mapInPandas`` stage
    computes all ``n_tables * n_planes`` hyperplane dots per vector
    with NumPy and emits (id, vec, norm, bucket-key array).

    This is the scale shape for dense numerics: per-partition
    vectorized FMA over Arrow batches — no shuffle, no join, constant
    generated code — where the pure-JVM alternative is either an
    interpreted HOF fold per plane (measured 18-40 s at sf0.1: the
    2000-row parquet lands in one partition and each fold is a
    Catalyst-interpreter eval) or an explode + broadcast-join +
    double-aggregate pipeline (~6 stages of fixed latency that
    dominate small inputs and an extra wide shuffle at scale).

    Bit-exactness with the DuckDB oracle's sequential fold: the
    accumulation loops over dimensions d = 0..dim-1 ADDING ONE TERM AT
    A TIME (vectorized across rows and planes), so every per-element
    accumulator sees the same add-one-round-one sequence as the JVM /
    DuckDB fold — NOT NumPy's pairwise-summed ``matmul``, which rounds
    differently and could flip a sign at the bucket boundary. Norms
    accumulate the same way. Sign test (>= 0) and the key packing are
    integer-exact.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    planes = np.array(
        [_hyperplane(dim, p) for p in range(n_tables * n_planes)],
        dtype=np.float64,
    )  # [P, dim]

    schema = StructType([
        StructField("id", LongType()),
        StructField("vec", ArrayType(DoubleType())),
        StructField("nrm", DoubleType()),
        StructField("buckets", ArrayType(LongType())),
    ])

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            # Degrade per-row on NULL / wrong-length embeddings (the JVM
            # path this replaced null'd them out row-by-row): a single
            # bad vector must not fail the whole stage via np.stack's
            # ragged-input error. Dropped rows simply produce no bucket,
            # so they can never appear as a candidate — same visible
            # semantics as a NULL dot product filtered downstream.
            ok = pdf["vec"].map(
                lambda v: v is not None and len(v) == dim
            )
            pdf = pdf[ok]
            if not len(pdf):
                continue
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            n = V.shape[0]
            acc = np.zeros((n, planes.shape[0]))
            nrm2 = np.zeros(n)
            for d in range(dim):  # d-sequential: one rounding per add
                acc += V[:, d:d + 1] * planes[:, d]
                nrm2 += V[:, d] * V[:, d]
            keys = np.empty((n, n_tables), dtype=np.int64)
            for t in range(n_tables):
                k = np.zeros(n, dtype=np.int64)
                for p in range(n_planes):
                    k += (acc[:, t * n_planes + p] >= 0).astype(np.int64) << p
                keys[:, t] = t * (1 << n_planes) + k
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(),
                "vec": list(V),
                "nrm": np.sqrt(nrm2),
                "buckets": list(keys),
            })

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    out = base.mapInPandas(batches, schema=schema)
    return out.select(
        F.col("id").alias(f"{out_prefix}id"),
        F.col("vec").alias(f"{out_prefix}vec"),
        F.col("nrm").alias(f"{out_prefix}norm"),
        F.explode("buckets").alias("bucket"),
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int = 16,
    n_planes: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine among candidates that share at
    least one LSH bucket with the query across ``n_tables`` tables.

    Scale shape: the query side (exploded to one row per table bucket)
    broadcasts, so the corpus never shuffles for candidate generation;
    a pair hitting in several tables is deduped AFTER scoring (distinct
    on the scored triple — cosine is deterministic, so duplicates are
    bit-identical), keeping the only shuffle at candidate volume.
    Output schema matches cosine_topk; ranks are per-query among
    candidates found.
    """
    q = _lsh_bucketed_arrow(queries, dim, n_tables, n_planes, id_col,
                            vec_col, "q_")
    c = _lsh_bucketed_arrow(corpus, dim, n_tables, n_planes, id_col,
                            vec_col, "n_")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            F.round(
                cosine_from_norms(F.col("q_vec"), F.col("n_vec"),
                                  F.col("q_norm"), F.col("n_norm")), 6)
            .alias("cos_sim"),
        )
        .distinct()
    )
    return rank_topk(scored, k, "cos_sim")


def _ivf_assign(base: DataFrame, coefs: DataFrame, n_best: int,
                out_prefix: str, with_rank: bool = False) -> DataFrame:
    """Assign each (id, vec, nrm) row to its ``n_best`` closest
    centroids by cosine (constant |x| dropped from the argmax).

    Same bulk shape as LSH bucketing: explode once, broadcast-join the
    (d, cluster, coef, cnorm) centroid table, one codegen'd SUM per
    (id, cluster) — the centroid set stays tiny (offline k-means at
    scale), so assignment is map-side work plus one skinny shuffle.
    Ties break to the lowest cluster id, mirrored in the oracle.
    ``with_rank`` keeps the closeness rank (1 = primary cell) so
    consumers that soft-assign can still report one primary cell per
    vector without a second scoring pass."""
    ex = base.select("id", F.posexplode("vec").alias("d", "val"))
    scores = (
        ex.join(F.broadcast(coefs), "d")
        .groupBy("id", "cluster", "cnorm")
        .agg(F.sum(F.col("val") * F.col("coef")).alias("dot"))
        .select(
            "id", "cluster",
            (F.col("dot") / F.nullif(F.col("cnorm"), F.lit(0.0)))
            .alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("cluster").asc()
    )
    assigned = (
        scores.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_best)
        .select("id", "cluster", "crank")
    )
    cols = [
        F.col("id").alias(f"{out_prefix}id"),
        F.col("vec").alias(f"{out_prefix}vec"),
        F.col("nrm").alias(f"{out_prefix}norm"),
        F.col("cluster"),
    ]
    if with_rank:
        cols.append(F.col("crank"))
    return base.join(assigned, "id").select(*cols)


def _hash_order() -> list[Column]:
    """The deterministic md5 hash order over ``id`` (id tie-break):
    the order every hash-sample quantizer init and the Lloyd training
    sample are drawn in."""
    return [F.md5(F.col("id").cast("string")), F.col("id")]


def _hash_sample_coefs(base: DataFrame, n_centroids: int) -> DataFrame:
    """(cluster, cnorm, d, coef) centroid table from the deterministic
    md5 hash-sample of ``base`` (id, vec, nrm) — the shared quantizer
    init of q34/q89 (see ``ivf_flat_topk``'s docstring for why a hash
    order, not first-n ids). ``train_ivf_centroids`` starts from the
    same rows and refines them with Lloyd iterations; any (cluster,
    cnorm, d, coef) table plugs into the same consumers."""
    cent = (
        base.orderBy(*_hash_order()).limit(n_centroids)
        .withColumn(
            "cluster", F.row_number().over(Window.orderBy(*_hash_order()))
            - 1
        )
    )
    return cent.select(
        "cluster", F.col("nrm").alias("cnorm"),
        F.posexplode("vec").alias("d", "coef"),
    )


# FAISS's ``max_points_per_centroid``: k-means trains on at most this
# many points per centroid and subsamples a larger training set.
_MAX_POINTS_PER_CENTROID = 256


def _fold_dots(x, c):
    """(rows, clusters) dot products of ``x`` (rows, dim) against ``c``
    (clusters, dim), accumulated one dimension at a time from 0.0 —
    the same operation order as the ``dot`` fold, so each score is
    bit-identical to the SQL one."""
    import numpy as np

    acc = np.zeros((x.shape[0], c.shape[0]))
    for d in range(x.shape[1]):
        acc += x[:, d, None] * c[None, :, d]
    return acc


def train_ivf_centroids(
    vecs: DataFrame,
    n_centroids: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd (k-means) quantizer training: md5 hash-sample init, then
    ``n_iter`` rounds of cosine-assign + per-cluster mean. Returns the
    (cluster, cnorm, d, coef) coefficient table that
    ``ivf_flat_topk(centroid_coefs=...)`` and ``semantic_dedup``'s
    assignment consume — the "production swaps in offline k-means"
    one-line change those docstrings promise, as an operator.

    Scale shape (FAISS's k-means, Johnson et al. 2019): ONE Spark job
    takes a bounded training sample — the first
    ``256 * n_centroids`` rows in the (md5(id), id) hash order, FAISS's
    ``max_points_per_centroid`` subsample, taken as a TakeOrdered (per
    partition top rows, merged on the driver; no shuffle of the
    corpus). Its first ``n_centroids`` rows are the hash-sample init
    exactly (``_hash_sample_coefs``). The ``n_iter`` rounds then run on
    the driver in NumPy over at most ``256 * n_centroids * dim``
    doubles, so the corpus is read once, not once per round, and the
    per-round jobs and their driver round trips are gone. A corpus
    that fits the sample trains on every row (full-data Lloyd). The
    same job checks every row's vector length through an observed
    min/max of ``size(vec)``, so a ragged vector outside the sample
    still raises.

    Rules, per round: each row with a non-NULL id and vector goes to
    its cosine argmax (the constant |x| dropped), ties to the LOWEST
    cluster id; a zero-norm centroid never wins; a vector with a NULL
    element scores -Infinity everywhere (it lands in the lowest
    cluster, contributing its non-NULL elements to that cluster's
    per-dimension means). A cluster takes the per-dimension mean of
    its members, or carries its previous centroid forward when it has
    none (no vanishing cells). n_iter is a fixed bound, not a
    convergence loop. A non-NULL vector whose length differs from the
    centroids' raises.

    Determinism: scores use the ``dot`` fold's operation order and
    means sum members in hash order, so a given sample trains the same
    floats on every run. Consumers still gate on RECALL BOUNDS (q92),
    never value-hash a trained quantizer's output — unlike the
    hash-sample init, which is exactly reproducible (q34's oracle
    replays it). The query-side assignment
    (``ivf_flat_topk``/``_ivf_assign``) is untouched.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import Observation

    spark = vecs.sparkSession
    base = vecs.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    )
    # the length check is observed over every row the sample job
    # reads, not just the rows it keeps
    size = F.when(F.col("id").isNotNull() & F.col("vec").isNotNull(),
                  F.size("vec"))
    sizes = Observation()
    sample = (
        base.observe(sizes, F.min(size).alias("mn"),
                     F.max(size).alias("mx"),
                     F.min_by("id", size).alias("mn_id"),
                     F.max_by("id", size).alias("mx_id"))
        # a one-row generator hides a local relation's row count, so
        # the optimizer keeps the limit (one TakeOrdered job) instead
        # of dropping it for a three-job global sort
        .select(F.inline(F.array(F.struct("id", "vec"))))
        .orderBy(*_hash_order())
        .limit(_MAX_POINTS_PER_CENTROID * n_centroids)
        .toArrow()
    )
    vec_arr = sample.column("vec").combine_chunks()

    # centroids: {cluster: [coef per dim]} — driver-resident, tiny; a
    # NULL or empty init vector leaves its cluster out, as
    # _hash_sample_coefs' posexplode does
    cent = {c: v for c, v in
            enumerate(vec_arr.slice(0, n_centroids).to_pylist()) if v}

    def coefs_df() -> DataFrame:
        rows = []
        for c, vec in sorted(cent.items()):
            cn = sum(x * x for x in vec) ** 0.5
            rows.extend((c, cn, d, x) for d, x in enumerate(vec))
        return local_frame(
            spark, rows, "cluster int, cnorm double, d int, coef double")

    if not cent:  # empty corpus — nothing to train
        return coefs_df()
    dim = max(len(v) for v in cent.values())
    obs = sizes.get
    for n, who in ((obs["mn"], obs["mn_id"]), (obs["mx"], obs["mx_id"])):
        if n is not None and n != dim:
            raise ValueError(
                f"train_ivf_centroids: vector {who} has length {n}, "
                f"centroids have dim {dim}")

    # training rows: non-NULL id and vector, all of length dim (checked
    # above); NULL elements are masked out of scores and means
    keep = ~(sample.column("id").is_null().to_numpy()
             | vec_arr.is_null().to_numpy(zero_copy_only=False))
    flat = vec_arr.filter(pa.array(keep)).flatten()
    valid = ~flat.is_null().to_numpy(zero_copy_only=False)
    x = np.where(valid, flat.to_numpy(zero_copy_only=False),
                 0.0).reshape(-1, dim)
    valid = valid.reshape(-1, dim)
    complete = valid.all(axis=1)
    cids = sorted(cent)
    # rows scored per block: bounds the (rows, clusters) score matrix
    block = max(1, (1 << 20) // len(cids))
    for _ in range(n_iter):
        # a centroid of another length (only from a NULL-id init row)
        # scores as zero-norm: it never wins, as zip_with's NULL
        # padding made it score -Infinity
        c = np.array([cent[k] if len(cent[k]) == dim else [0.0] * dim
                      for k in cids])
        cn2 = np.zeros(len(cids))
        for d in range(dim):
            cn2 += c[:, d] * c[:, d]
        cn = np.sqrt(cn2)
        label = np.empty(len(x), dtype=np.int64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for lo in range(0, len(x), block):
                score = _fold_dots(x[lo:lo + block], c) / cn
                score[:, cn == 0.0] = -np.inf
                score[~complete[lo:lo + block]] = -np.inf
                label[lo:lo + block] = np.argmax(score, axis=1)
        sums = np.zeros((len(cids), dim))
        counts = np.zeros((len(cids), dim))
        np.add.at(sums, label, x)
        np.add.at(counts, label, valid)
        for j, k in enumerate(cids):
            if counts[j].all():
                cent[k] = (sums[j] / counts[j]).tolist()
    return coefs_df()


def ivf_flat_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_coefs: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into
    ``n_centroids`` inverted lists (each vector joins its ``n_assign``
    closest centroids), probe the ``n_probe`` closest lists per query,
    exact cosine on the probed lists only.

    ``n_assign`` is FAISS-style soft assignment — the recall knob that
    does NOT widen per-query probing: a corpus vector near a Voronoi
    boundary is indexed in each of its closest lists, so the index
    grows ``n_assign``× while query cost stays n_probe lists. On a
    corpus with real cluster structure ``n_assign=1`` already recalls
    well (neighbors share lists); on structure-poor (near-isotropic)
    embeddings recall is bounded by the candidate fraction
    ~``n_probe·n_assign/n_centroids`` no matter the quantizer — see
    SCALE.md (round 6) for the measurement, including why the round-5
    first-n-ids init reported an inflated 0.94 (evaluation queries
    WERE centroids, aligning their lists by construction).

    Centroids are a deterministic md5 hash-sample of the corpus: rank
    ids by ``md5(id)`` (id tie-break) and take the first
    ``n_centroids``. A hash order is uncorrelated with id assignment,
    so the sample spreads across the corpus the way a uniform draw
    does (the round-5 first-n-ids init inherited whatever locality the
    id space had — adjacent ids from one crawl shard made near-
    duplicate centroids and starved whole regions of lists), while
    staying oracle-replayable: DuckDB's ``md5(CAST(id AS VARCHAR))``
    orders identically. A production deployment swaps in offline
    k-means centroids (the operator only needs the (cluster, d, coef)
    table, so that swap is a one-line change).

    Scale shape: candidate volume is ~n_probe/n_centroids of the
    corpus per query; the corpus shuffles once on cluster keys, the
    probed query side broadcasts. Output schema matches cosine_topk.

    ``centroid_coefs``: optional pre-trained (cluster, cnorm, d, coef)
    quantizer table (``train_ivf_centroids``, or any offline k-means)
    — replaces the hash-sample init; ``n_centroids`` is then ignored.
    """
    base_c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    base_q = queries.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))

    coefs = (
        centroid_coefs if centroid_coefs is not None
        else _hash_sample_coefs(base_c, n_centroids)
    )

    c = _ivf_assign(base_c, coefs, n_assign, "n_")
    q = _ivf_assign(base_q, coefs, n_probe, "q_")
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            F.round(
                cosine_from_norms(F.col("q_vec"), F.col("n_vec"),
                                  F.col("q_norm"), F.col("n_norm")), 6)
            .alias("cos_sim"),
        )
    )
    if n_assign > 1:
        # a multi-assigned corpus vector can meet the same query in
        # several probed lists; identical rows, deduped before ranking
        scored = scored.distinct()
    return rank_topk(scored, k, "cos_sim")


def embedding_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs in embedding space: LSH-bucket blocking,
    then exact cosine >= threshold within buckets (a_id < b_id).

    The embedding-space analogue of MinHash near-dup: the self-join
    shuffles on bucket keys only; cosine runs on candidates. Misses
    only pairs split across buckets — acceptable at threshold ~0.99
    where sign sketches rarely differ; lower n_planes to trade cost
    for recall.
    """
    v = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumns({
        "bucket": lsh_bucket(F.col("vec"), dim, n_planes),
        "nrm": norm(F.col("vec")),
    })
    a = v.select(F.col("id").alias("a_id"), F.col("vec").alias("a_vec"),
                 F.col("nrm").alias("a_norm"), "bucket")
    b = v.select(F.col("id").alias("b_id"), F.col("vec").alias("b_vec"),
                 F.col("nrm").alias("b_norm"), "bucket")
    # cos_sim is emitted through a one-element explode: predicates do
    # not push through Generate, so the >= threshold filter lands on
    # the generator output instead of being alias-substituted back
    # into the projection — which would re-evaluate the (interpreted
    # HOF) dot-product fold once per pair in the Filter AND once in
    # the Project (same fix as dedup.jaccard_verified).
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.explode(F.array(F.round(
                cosine_from_norms(F.col("a_vec"), F.col("b_vec"),
                                  F.col("a_norm"), F.col("b_norm")), 6)))
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    threshold: float = 0.99,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_coefs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): hard-assign every embedding to its closest centroid
    by cosine, then prune within clusters — a doc is dropped iff it
    has a verified cosine >= ``threshold`` partner with a SMALLER id
    in its cluster (the repo-wide dedup convention; the paper keeps
    one representative per epsilon-ball, which this rule implements
    with a deterministic, oracle-replayable tie-break). Returns
    (id, cluster, kept) — exactly ONE row per input doc: a NULL or
    empty embedding has no defined similarity to anything, so such
    rows come back with ``cluster = -1, kept = true`` instead of
    silently vanishing through the assignment explode (a vanished
    verdict row is indistinguishable from "dropped as duplicate"
    downstream). ``dim`` is accepted for API symmetry with the other
    embedding operators and ignored (the fold-based dot needs no
    width; see ``dot``).

    vs ``embedding_neardup_pairs`` (q27): LSH buckets block on sign
    sketches — high precision at 0.99, but recall decays fast at
    moderate thresholds (a cos ~0.5 pair flips sketch bits). Centroid
    clustering is the SemDeDup answer for "semantically redundant",
    not "byte-near" — candidates are every pair in a Voronoi cell, so
    moderate-threshold pairs are found as long as they co-cluster.

    ``n_assign`` (round 7) is the FAISS-style soft-assignment recall
    knob q34 already uses for queries: each vector is indexed in its
    ``n_assign`` closest cells, so a pair straddling a Voronoi
    boundary (the paper's own documented miss) becomes a candidate as
    long as the two vectors share ANY of their cells. Candidate cost
    grows ~``n_assign``x per cell (pairs found in several shared
    cells are deduped before verification); the reported ``cluster``
    stays the PRIMARY (closest) cell, and verdicts stay one row per
    doc.

    Scale shape (the paper's own cost model): per-cluster pairwise
    cosine is O(sum c_i^2) — n_centroids grows with the corpus
    (~sqrt(N), offline k-means at scale; the deterministic md5
    hash-sample here mirrors q34's quantizer and swaps out the same
    way) so cluster size, and with it the quadratic term, stays
    bounded. The centroid table broadcasts; assignment is map-side
    plus one skinny (id, cluster) shuffle; the candidate pair join
    rides the shared ``_salted_band_join`` (cluster key = band key) so
    a hot cell spreads across the core count; the verify attaches
    vectors to CANDIDATE pairs only via two id-joins — the corpus
    never replicates and never broadcasts.

    ``centroid_coefs`` (round 8): optional pre-trained (cluster,
    cnorm, d, coef) quantizer table — ``train_ivf_centroids`` output
    or any offline k-means — replacing the hash-sample init
    (``n_centroids`` is then ignored), exactly as ``ivf_flat_topk``
    accepts. Trained cells follow the data's real cluster structure,
    so fewer true pairs straddle a Voronoi boundary at equal
    ``n_assign`` — gated with bounds on the clustered fixture (q96);
    trained-float outputs are never value-hashed (q92 rule).
    """
    from formula1_data_pipeline_spark.operators.dedup import (
        _salted_band_join,
    )

    raw = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    )
    degenerate = F.col("vec").isNull() | (F.size("vec") == 0)
    base = raw.filter(~degenerate).withColumn("nrm", norm(F.col("vec")))
    coefs = (
        centroid_coefs if centroid_coefs is not None
        else _hash_sample_coefs(base, n_centroids)
    )
    assigned = _ivf_assign(base, coefs, n_assign, "", with_rank=True)

    banded = assigned.select("id", F.col("cluster").alias("band"))
    cand = _salted_band_join(banded, banded, n_salts=32).select(
        F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id")
    )
    if n_assign > 1:
        # a pair sharing several of its soft-assigned cells surfaces
        # once per shared cell — dedup before the (expensive) verify
        cand = cand.distinct()
    # attach from base, NOT from `assigned`: a join side recomputes
    # its whole subtree, and assigned carries the centroid-assignment
    # pipeline (the dedup.py lesson — toks from docs, not from sig);
    # candidates are a subset of base ids, so this is result-identical
    vecs = base.select("id", "vec", F.col("nrm").alias("norm"))
    attached = (
        cand.join(vecs.select(F.col("id").alias("a_id"),
                              F.col("vec").alias("a_vec"),
                              F.col("norm").alias("a_norm")), "a_id")
        .join(vecs.select(F.col("id").alias("b_id"),
                          F.col("vec").alias("b_vec"),
                          F.col("norm").alias("b_norm")), "b_id")
    )
    # same generator-barrier shape as embedding_neardup_pairs: one
    # dot-product fold per pair, threshold filter on the Generate
    # output
    dropped = (
        attached.select(
            "b_id",
            F.explode(F.array(F.round(
                cosine_from_norms(F.col("a_vec"), F.col("b_vec"),
                                  F.col("a_norm"), F.col("b_norm")), 6)))
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("b_id").alias("id")).distinct()
    )
    verdicts = (
        assigned.filter(F.col("crank") == 1).select("id", "cluster")
        .join(dropped.withColumn("__dropped", F.lit(True)), "id", "left")
        .select("id", "cluster", F.col("__dropped").isNull().alias("kept"))
    )
    unassignable = raw.filter(degenerate).select(
        "id", F.lit(-1).alias("cluster"), F.lit(True).alias("kept")
    )
    return verdicts.unionByName(unassignable)

