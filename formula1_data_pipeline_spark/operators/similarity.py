"""Embedding similarity search (SURVEY.md §2.12 mandate).

- **cosine_topk** — brute-force exact top-k: broadcast the (small)
  query set against the corpus; per-row dot/norm as JVM fold
  expressions (sequential double accumulation — deterministic and
  oracle-matchable); rank per query. The correctness baseline.
- **ann_lsh_topk** — the scale path: random-hyperplane LSH buckets
  (sign-bit sketch from deterministic per-dimension hashes), candidates
  = same-bucket pairs, exact cosine on candidates only. At 100 TB the
  corpus shuffles once on bucket keys instead of cross-joining.

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
    return spark.createDataFrame(rows, "d int, plane int, coef double")


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


def _hash_sample_coefs(base: DataFrame, n_centroids: int) -> DataFrame:
    """(cluster, cnorm, d, coef) centroid table from the deterministic
    md5 hash-sample of ``base`` (id, vec, nrm) — the shared quantizer
    init of q34/q89 (see ``ivf_flat_topk``'s docstring for why a hash
    order, not first-n ids). ``train_ivf_centroids`` refines it with
    Lloyd iterations; any (cluster, cnorm, d, coef) table plugs into
    the same consumers."""
    hrank = [F.md5(F.col("id").cast("string")), F.col("id")]
    cent = (
        base.orderBy(*hrank).limit(n_centroids)
        .withColumn(
            "cluster", F.row_number().over(Window.orderBy(*hrank)) - 1
        )
    )
    return cent.select(
        "cluster", F.col("nrm").alias("cnorm"),
        F.posexplode("vec").alias("d", "coef"),
    )


def train_ivf_centroids(
    vecs: DataFrame,
    n_centroids: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd (k-means) quantizer training: md5 hash-sample
    init, then ``n_iter`` rounds of cosine-assign + per-cluster mean.
    Returns the (cluster, cnorm, d, coef) coefficient table that
    ``ivf_flat_topk(centroid_coefs=...)`` and ``semantic_dedup``'s
    assignment consume — the "production swaps in offline k-means"
    one-line change those docstrings promise, as an operator.

    Scale shape (the MLlib KMeans pattern): per iteration ONE
    assignment pass over the corpus (explode + broadcast centroid
    join + codegen'd SUM per (id, cluster) — map-side work plus a
    skinny shuffle) and ONE per-cluster mean aggregation (map-side
    partial agg; ships n_centroids x dim partial sums). Centroids
    live on the driver between iterations — n_centroids x dim doubles,
    a bounded scalar at any corpus size since n_centroids ~ sqrt(N)
    stays quantizer-sized — so the lazy plan never deepens with
    iterations. Clusters that lose every member carry their previous
    centroid forward (no vanishing cells). n_iter is a fixed bound,
    not a convergence loop. A non-NULL vector whose length differs
    from the centroids' raises in the first round's assignment.

    Determinism: mean aggregation is IEEE-double and partial-sum
    order depends on partitioning, so trained centroids can differ in
    final ulps between runs. Consumers must gate on RECALL BOUNDS
    (q92), never value-hash a trained quantizer's output — unlike the
    hash-sample init, which is exactly reproducible (q34's oracle
    replays it).

    Per-round shape (r15 optimization, guide §1.2/§2.4): centroids
    are driver-resident anyway, so the assignment argmax is ONE
    codegen'd projection over literal centroid coordinates (a SQL
    string — one parse, no py4j chatter, no per-round
    ``createDataFrame`` Python-RDD leg) and the means are ONE
    groupBy(cluster) with a per-dimension ``avg`` — per round one job
    of two stages instead of the r14 pipeline's explode + broadcast
    centroid join + (id, cluster) aggregate + window argmax + join-
    back (three extra shuffles per round, measured 3-4x the per-round
    wall). Semantics preserved exactly where defined: cosine argmax
    with ties to the LOWEST cluster id (struct-max on (score, -c)),
    zero-norm centroids never win (score -Infinity, like the old
    NULL-score sort), empty clusters carry their previous centroid
    forward. Trained floats remain bounds-gated everywhere, so the
    changed partial-sum ORDER inside dot/means is within contract.
    The query-side assignment (``ivf_flat_topk``/``_ivf_assign``) is
    untouched — q34's oracle replays that path exactly.
    """
    import math

    spark = vecs.sparkSession
    base = vecs.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))

    # centroids: {cluster: [coef per dim]} — driver-resident, tiny
    cent: dict[int, list[float]] = {}
    for r in _hash_sample_coefs(base, n_centroids).collect():
        cent.setdefault(r["cluster"], {})[r["d"]] = r["coef"]
    cent = {c: [dd[d] for d in sorted(dd)] for c, dd in cent.items()}

    def coefs_df() -> DataFrame:
        rows = []
        for c, vec in sorted(cent.items()):
            cn = sum(x * x for x in vec) ** 0.5
            rows.extend((c, cn, d, x) for d, x in enumerate(vec))
        return spark.createDataFrame(
            rows, "cluster int, cnorm double, d int, coef double"
        )

    if not cent:  # empty corpus — nothing to train
        return coefs_df()
    dim = max(len(v) for v in cent.values())
    neg_inf = "CAST('-Infinity' AS DOUBLE)"

    def dlit(x: float) -> str:
        # repr of a non-finite double is not a valid SQL literal
        # (the classify.py lesson); centroids are data means, so
        # non-finite only under non-finite inputs — still parse
        if math.isfinite(x):
            return repr(x) + "D"
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"

    for _ in range(n_iter):
        structs = []
        for c, cvec in sorted(cent.items()):
            cn = math.sqrt(sum(x * x for x in cvec))
            if cn == 0.0:
                score = neg_inf
            else:
                # dot as a fold over a literal ARRAY, not an unrolled
                # vec[d]*lit sum: the unrolled form built a
                # n_centroids x dim one-expression tree (~16k nodes at
                # 16x64 — the q55 giant-tree trap; measured q34 14 ->
                # 40 s), while the array literal lands in the
                # references and the tree stays constant-size per
                # cluster. Interpreted per-row eval is the q99 trade,
                # documented there; a scan-CPU-bound deployment routes
                # training assignment through _ivf_assign instead
                # (the pre-r15 form, still the probe path)
                lits = ", ".join(dlit(x) for x in cvec)
                score = (
                    f"coalesce(aggregate(zip_with(vec, array({lits}),"
                    f" (x, c) -> x * c), 0.0D, (a, v) -> a + v)"
                    f" / {dlit(cn)}, {neg_inf})")
            structs.append(
                f"named_struct('s', {score}, 'nc', {-c})")
        argmax = f"(-array_max(array({', '.join(structs)})).nc)"
        # a vector of another length would be NULL-padded by zip_with,
        # score -Infinity everywhere and land in cluster 0 unnoticed —
        # fail inside the same projection instead (no extra job); a
        # NULL vector keeps its NULL-score path and never reaches a mean
        cluster = (
            f"CASE WHEN vec IS NOT NULL AND size(vec) != {dim} THEN "
            f"raise_error(concat('train_ivf_centroids: vector ', "
            f"CAST(id AS STRING), ' has length ', "
            f"CAST(size(vec) AS STRING), ', centroids have dim {dim}')) "
            f"ELSE {argmax} END")
        # the old join-back dropped NULL-id rows from the means; the
        # projection form must exclude them the same way
        assigned = base.filter(F.col("id").isNotNull()).selectExpr(
            f"{cluster} AS cluster", "vec")
        means = assigned.groupBy("cluster").agg(
            *[F.avg(F.col("vec")[d]).alias(f"_m{d}")
              for d in range(dim)])
        for r in means.collect():  # <= n_centroids rows
            ms = [r[f"_m{d}"] for d in range(dim)]
            if r["cluster"] in cent and all(m is not None for m in ms):
                cent[r["cluster"]] = ms
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

