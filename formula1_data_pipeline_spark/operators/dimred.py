"""Embedding dimensionality reduction — deterministic sparse random
projection (exact, oracle-replayable) + Gram-matrix PCA (trained).

The ANN tier (``operators/similarity.py`` / ``vecindex.py``) probes
64-dim embeddings. At 100 TB the standard preconditioning step is to
shrink the vectors first — candidate generation in a cheaper space,
exact re-rank in the original — and the two canonical reducers have
opposite determinism profiles, so both live here:

* **Sparse random projection** (Achlioptas 2003, JL lemma): project
  onto k rows of signs in {+1, -1}, scale by 1/sqrt(k). The sign
  matrix is derived from md5 over (row, col, seed) — the repo's
  standard deterministic-randomness device (q18/q80 sampling, shard
  shuffle) — so BOTH engines (and the gate oracle) reconstruct the
  identical matrix from the identical formula; no RNG state, no
  fitted parameters. Each output component is an ordered left fold
  of products (Spark ``aggregate(zip_with(...))`` == DuckDB
  ``list_reduce(list_zip(...))``, the q24 cosine discipline), so
  projected values are BIT-IDENTICAL across engines and sit under
  the full value hash. Projection is a shuffle-free codegen'd
  per-row map: 100 TB cost = one corpus scan, no exchange.

* **PCA via the Gram matrix**: one distributed aggregate pass folds
  X^T X (d x d, d=64 -> 2145 cells: 2080 upper-triangle + 64 sum
  + 1 count) with map-side partial aggregation — the shuffle
  carries <= n_tasks x 2145 tiny
  rows regardless of corpus size — then the driver eigendecomposes
  the 64x64 matrix (numpy, O(d^3) ~ microseconds) and the top-k
  eigenvectors become literal projection rows applied with the same
  fold. Eigenvectors are TRAINED floats (sum order varies with
  partitioning), so per the repo's trained/estimated-floats rule
  the gate pins exact structural facts + deterministic bounds
  booleans (orthonormality, descending eigenvalues, captured-
  variance floor), never the eigenvector values.

PCA is additionally INCREMENTAL: X^T X decomposes over row blocks,
so ``gram_mart_append`` lands each ingest batch's moment cells
under the aggmart batch-id exactly-once discipline and
``pca_fit_from_mart`` refits anytime from the landed cells without
rescanning the corpus (cell sums are floats, so mart-vs-one-shot
equality is tolerance-level, and all PCA gating stays bounds-only).
The same pass/mart also carries the d sum-vector cells and the
count cell, so CENTERED (covariance) PCA is free from the same
state — centered Gram = G - s s^T / n, and centered projection is
fold(v, c) - (c . mu) with the offset a per-component literal.

Pre-staged round 11 (third session); LANDING ROUTE: rides q24's r12
re-gate (q24 owns the exact-cosine surface, r10-gated, due r12) as
kind-discriminated legs beside the exact top-k rows: kind='rp'
(projected top-k + exact projected values under the hash) and
kind='pca' (bounds booleans, fitted FROM the mart so the
incremental path is the gated one). Draft:
tests/test_r14_gate_drafts.py.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.session import local_frame

#: seed namespace for the sign matrix; versioned so a future change
#: re-keys rather than silently re-projecting.
RP_SEED = "dimred-rp-v1"


def rp_sign(i: int, j: int, seed: str = RP_SEED) -> int:
    """The (i, j) entry of the sign matrix: +1 when the first hex
    nibble of md5("{i}|{j}|{seed}") is even, else -1. Pure function
    of the indices — both engines and the oracle SQL reconstruct it
    identically (md5 is md5 everywhere)."""
    h = hashlib.md5(f"{i}|{j}|{seed}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def rp_matrix(d: int, k: int, seed: str = RP_SEED) -> list[list[float]]:
    """k rows of d signs, as floats (+1.0/-1.0): row j dotted with a
    d-dim embedding gives projected component j (before 1/sqrt(k))."""
    return [[float(rp_sign(i, j, seed)) for i in range(d)]
            for j in range(k)]


def _fold_dot(vec, row: list[float]):
    """Ordered left fold of vec . (literal row) — delegates to
    ``similarity.dot`` so exactly ONE copy of the engine-parity-
    critical fold shape exists (init value, fold order); DuckDB twin
    is list_reduce over list_zip with the init prepended."""
    from formula1_data_pipeline_spark.operators.similarity import dot

    return dot(vec, F.array(*[F.lit(x) for x in row]))


def random_project(
    df: DataFrame,
    vec_col: str,
    d: int,
    k: int,
    out_col: str = "proj",
    seed: str = RP_SEED,
) -> DataFrame:
    """Append ``out_col``: the k-dim sparse random projection of the
    d-dim ``vec_col``, each component ``(vec . signs_j) / sqrt(k)``.
    Shuffle-free narrow projection; with k a perfect square the scale
    is exact and results are bit-identical to the oracle replay.
    Floats are upcast to double once (exactly) before the fold."""
    scale = 1.0 / math.sqrt(k)
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # loud shape guard (round-12 ADVICE, the _gram_cells twin): a
    # short or NULL-element vector would poison the folds silently.
    # A NULL VECTOR passes through as NULL components (round-12
    # ADVICE follow-up: size(NULL) is NULL, so without the explicit
    # branch the WHEN fell to the error arm with a NULL-propagated,
    # uninformative message); the size term in the message is
    # coalesced so the raise stays informative for every shape.
    vec = F.when(
        F.col(vec_col).isNull(), F.lit(None).cast("array<double>")
    ).when(
        (F.size(raw) == d)
        & (F.size(F.filter(raw, lambda x: x.isNull())) == 0),
        raw,
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"random_project: vector is not a NULL-free "
                  f"length-{d} array; size="),
            F.coalesce(F.size(raw).cast("string"), F.lit("NULL")),
        ))
    )
    comps = [(_fold_dot(vec, row) * F.lit(scale)).alias(f"_c{j}")
             for j, row in enumerate(rp_matrix(d, k, seed))]
    tmp = df.select("*", *comps)
    return tmp.select(
        *df.columns,
        F.array(*[F.col(f"_c{j}") for j in range(k)]).alias(out_col),
    )


def rp_oracle_expr(vec_sql: str, d: int, k: int,
                   seed: str = RP_SEED) -> str:
    """DuckDB twin of ``random_project``'s output column: a LIST
    expression replaying the identical folds over literal sign rows
    (the signs are embedded as literals so the SQL is self-contained
    for the driver's oracle runner). ``vec_sql`` must already be a
    DOUBLE list expression."""
    scale = repr(1.0 / math.sqrt(k))
    comps = []
    for row in rp_matrix(d, k, seed):
        lits = "[" + ", ".join(repr(x) for x in row) + "]"
        # DuckDB's list_reduce has no init-value form; prepending the
        # 0.0 init to the list replays Spark's aggregate fold exactly:
        # ((0.0 + p1) + p2) + ... in both engines.
        comps.append(
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(list_zip({vec_sql}, {lits}), "
            f"p -> p[1] * p[2])), (acc, x) -> acc + x) * {scale}"
        )
    return "[" + ", ".join(comps) + "]"


def _assemble_gram(rows, d: int) -> list[list[float]]:
    """Symmetric d x d matrix from collected (i, j, g) upper-triangle
    rows — the one assembly loop shared by the one-shot and mart
    paths."""
    gram = [[0.0] * d for _ in range(d)]
    for r in rows:
        gram[r["i"]][r["j"]] = r["g"]
        gram[r["j"]][r["i"]] = r["g"]
    return gram


def _eigh_topk(gram: list[list[float]], k: int):
    """(eigvals desc [k], components [k][d]) from a symmetric matrix
    — the one eigendecomposition block shared by the one-shot and
    mart fits."""
    import numpy as np

    vals, vecs = np.linalg.eigh(np.array(gram))  # ascending
    order = np.argsort(vals)[::-1][:k]
    eigvals = [float(vals[o]) for o in order]
    d = len(gram)
    components = [[float(vecs[i][o]) for i in range(d)] for o in order]
    return eigvals, components


def _moments(df: DataFrame, vec_col: str, d: int):
    """(gram, sum vector, n) from the one-pass moment cells."""
    gram_rows, s, n = _split_moments(
        _gram_cells(df, vec_col, d).collect(), d)
    return _assemble_gram(gram_rows, d), s, n


def gram_matrix(df: DataFrame, vec_col: str, d: int) -> list[list[float]]:
    """X^T X as a d x d python matrix, from ONE distributed pass:
    explode the upper-triangle (i, j, v_i * v_j) cells per row and
    sum per cell. Map-side partial aggregation bounds the shuffle at
    n_tasks x (d(d+1)/2 + d + 1) rows — corpus-size-independent —
    and the driver result is d^2 doubles. NULL vectors are skipped."""
    return _moments(df, vec_col, d)[0]


def pca_fit(df: DataFrame, vec_col: str, d: int, k: int,
            center: bool = False):
    """Top-k principal directions. Returns (eigvals desc [k],
    components [k][d]) — driver-resident trained floats (d x d eigh
    on the one moment pass). ``center=False`` (default) fits the
    uncentered Gram (a.k.a. latent semantic projection, the common
    retrieval preconditioner); ``center=True`` fits the centered
    Gram C = G - s s^T / n — canonical covariance PCA — derived
    from the SAME pass via the sum-vector/count cells (no extra
    corpus read; pair with ``pca_project(..., mean=...)``)."""
    gram, s, n = _moments(df, vec_col, d)
    return _eigh_topk(_center_gram(gram, s, n) if center else gram, k)


def pca_fit_full(df: DataFrame, vec_col: str, d: int, k: int,
                 center: bool = False):
    """(eigvals, components, mean) from ONE moment pass — the entry
    point for the centered workflow (``pca_project(...,
    mean=mean)``); calling ``pca_fit`` + ``pca_mean`` separately
    would run the distributed pass twice."""
    gram, s, n = _moments(df, vec_col, d)
    if n == 0:
        raise ValueError("pca_fit_full: no non-NULL vectors")
    ev, comps = _eigh_topk(
        _center_gram(gram, s, n) if center else gram, k)
    return ev, comps, [x / n for x in s]


def pca_mean(df: DataFrame, vec_col: str, d: int) -> list[float]:
    """The mean vector from a STANDALONE moment pass. When you also
    need the fit, use ``pca_fit_full`` — it returns the mean from
    the same single pass instead of re-scanning the corpus."""
    _, s, n = _moments(df, vec_col, d)
    if n == 0:
        raise ValueError("pca_mean: no non-NULL vectors")
    return [x / n for x in s]


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    d: int,
    k_proj: int = 16,
    n_candidates: int = 30,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = RP_SEED,
    round_dp: int = 6,
) -> DataFrame:
    """Two-stage ANN via the random projection: candidate generation
    by cosine in the k_proj-dim JL space (d/k_proj x fewer
    multiply-adds per pair on the corpus-sized scan), exact re-rank
    of the ``n_candidates`` survivors in the original space. Output:
    q_id, n_id, cos_sim, rank (the ``cosine_topk`` shape).

    The distinguishing property vs the LSH/IVF tier: FULLY
    DETERMINISTIC AND ORACLE-REPLAYABLE. Projections are
    bit-identical cross-engine (module docstring), sqrt and division
    are IEEE correctly-rounded, and scores round to ``round_dp``
    before ranking with an id tiebreak — so the entire two-stage
    output sits under a full value hash, where LSH/IVF gate recall
    bounds only. Scale shape: one projected corpus scan against a
    broadcast query side, a NARROW candidate window (ids + score
    only), then a second corpus scan with the candidate pairs
    broadcast to fetch vectors for the exact fold — candidates-only
    re-rank, no vector ever rides a pairs-sized shuffle (measured:
    the carry-vectors form was 2x slower than exact; this form beats
    exact from ~300 queries up and scales flat in |Q|, SCALE.md).

    Recall honesty: JL preserves distances to (1 +- eps), eps ~
    sqrt(8 ln n / k_proj) — candidate generation recovers true
    neighbors only where inter-point margins exceed eps. On
    clustered corpora recall@5 >= 0.9 at n_candidates=30
    (test-pinned); on near-isotropic data the margins sit below eps
    and n_candidates must grow accordingly (measured curve in
    tests/test_dimred.py)."""
    from formula1_data_pipeline_spark.operators.similarity import (
        _as_double,
        cosine_from_norms,
        norm,
        rank_topk,
    )

    # norms precomputed per VECTOR (projected and original) — never
    # per pair, the similarity.dot discipline. The candidate stage
    # carries ONLY (q_id, n_id, proj_cos) through its window — an
    # earlier draft carried both 64-dim vectors per PAIR through the
    # candidate exchange and measured 2x SLOWER than the exact scan
    # at 10x corpus (|pairs| x 128 doubles shuffled); the re-rank
    # instead re-fetches vectors with a candidates-broadcast join
    # back to the corpus (candidates are |Q| x n_candidates rows —
    # tiny), trading one extra corpus scan for a pairs-sized shuffle.
    cp = random_project(corpus, vec_col, d, k_proj, out_col="_proj",
                        seed=seed).select(
        F.col(id_col).alias("n_id"),
        F.col("_proj").alias("n_proj"),
    ).withColumn("n_pnorm", norm(F.col("n_proj")))
    qp = random_project(queries, vec_col, d, k_proj, out_col="_proj",
                        seed=seed).select(
        F.col(id_col).alias("q_id"),
        F.col("_proj").alias("q_proj"),
    ).withColumn("q_pnorm", norm(F.col("q_proj")))

    cand = rank_topk(
        cp.join(F.broadcast(qp), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            F.round(
                cosine_from_norms(F.col("q_proj"), F.col("n_proj"),
                                  F.col("q_pnorm"), F.col("n_pnorm")),
                round_dp,
            ).alias("proj_cos"),
        ),
        n_candidates, "proj_cos",
    ).select("q_id", "n_id")
    cf = corpus.select(
        F.col(id_col).alias("n_id"),
        _as_double(F.col(vec_col)).alias("n_vec"),
    ).withColumn("n_norm", norm(F.col("n_vec")))
    qf = queries.select(
        F.col(id_col).alias("q_id"),
        _as_double(F.col(vec_col)).alias("q_vec"),
    ).withColumn("q_norm", norm(F.col("q_vec")))
    return rank_topk(
        cf.join(F.broadcast(cand), "n_id")
        .join(F.broadcast(qf), "q_id")
        .select(
            "q_id", "n_id",
            F.round(
                cosine_from_norms(F.col("q_vec"), F.col("n_vec"),
                                  F.col("q_norm"), F.col("n_norm")),
                round_dp,
            ).alias("cos_sim"),
        ),
        top_k, "cos_sim",
    )


#: sentinel j for the sum-vector cells (i, _SUM_J, sum v_i) and the
#: count cell (_SUM_J, _SUM_J, n) that ride the gram explode — the
#: extra d + 1 cells per pass that make CENTERED PCA derivable from
#: the same landed state (centered Gram = G - s s^T / n).
_SUM_J = -1


def _gram_cells(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """(i, j, g) partial sums for one batch from ONE explode +
    groupBy pass: the d(d+1)/2 upper-triangle Gram cells, plus the d
    sum-vector cells at j = _SUM_J and the count cell at
    (_SUM_J, _SUM_J) — everything a centered or uncentered fit
    needs. Kept as a frame so it can either collect (one-shot fit)
    or land (the mart)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = F.col("v")
    gram = F.flatten(F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.transform(
            F.sequence(i, F.lit(d - 1)),
            lambda j: F.struct(
                i.alias("i"), j.alias("j"),
                (F.element_at(v, i + 1)
                 * F.element_at(v, j + 1)).alias("x"),
            ),
        ),
    ))
    sums = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.struct(
            i.alias("i"), F.lit(_SUM_J).alias("j"),
            F.element_at(v, i + 1).alias("x"),
        ),
    )
    count = F.array(F.struct(
        F.lit(_SUM_J).alias("i"), F.lit(_SUM_J).alias("j"),
        F.lit(1.0).alias("x"),
    ))
    # loud shape guard (round-12 ADVICE): a vector shorter than d (or
    # holding NULL elements) would make element_at yield NULLs whose
    # products F.sum silently DROPS — the landed mart undercounts with
    # no error and is undetectable post-fold. Raise at the input edge
    # instead, the module's loud-failure style.
    good = (
        (F.size(vec) == d)
        & (F.size(F.filter(vec, lambda x: x.isNull())) == 0)
    )
    checked = F.when(good, vec).otherwise(
        F.raise_error(F.concat(
            F.lit(f"_gram_cells: vector is not a NULL-free length-{d} "
                  "array — a short/NULL vector would silently "
                  "undercount the Gram mart; size="),
            F.size(vec).cast("string"),
        ))
    )
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(checked.alias("v"))
        .select(F.explode(
            F.concat(gram, sums, count)).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(F.sum("c.x").alias("g"))
    )


def _split_moments(rows, d: int):
    """(gram rows, sum vector, n) from collected moment cells."""
    gram_rows = [r for r in rows if r["j"] != _SUM_J]
    s = [0.0] * d
    n = 0.0
    for r in rows:
        if r["j"] == _SUM_J:
            if r["i"] == _SUM_J:
                n = r["g"]
            else:
                s[r["i"]] = r["g"]
    return gram_rows, s, n


def _center_gram(gram: list[list[float]], s: list[float],
                 n: float) -> list[list[float]]:
    """Centered Gram C = G - s s^T / n (== n x covariance): the
    driver-side arithmetic that makes centered PCA come from the
    same landed moments. Raises on n == 0 — an empty/all-NULL input,
    or a gram mart written before the sum/count cells existed (a
    legacy mart has no count cell; rebuild it — a MIXED mart, some
    batches pre-dating the cells, cannot be detected post-fold and
    must likewise be rebuilt, see ``gram_mart_append``)."""
    if n == 0:
        raise ValueError(
            "centered fit needs the count cell (n > 0): empty input, "
            "or a gram mart written before sum/count cells — rebuild")
    d = len(gram)
    return [[gram[i][j] - s[i] * s[j] / n for j in range(d)]
            for i in range(d)]


def gram_mart_append(
    spark,
    batch: DataFrame,
    mart_dir: str,
    vec_col: str,
    d: int,
    batch_id: str,
) -> int:
    """Fold a batch's Gram contribution into a persisted mart: ONE
    pass produces the batch's d(d+1)/2 upper-triangle cell sums,
    landed marker-last under the caller's ``batch_id`` (exactly-once
    via an O(1) marker existence probe — Gram cells ADD, so
    re-delivery must be caught; the ``aggmart`` discipline). Returns
    cells appended (0 on re-delivery or an empty batch).

    This is what makes PCA INCREMENTAL at 100 TB: X^T X decomposes
    over row blocks, so per-ingest-batch appends of 2145 tiny cells
    let ``pca_fit_from_mart`` refit anytime without rescanning
    landed data. Cell sums are floats folded in batch/partition
    order, so a mart-refit equals a full-corpus fit only to
    float-sum tolerance — gates bound PCA structure, never hash it
    (module docstring).

    The segment attempt id is batch_id + a fresh uuid (the
    bm25/aggmart discipline): a crash between the cells append and
    the marker append leaves rows that stay uncommitted forever —
    a retry under the bare batch_id would retroactively bless them
    and double-count the batch's X^T X contribution."""
    import uuid

    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
        txn_append,
    )

    cells_t = f"{mart_dir}/cells"
    commits_t = f"{mart_dir}/commits"
    if is_txn_table(spark, commits_t):
        commits = read_table(spark, commits_t)
        if "batch_id" not in commits.columns:
            raise ValueError(
                "gram_mart_append: commits table has no batch_id "
                "column — a mart written by the pre-release format; "
                "rebuild it (it also predates the sum/count cells a "
                "centered fit needs)")
        if commits.filter(
                F.col("batch_id") == batch_id).limit(1).count():
            return 0
    attempt = f"{batch_id}~{uuid.uuid4().hex[:12]}"
    seg = (_gram_cells(batch, vec_col, d)
           .withColumn("attempt", F.lit(attempt)))
    seg = seg.persist()
    try:
        n_cells = seg.count()
        if n_cells == 0:
            return 0
        txn_append(spark, seg, cells_t)
        txn_append(spark,
                   local_frame(
                       spark, [(attempt, batch_id)],
                       "attempt string, batch_id string"),
                   commits_t)
        return n_cells
    finally:
        seg.unpersist()


def moments_from_mart(spark, mart_dir: str, d: int):
    """(gram, sum vector, n) folded from LANDED cells only
    (committed attempts; the corpus is never read — the mart is
    |cells| x |batches| tiny rows, 2145 per batch at d=64)."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        _committed_attempts,
    )
    from formula1_data_pipeline_spark.sources.txn import read_table

    committed = _committed_attempts(spark, mart_dir)
    rows = (
        read_table(spark, f"{mart_dir}/cells")
        .filter(F.col("attempt").isin(committed or ["-"]))
        .groupBy("i", "j").agg(F.sum("g").alias("g"))
        .collect()
    )
    gram_rows, s, n = _split_moments(rows, d)
    return _assemble_gram(gram_rows, d), s, n


def gram_from_mart(spark, mart_dir: str, d: int) -> list[list[float]]:
    """X^T X folded from LANDED cells only (see moments_from_mart)."""
    return moments_from_mart(spark, mart_dir, d)[0]


def pca_fit_from_mart(spark, mart_dir: str, d: int, k: int,
                      center: bool = False):
    """``pca_fit`` from the landed Gram mart — identical driver-side
    eigh, zero corpus reads. Refitting after N ingest batches costs
    one fold over N x 2145 tiny rows. ``center=True`` fits the
    centered Gram from the same landed moments (the sum-vector /
    count cells every append already lands)."""
    gram, s, n = moments_from_mart(spark, mart_dir, d)
    return _eigh_topk(_center_gram(gram, s, n) if center else gram, k)


def pca_project(
    df: DataFrame,
    vec_col: str,
    components: list[list[float]],
    out_col: str = "pca",
    mean: list[float] | None = None,
) -> DataFrame:
    """Append ``out_col``: projection onto the fitted components —
    the same shuffle-free literal-row fold as ``random_project``
    (components are trained, so downstream gates bound, never hash,
    these values). For a centered fit pass ``mean``: projecting
    (v - mu) onto row c is fold(v, c) - (c . mu), and the second
    term is a per-component CONSTANT — centering costs one literal
    subtraction per component, never a second fold."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if mean is not None:
        offsets = [sum(c * m for c, m in zip(row, mean))
                   for row in components]
        comps = [(_fold_dot(vec, row) - F.lit(off)).alias(f"_p{j}")
                 for j, (row, off)
                 in enumerate(zip(components, offsets))]
    else:
        comps = [_fold_dot(vec, row).alias(f"_p{j}")
                 for j, row in enumerate(components)]
    tmp = df.select("*", *comps)
    return tmp.select(
        *df.columns,
        F.array(*[F.col(f"_p{j}")
                  for j in range(len(components))]).alias(out_col),
    )
