"""Diversity selection — greedy k-center (farthest-point traversal)
over an embedding column.

Curation pipelines complement DEDUP (drop near-identical docs: q21,
q89/q96) with DIVERSITY selection: choose k exemplars that cover the
embedding space, the classic 2-approximation greedy for the k-center
objective (Gonzalez 1985, "Clustering to minimize the maximum
intercluster distance") used for coreset construction and
diverse-subset curation of training corpora.

Algorithm: seed with the smallest-id vector; each round picks the
point FARTHEST (max over points of min over selected centers of
cosine distance) from the selected set. k rounds, each ONE
TakeOrdered pass over the corpus — the repo's Lloyd/BPE/logreg
trainer shape: selection state lives on the driver (k ids + k
vectors, a bounded scalar), enters each round's plan as literals,
and no round's plan depends on the previous round's plan (constant
plan depth; fresh shallow TakeOrdered per round).

Determinism (cross-engine): per-center cosine folds sequentially in
double (the q24-gated discipline — Spark ``aggregate`` ≡ DuckDB
``list_reduce``) and rounds to 6 dp BEFORE the max/argmax, so both
engines compare identical doubles; argmax ties break on vec_id;
already-selected ids are excluded so duplicate vectors can never
re-pick a center. The selected set therefore value-hash-gates
(unlike Lloyd's float-accumulating centroids, which bounds-gate).

Scale: each round scans once, computes k_selected rounded cosines
per row (literal centers — no join, no shuffle), and TakeOrdered
keeps one row per partition then one at the driver. Total cost
O(k · corpus) scans with map-side top-1, the known k-center bound;
for k beyond a few hundred, switch to IVF-bucketed candidate
pruning (``similarity.train_ivf_centroids``'s cells) — documented
seam, same greedy semantics.

Not in the reference; SURVEY §2.12 extension charter. Pre-staged in
round 9 (parity draft in tests/test_r10_gate_drafts.py); catalog row
rides a later gate per the CHANGELOG landing plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.similarity import (
    _as_double,
    norm,
)


def _sim_to(center_vec: list[float]) -> Column:
    """round(cosine(row_vec, literal center), 6) — operand-identical
    to the oracle's list_reduce fold (dot in sequential double fold;
    the center's norm is folded JVM-side from the same literals, so
    even its rounding history matches)."""
    c = F.array(*[F.lit(float(x)) for x in center_vec])
    num = F.aggregate(
        F.zip_with(F.col("_v"), c, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(num / F.nullif(F.col("_nv") * norm(c), F.lit(0.0)), 6)


def kcenter_centers(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    incremental: bool = False,
) -> list[tuple[int, object, float | None, list[float]]]:
    """Driver-resident greedy selection (the train_logreg convention:
    trainers return plain Python state, query wrappers frame it).
    Returns [(rank, id, min_dist, vec)] with ``min_dist`` the cosine
    distance (1 - max rounded similarity) from the pick to the set
    selected before it — the k-center coverage radius trace, NULL for
    the seed — and ``vec`` the center's vector (k · dim doubles of
    driver state, the Lloyd bound). Fewer than k rows come back when
    the corpus runs out.

    Zero-norm vectors are EXCLUDED up front (visible policy, not an
    ordering accident): cosine to them is undefined (the nullif
    guard yields NULL), and the two engines disagree on how
    greatest()/max() treat NULL operands — a zero vector in the
    corpus would silently desynchronize the trace from its oracle.

    Two value-identical cost shapes (min over a set ≡ left-fold of
    pairwise mins on the same rounded operands; equivalence
    property-tested):

    * ``incremental=False`` (default) — stateless: round r
      re-evaluates all r selected centers per point (k²/2 folds
      total) but touches NO extra storage; the right trade for
      small k, where fold cost is trivia and materialization churn
      dominates (measured 2x faster at k=8).
    * ``incremental=True`` — the classic farthest-point form: the
      running min-distance is MAINTAINED as a materialized column
      and each round folds in only the NEWEST center
      (``least(dmin, 1 - sim_to(newest))``) — ONE fold per point
      per round (k folds total), at the price of one corpus-sized
      ``localCheckpoint`` per round (lineage truncation — the BPE
      checkpointing lesson: the chained filter+least otherwise
      grows the logical plan O(k), analysis cost O(k²)). The right
      trade once k reaches the hundreds (measured: k=32 costs only
      ~1.5x k=8 under this form). Beyond a few hundred centers,
      the real answer is IVF-bucketed candidate pruning — the
      documented seam in the module header."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    base = emb.select(
        F.col(id_col).alias("_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_nv", norm(F.col("_v"))) \
        .filter(F.col("_nv") > 0)
    if incremental:
        return _kcenter_incremental(base, k)
    return _kcenter_stateless(base, k)


def _kcenter_stateless(base: DataFrame, k: int):
    base = base.persist()
    try:
        seed = base.orderBy("_id").limit(1).collect()
        if not seed:
            return []
        out = [(0, seed[0]["_id"], None, list(seed[0]["_v"]))]
        for r in range(1, k):
            vecs = [v for _, _, _, v in out]
            d = F.lit(1.0) - F.greatest(*[_sim_to(v) for v in vecs]) \
                if len(vecs) > 1 else F.lit(1.0) - _sim_to(vecs[0])
            rows = (
                base.filter(~F.col("_id").isin([i for _, i, _, _ in out]))
                .select("_id", "_v", d.alias("_d"))
                .orderBy(F.desc("_d"), F.asc("_id"))
                .limit(1)
                .collect()
            )
            if not rows:
                break
            out.append((r, rows[0]["_id"], float(rows[0]["_d"]),
                        list(rows[0]["_v"])))
        return out
    finally:
        base.unpersist()


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``-ed frame's executor storage blocks
    NOW instead of waiting for the driver's ContextCleaner to GC the
    dropped reference (round-9 ADVICE: k rounds otherwise accumulate
    up to k corpus-sized block sets). The checkpointed plan is a
    ``LogicalRDD`` holding the persisted internal RDD — unpersist
    that directly; if the internal shape ever changes, fall back to
    the GC path rather than fail (blocking=False either way)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # JVM-internal seam moved: leave cleanup to ContextCleaner


def _kcenter_incremental(base: DataFrame, k: int):
    state = base.withColumn(
        "_dmin", F.lit(None).cast("double")
    ).persist()
    first = state
    try:
        seed = state.orderBy("_id").limit(1).collect()
        if not seed:
            return []
        out = [(0, seed[0]["_id"], None, list(seed[0]["_v"]))]
        for r in range(1, k):
            newest = out[-1]
            d_new = F.lit(1.0) - _sim_to(newest[3])
            nxt = state.filter(F.col("_id") != F.lit(newest[1])) \
                .withColumn(
                    "_dmin", F.least(F.coalesce("_dmin", d_new), d_new)
                ).localCheckpoint(eager=False)
            rows = (
                nxt.select("_id", "_v", "_dmin")
                .orderBy(F.desc("_dmin"), F.asc("_id"))
                .limit(1)
                .collect()
            )
            # the TakeOrdered above computed every partition, so the
            # new checkpoint is fully materialized — the superseded
            # round's blocks can be released immediately
            if state is first:
                state.unpersist()
            else:
                _release_local_checkpoint(state)
            state = nxt
            if not rows:
                break
            out.append((r, rows[0]["_id"], float(rows[0]["_dmin"]),
                        list(rows[0]["_v"])))
        return out
    finally:
        if state is first:
            state.unpersist()
        else:
            _release_local_checkpoint(state)


def kcenter_assign(
    emb: DataFrame,
    centers: list[tuple[int, object, float | None, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest selected center (max
    rounded cosine; ties take the lowest rank — the first-match CASE
    ladder makes that explicit). A shuffle-free projection: centers
    enter as literals, so assigning a 100 TB corpus is one narrow
    scan. ``centers`` is :func:`kcenter_centers`'s return value.

    Zero-norm vectors keep their row with (center_rank NULL,
    cos_sim NULL) — cosine to them is undefined, and assignment must
    preserve the input rowset (the q89 one-row-per-input contract);
    an oracle for this frame must spell the same NULL rule out.

    Shape note: the argmax is ``array_max`` over (sim, -rank)
    structs, NOT a greatest() + CASE ladder — the ladder re-evaluates
    every cosine fold in each branch (k² fold evaluations per row and
    a codegen blow-up measured at ~7x wall time for k=8); the struct
    array evaluates each fold exactly once, and struct ordering
    (sim first, then -rank) reproduces the lowest-rank tie rule."""
    if not centers:
        raise ValueError("centers must be non-empty")
    base = emb.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_nv", norm(F.col("_v")))
    best = F.array_max(F.array(*[
        F.struct(_sim_to(vec).alias("s"), F.lit(-rank).alias("nr"))
        for rank, _, _, vec in centers
    ]))
    ok = F.col("_nv") > 0
    return base.select(
        id_col,
        F.when(ok, -best["nr"]).cast("int").alias("center_rank"),
        F.when(ok, best["s"]).alias("cos_sim"),
    )
