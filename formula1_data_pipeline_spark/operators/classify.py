"""Distributed logistic-regression training — a trained quality
classifier for corpus filtering.

Production pretraining pipelines filter with a TRAINED quality model
(a fastText/logistic classifier fit to exemplar labels), not only
hand-written heuristics: the heuristic (q25) bootstraps labels, the
classifier generalizes them. This module trains the classifier the
same way every iterative trainer in this repo works (the Lloyd /
BPE-trainer shape): model state lives on the driver (n_features + 1
doubles — a bounded scalar), and each iteration is ONE map-side
partial-aggregated pass over the corpus computing the full-batch
gradient — no per-row Python, no MLlib dependency, plan depth
constant per iteration (the weight vector enters the plan as
literals, so each pass is a fresh shallow aggregate).

Gradient math: batch gradient descent on log-loss —
``grad_j = sum_i (sigmoid(w.x_i + b) - y_i) * x_ij`` — all computed
as codegen'd column expressions (one fused aggregate emits every
gradient component plus the loss count in a single job).

Determinism: float partial sums depend on partitioning order, so a
trained model is gated with BOUNDS (holdout accuracy floors, q92
rule), never value-hashed. Deterministic train/test membership comes
from the repo's md5 hash split (``sampling.hash_bucket``), so the
evaluation set is engine-reproducible even though the weights are
not bit-pinned.

Reference parity note: /root/reference has no ML surface; this is
part of the SURVEY §2.12 training-data-pipeline mandate (quality
scoring, trained tier).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 30,
    lr: float = 1.0,
) -> tuple[list[float], float]:
    """Full-batch gradient-descent logistic regression over
    ``feature_cols`` (numeric, ideally ~[0, 1] scaled) against the
    boolean/0-1 ``label_col``. Returns (weights, bias).

    One aggregation pass per iteration: the current weights are
    baked in as literals, sigmoid + per-feature gradient terms run
    JVM-side, and one job returns n_features + 2 doubles to the
    driver. ``n_iter`` is a fixed bound, not a convergence loop
    (the Lloyd rule: iteration count is a plan-visible constant).

    Rows with a NULL feature or label are dropped IN the trainer
    (round-8 ADVICE, landed with q99's round-10 re-gate): ``sum()``
    skips NULL terms while ``n`` counts every row, so without the
    filter a NULL silently shrinks the effective gradient instead of
    erroring. The filter is one codegen'd predicate fused into each
    gradient pass's scan — no extra job, no extra shuffle.

    The per-row error term is pinned behind an ``explode(array())``
    generator barrier (the q23 trick) so the sigmoid/z subtree is
    evaluated ONCE per row instead of being alias-substituted into
    all n_features+1 aggregate children — value-identical (same IEEE
    ops, same order; gradient components verified bit-equal) and
    measured ~15% per-pass at 36 features.

    Per-pass fixed cost (r14 optimization, guide §1.2 "per-task
    work"): the original expression-API pass paid ~0.7 s of FIXED
    overhead per iteration — hundreds of py4j plan-construction round
    trips for the 37-term z chain, plus a fresh Janino compile every
    pass because the weights were inlined as scalar literals in the
    generated source. Each pass now builds as ONE SQL string over a
    features-array view: the weights enter as a single
    ``array(...)`` literal whose dot product with the feature array
    is ``aggregate(zip_with(...))`` seeded with the bias — bit-
    identical z (same multiplies, same left-fold add order; pinned by
    test_classify's twin-implementation test) at ~0.25 s/pass
    (measured: 10 iterations 20.2 s -> 4.6 s cold, 2.7 s warm).
    Plan-construction is one parse instead of py4j chatter, and the
    higher-order dot product is a CodegenFallback expression — it
    lives in the codegen references array, so the compiled source is
    iteration-invariant and Janino compiles once. Scale note: the
    interpreted per-row HOF eval trades a few ns/row against the
    per-pass compile; a petabyte-scale deployment whose gradient
    pass is CPU-bound on the scan can swap z back to the fused
    expression chain without touching the math (the twin in the test
    IS that form)."""
    import math
    import uuid

    def dlit(x: float) -> str:
        # repr() of a non-finite float ('inf'/'nan') is not a valid SQL
        # double literal — an Infinity feature value (na.drop removes
        # null/NaN, not inf) would otherwise turn the NEXT pass into a
        # ParseException. The string-cast forms parse in both engines
        # and keep the F.lit-era tolerance of non-finite weights.
        if math.isfinite(x):
            return repr(x) + "D"
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        sign = "" if x > 0 else "-"
        return f"CAST('{sign}Infinity' AS DOUBLE)"

    spark = df.sparkSession
    df = df.na.drop(subset=[*feature_cols, label_col])
    nf = len(feature_cols)
    base = df.select(
        F.array(*[F.col(c).cast("double") for c in feature_cols])
        .alias("_xs"),
        F.col(label_col).cast("double").alias("_y"),
    )
    view = f"_logreg_pass_{uuid.uuid4().hex[:8]}"
    base.createOrReplaceTempView(view)
    w = [0.0] * nf
    b = 0.0
    xs_cols = ", ".join(f"_xs[{j}] AS _x{j}" for j in range(nf))
    g_cols = ", ".join(f"sum(_e * _x{j}) AS g{j}" for j in range(nf))
    try:
        for _ in range(n_iter):
            wlit = "array(" + ", ".join(
                dlit(x) for x in (*w, b)) + ")"
            z = (f"aggregate(zip_with(_xs, slice({wlit}, 1, {nf}), "
                 f"(x, wv) -> wv * x), element_at({wlit}, {nf + 1}), "
                 f"(acc, v) -> acc + v)")
            row = spark.sql(
                f"SELECT {g_cols}, sum(_e) AS gb, count(1) AS n FROM ("
                f"SELECT explode(array(1.0D / (1.0D + exp(-({z}))) "
                f"- _y)) AS _e, {xs_cols} FROM {view})"
            ).collect()[0]
            # sum() over zero rows is NULL — an empty training frame
            # (e.g. a split bucket that landed no docs) degrades to a
            # zero gradient, not a float(None) TypeError
            n = max(int(row["n"]), 1)
            w = [wi - lr * float(row[f"g{j}"] or 0.0) / n
                 for j, wi in enumerate(w)]
            b = b - lr * float(row["gb"] or 0.0) / n
    finally:
        spark.catalog.dropTempView(view)
    return w, b


def predict_proba(feature_cols: list[str], w: list[float],
                  b: float) -> Column:
    """The trained model as a codegen'd column expression — apply to
    any frame carrying the feature columns (scoring a 100 TB corpus
    is one narrow map-side projection, no shuffle)."""
    z = F.lit(b)
    for wi, c in zip(w, feature_cols):
        z = z + F.lit(wi) * F.col(c).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_features(text: Column) -> list[tuple[str, Column]]:
    """The q25 heuristic's components as separate model features
    (each already ~[0, 1]): distinct-token ratio, capped length
    ratio, in-range char length flag, plus mean token length / 10 —
    a feature the heuristic does NOT use, so the classifier has
    headroom beyond replaying the label rule."""
    from formula1_data_pipeline_spark.operators.dedup import tokens

    toks = tokens(text)
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return [
        ("f_distinct", F.when(n > 0, nd.cast("double") / n)
         .otherwise(F.lit(0.0))),
        ("f_len", F.least(F.lit(1.0), n.cast("double") / 100.0)),
        ("f_range", F.when((F.length(text) >= 50)
                           & (F.length(text) <= 5000), 1.0)
         .otherwise(0.0)),
        ("f_toklen", F.when(
            n > 0,
            F.length(F.concat_ws("", toks)).cast("double") / n / 10.0,
        ).otherwise(F.lit(0.0))),
    ]


# ---------------------------------------------------------------------------
# Hashed bag-of-words features — the fastText-style trained filter
# ---------------------------------------------------------------------------
#
# Production quality classifiers (GPT-3's WebText-vs-CommonCrawl
# filter, Brown et al. 2020 appendix A; CCNet's fastText stage,
# Wenzek et al. 2019) learn over the TEXT, not a fixed handful of
# heuristic ratios: bag-of-words/bigram counts hashed into a fixed
# feature space (the hashing trick, Weinberger et al. 2009; fastText,
# Joulin et al. 2016, arXiv 1607.01759) feeding a linear model. The
# functions below build that feature space as DataFrame operations —
# one explode + one map-side partial-aggregated groupBy, no per-row
# Python — and reuse train_logreg/predict-style scoring above, so the
# whole trained-filter path stays JVM-side.


def hashed_bow_long(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 64,
    salt: str = "bow-v1",
    include_bigrams: bool = False,
) -> DataFrame:
    """Long-form hashed bag-of-words: (id_col, bucket, cnt) — term
    occurrences of each document hashed into ``n_features`` buckets
    with the repo's one 60-bit md5 hash (engine-reproducible, so the
    feature TABLE gates under a value-hash oracle even though trained
    weights gate under bounds).

    ``include_bigrams`` adds fastText's word-bigram features
    ("w1_w2") into the same hashed space (Joulin et al. 2016 §2.1);
    a different ``salt`` decorrelates spaces across models.

    Scale shape: explode is a narrow per-row flatMap; the count is
    ONE shuffle with map-side partial aggregation keyed (doc,
    bucket) — bounded fan-in per doc (≤ n_features rows out per doc,
    whatever its length). No driver state, no window."""
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.sampling import hash_bucket

    terms = tokens(F.col(text_col))
    if include_bigrams:
        from formula1_data_pipeline_spark.operators.lm import bigrams

        bi = F.transform(
            bigrams(F.col(text_col)),
            lambda p: F.concat_ws("_", p["w1"], p["w2"]),
        )
        terms = F.concat(terms, F.coalesce(bi, F.array()))
    tok = docs.select(F.col(id_col), F.explode(terms).alias("_term"))
    return tok.groupBy(
        F.col(id_col),
        hash_bucket(F.col("_term"), salt, n_features).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def hashed_bow_dense(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 64,
    salt: str = "bow-v1",
    include_bigrams: bool = False,
) -> DataFrame:
    """Dense L1-normalized feature vectors: (id_col, features
    array<double> of length ``n_features``), features[j] = the share
    of the document's terms hashing to bucket j. Every input doc gets
    a row — term-less documents keep an all-zero vector (left join
    back to ``docs``), so downstream training/scoring frames never
    silently drop rows (the round-8 NULL-feature ADVICE class).

    Normalization is one integer/integer IEEE divide per slot —
    bit-identical across engines. The dense assembly is a row-local
    ``transform(sequence)`` over a (bucket -> cnt) map; collect_list
    order does not matter because the map is keyed."""
    long = hashed_bow_long(docs, text_col, id_col, n_features, salt,
                           include_bigrams)
    m = long.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "cnt"))
        ).alias("_m"),
        F.sum("cnt").alias("_n"),
    )
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(n_features - 1)),
        lambda i: F.when(
            F.col("_n") > 0,
            F.coalesce(
                F.element_at(F.col("_m"), i.cast("bigint")), F.lit(0)
            ).cast("double") / F.col("_n"),
        ).otherwise(F.lit(0.0)),
    )
    return (
        docs.select(id_col)
        .join(m, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                feats, F.array_repeat(F.lit(0.0), n_features)
            ).alias("features"),
        )
    )


def score_hashed_bow(
    docs: DataFrame,
    w: list[float],
    b: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "bow-v1",
    include_bigrams: bool = False,
) -> DataFrame:
    """Apply a trained hashed-BOW model: (id_col, p_keep). The dot
    product folds JVM-side (``aggregate`` over ``zip_with``) — scoring
    a 100 TB corpus is the feature build's one shuffle plus a narrow
    projection; the model enters the plan as ``len(w)`` literals."""
    dense = hashed_bow_dense(docs, text_col, id_col, len(w), salt,
                             include_bigrams)
    wlit = F.array(*[F.lit(float(wi)) for wi in w])
    z = F.lit(float(b)) + F.aggregate(
        F.zip_with(F.col("features"), wlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dense.select(
        id_col,
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p_keep"),
    )
