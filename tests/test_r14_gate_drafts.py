"""Round-12-tier gate drafts — operators pre-staged late in round 11
whose catalog landings ride CHANGED extensions of queries due in r12
(the catalog is at the 100-entry / 50-row alternation ceiling: zero
free rows, riders only). File named r14 for the fallback window: if
an r12 host's window is tight, both targets re-gate again in r14.

  * sparse random projection (``operators/dimred.py`` — Achlioptas
    JL projection with an md5-derived sign matrix; ordered-fold dot
    products make projected values BIT-IDENTICAL across engines).
    LANDING ROUTE: rides q24's r12 re-gate (q24 owns the
    exact-cosine surface, r10-gated, due r12) as kind='rp' rows
    under the full value hash.

  * Gram-matrix PCA (``dimred.py::pca_fit/pca_project`` — one
    distributed X^T X pass, driver d x d eigh). Eigenvectors are
    TRAINED floats, so the gate pins deterministic structure
    booleans (descending eigenvalues, orthonormality, captured
    variance above the isotropic floor) — the HLL est_ok
    discipline. LANDING ROUTE: q24's r12 re-gate, kind='pca' row.

  * dataset version diff (``operators/diff.py::dataset_diff`` —
    added/removed/changed via one null-safe hash-compare full outer
    join; the readable face of time travel, and ``txn_delete_keys``'
    deleted keys must surface as 'removed'). LANDING ROUTE: rides
    q75's r12 re-gate (time travel + targeted delete, r10-gated,
    due r12) as kind='diff' rows under the full value hash.

  * two-stage JL-compressed ANN (``dimred.py::rp_topk`` — narrow
    candidate window + candidates-broadcast vector re-fetch; fully
    deterministic, both stages oracle-replayed fold-for-fold).
    LANDING ROUTE: q24's r12 re-gate, kind='rp_topk' rows.

  * int8 scalar quantization (``operators/quantize.py`` — symmetric
    per-dimension max-abs scales, an order-free exact selection, so
    the CODES are bit-identical cross-engine and fully
    value-hashable where trained quantizers bound). LANDING ROUTE:
    rides q92's r13 re-gate (ANN-recall surface, r9/r11-gated, due
    r13) as kind='sq8' rows — codes under the hash + a
    deterministic reconstruction-bound boolean.

Each draft runs the full driver-style compare (schema + rows +
order-insensitive canonical values) at sf0.001 and sf0.01 — the
exact acceptance its landing round promotes into __spark_entry__.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark import queries  # noqa: F401
from formula1_data_pipeline_spark.operators import dimred as DR
from tests.oracle_compare import canon, run_oracle

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

_D, _K = 64, 16

def _rp_oracle() -> str:
    expr = DR.rp_oracle_expr(
        "list_transform(embedding, x -> CAST(x AS DOUBLE))", _D, _K)
    return f"""
    SELECT 'rp' AS kind, vec_id, {expr} AS proj FROM embeddings
    """


def _fold_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of similarity.dot's init-seeded fold."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
        f"(acc, x) -> acc + x)"
    )


def _rp_topk_oracle() -> str:
    """Full two-stage replay of rp_topk (q24 rider kind='rp_topk'):
    JL-space candidate rank -> exact re-rank, every fold/round/
    tiebreak mirrored — the one ANN whose VALUES gate, not just a
    recall bound."""
    proj = DR.rp_oracle_expr(
        "list_transform(embedding, x -> CAST(x AS DOUBLE))", _D, _K)

    def cos(a, b):
        return (f"round({_fold_dot_sql(a, b)} / nullif("
                f"sqrt({_fold_dot_sql(a, a)}) * "
                f"sqrt({_fold_dot_sql(b, b)}), 0.0), 6)")

    return f"""
    WITH c AS (
        SELECT vec_id AS n_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE))
                   AS n_vec,
               {proj} AS n_proj
        FROM embeddings
    ), q AS (
        SELECT n_id AS q_id, n_vec AS q_vec, n_proj AS q_proj
        FROM c WHERE n_id < 10
    ), s1 AS (
        SELECT q_id, n_id, q_vec, n_vec,
               {cos('q_proj', 'n_proj')} AS proj_cos
        FROM c CROSS JOIN q WHERE q_id <> n_id
    ), r1 AS (
        SELECT q_id, n_id, q_vec, n_vec,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY proj_cos DESC, n_id ASC) AS cand_rank
        FROM s1
    ), s2 AS (
        SELECT q_id, n_id, {cos('q_vec', 'n_vec')} AS cos_sim
        FROM r1 WHERE cand_rank <= 30
    ), r2 AS (
        SELECT q_id, n_id, cos_sim,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY cos_sim DESC, n_id ASC) AS rank
        FROM s2
    )
    SELECT 'rp_topk' AS kind, q_id, n_id, cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM r2 WHERE rank <= 5
    """


_PCA_ORACLE = """
SELECT 'pca' AS kind, TRUE AS eig_desc_ok, TRUE AS orthonormal_ok,
       TRUE AS variance_floor_ok, TRUE AS mart_matches_one_shot_ok
"""

def _diff_oracle() -> str:
    """q75 rider kind='diff': documents vs a deterministic mutation
    (doc_id % 11 removed, % 7 changed) — the time-travel diff report
    under the full value hash."""
    from formula1_data_pipeline_spark.operators.diff import (
        content_hash_sql,
    )

    h = content_hash_sql(["n_chars", "source", "text"])
    return f"""
    WITH old AS (
        SELECT doc_id, {h} AS old_hash FROM documents
    ), new_side AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN n_chars + 1
                    ELSE n_chars END AS n_chars,
               source, text
        FROM documents WHERE doc_id % 11 <> 0
    ), newh AS (
        SELECT doc_id, {h} AS new_hash FROM new_side
    ), j AS (
        SELECT doc_id, old_hash, new_hash
        FROM old FULL OUTER JOIN newh USING (doc_id)
    )
    SELECT 'diff' AS kind,
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash <> new_hash THEN 'changed'
           END AS status,
           doc_id, old_hash, new_hash
    FROM j WHERE (old_hash IS NULL OR new_hash IS NULL
                  OR old_hash <> new_hash)
    """


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_diff_kind(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.diff import (
        dataset_diff,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text", "n_chars")
    new = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .withColumn("n_chars",
                    F.when(F.col("doc_id") % 7 == 0,
                           F.col("n_chars") + 1)
                    .otherwise(F.col("n_chars")))
    )
    out = (dataset_diff(docs, new, ["doc_id"])
           .select(F.lit("diff").alias("kind"), "status", "doc_id",
                   "old_hash", "new_hash"))
    _compare(out, _diff_oracle(), sf_dir)


def _sq8_oracle() -> str:
    """q92 rider kind='sq8': codes for vec_id < 50 under the full
    value hash + the per-row reconstruction-bound boolean (TRUE by
    construction of the round-half interval)."""
    from formula1_data_pipeline_spark.operators.quantize import (
        sq8_encode_sql,
        sq8_scales_sql,
    )

    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH scales AS ({sq8_scales_sql(vec, "embeddings", 64)})
    SELECT 'sq8' AS kind, vec_id, {sq8_encode_sql(vec)} AS sq8,
           TRUE AS recon_ok
    FROM embeddings, scales
    WHERE vec_id < 50
    """


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_sq8_kind(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.quantize import (
        sq8_decode,
        sq8_encode,
        sq8_scales,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scales = sq8_scales(emb, "embedding", 64)
    enc = sq8_encode(emb, "embedding", scales)
    dec = sq8_decode(enc, "sq8", scales)
    # recon_ok computed engine-side from the decoded values — a
    # drifting code flips it under the hash
    bound = F.array(*[F.lit(s / 254.0 * 1.0001) for s in scales])
    err_ok = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.transform(F.col("embedding"),
                            lambda x: x.cast("double")),
                F.col("deq"), lambda v, q: F.abs(v - q)),
            bound, lambda e, b: e <= b),
        F.lit(True), lambda acc, x: acc & x,
    )
    out = (dec.filter(F.col("vec_id") < 50)
           .select(F.lit("sq8").alias("kind"), "vec_id", "sq8",
                   err_ok.alias("recon_ok")))
    _compare(out, _sq8_oracle(), sf_dir)


def _compare(spark_df, oracle_sql: str, sf_dir: str):
    sdf = spark_df.toPandas()
    odf = run_oracle(oracle_sql, sf_dir)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), (len(sdf), len(odf))
    a, b = canon(sdf), canon(odf)
    assert a == b, [(x, y) for x, y in zip(a, b) if x != y][:3]


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_rp_kind(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = (
        DR.random_project(emb, "embedding", d=_D, k=_K)
        .select(F.lit("rp").alias("kind"), "vec_id", "proj")
    )
    _compare(out, _rp_oracle(), sf_dir)


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_rp_topk_kind(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    out = (
        DR.rp_topk(emb, queries, d=_D, k_proj=_K,
                   n_candidates=30, top_k=5)
        .select(F.lit("rp_topk").alias("kind"), "q_id", "n_id",
                "cos_sim", F.col("rank").cast("int").alias("rank"))
    )
    _compare(out, _rp_topk_oracle(), sf_dir)


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_pca_bounds_kind(spark, sf_dir, tmp_path):
    """The INCREMENTAL path is the gated one: the fit consumes a
    3-batch Gram mart (with a deliberate re-delivery that must
    no-op), and a dedicated boolean pins mart-fold == one-shot
    Gram to float-sum tolerance."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 8
    mart = str(tmp_path / "gm")
    for b in range(3):
        DR.gram_mart_append(spark, emb.filter(F.col("vec_id") % 3 == b),
                            mart, "embedding", _D, f"gate-{b}")
    assert DR.gram_mart_append(
        spark, emb.filter(F.col("vec_id") % 3 == 1),
        mart, "embedding", _D, "gate-1") == 0
    ev, comps = DR.pca_fit_from_mart(spark, mart, _D, k)
    C = np.array(comps)
    g_mart = np.array(DR.gram_from_mart(spark, mart, _D))
    g_full = np.array(DR.gram_matrix(emb, "embedding", _D))
    out = spark.createDataFrame(
        [(
            "pca",
            bool(all(ev[i] >= ev[i + 1] for i in range(k - 1))),
            bool(np.allclose(C @ C.T, np.eye(k), atol=1e-8)),
            bool(sum(ev) / float(np.trace(g_mart)) > k / _D),
            bool(np.allclose(g_mart, g_full, rtol=1e-9)),
        )],
        "kind string, eig_desc_ok boolean, orthonormal_ok boolean, "
        "variance_floor_ok boolean, mart_matches_one_shot_ok boolean",
    )
    _compare(out, _PCA_ORACLE, sf_dir)
