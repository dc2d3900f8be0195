"""q2x — LLM-training-data pipeline operators (SURVEY.md §2.12).

Catalog entries for the mandated extension operators over the
``documents`` / ``embeddings`` tables: exact + near dedup, similarity
search, and text analysis. Registered into ``queries.CATALOG`` (this
module is imported at the bottom of ``queries``).

Every oracle mirrors the Spark expression step-for-step (same md5
keying, same lexicographic mins, same sequential double folds) so the
driver's value-hash comparison is exact — see the determinism notes in
``queries``'s module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.queries import load, register
from formula1_data_pipeline_spark.curation_diversity import (
    PER_CELL as _DIV_PER_CELL,
    diversity_cte_body as _diversity_cte_body,
)
from formula1_data_pipeline_spark.session import local_frame

# DuckDB twin of operators.dedup.tokens / token_set
_SQL_TOKS = (
    r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), "
    r"x -> x <> '')"
)

# DuckDB twin of operators.dedup.hashed_token_set (60-bit token hashes)
_SQL_HTOKS = (
    f"list_distinct(list_transform({_SQL_TOKS}, t -> "
    "CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)))"
)


def _sql_quality(toks: str, tset: str, text: str = "text") -> str:
    """DuckDB twin of ``operators.text.quality_score`` — the ONE
    definition shared by every oracle that scores quality (q25, q52,
    q86), so a heuristic change cannot silently leave an oracle
    behind. ``toks``/``tset`` name the token-array and distinct-set
    expressions available in the caller's CTE."""
    return (
        f"0.3 * (CASE WHEN len({toks}) > 0 "
        f"THEN CAST(len({tset}) AS DOUBLE) / len({toks}) "
        f"ELSE 0.0 END) "
        f"+ 0.4 * least(1.0, len({toks}) / 100.0) "
        f"+ 0.3 * (CASE WHEN length({text}) >= 50 "
        f"AND length({text}) <= 5000 THEN 1.0 ELSE 0.0 END)"
    )


@register(
    "q20_exact_dedup",
    rf"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS canonical_id,
           count(*)    AS n_dups
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup via normalized-text fingerprint hash-groupBy "
        "(§2.12): single shuffle on md5(collapsed text), two-long group "
        "state — the canonical 100 TB exact-dedup plan",
)
def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import exact_dedup_groups

    docs = load(spark, sf_dir, "documents")["documents"]
    return exact_dedup_groups(docs, text_col="text", id_col="doc_id")


def _lsh_verified_pairs_ctes() -> str:
    """CTE chain ending in ``vp(a_id, b_id, jaccard)`` — every LSH
    candidate pair with its exact token-set jaccard. Generated from
    the SAME `_mix_sql`/`_band_sql` helpers the Spark operator uses —
    the integer minhash family (one md5 per token, 16 universal-hash
    mins, 62-bit Horner band keys) is pure BIGINT arithmetic below
    2^62, so both engines agree bit-for-bit. Shared by the q21 oracle
    (pairs surface) and the q87 oracle (incremental keep/drop replay),
    so the two can never drift apart."""
    from formula1_data_pipeline_spark.operators.dedup import (
        _band_sql, _mix_sql,
    )

    mins = ",\n               ".join(
        f"min({_mix_sql(i, 'h')}) AS h{i}" for i in range(16)
    )
    bands = ",\n            ".join(
        _band_sql(b, [f"h{b * 4 + i}" for i in range(4)]) for b in range(4)
    )
    return f"""base AS (
        SELECT doc_id AS id, {_SQL_HTOKS} AS htoks
        FROM documents
    ), tokrows AS (
        SELECT id, unnest(htoks) AS h FROM base
    ), sig AS (
        SELECT id,
               {mins}
        FROM tokrows GROUP BY id
    ), banded AS (
        SELECT id, unnest([
            {bands}
        ]) AS band
        FROM sig
    ), pairs AS (
        SELECT DISTINCT a.id AS a_id, b.id AS b_id
        FROM banded a JOIN banded b USING (band)
        WHERE a.id < b.id
    ), vp AS (
        SELECT p.a_id, p.b_id,
               CAST(len(list_intersect(ta.htoks, tb.htoks)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.htoks, tb.htoks)))
                   AS jaccard
        FROM pairs p
        JOIN base ta ON ta.id = p.a_id
        JOIN base tb ON tb.id = p.b_id
    )"""


def _q21_oracle() -> str:
    return f"""
    WITH {_lsh_verified_pairs_ctes()}
    SELECT a_id, b_id, jaccard FROM vp
    """


@register(
    "q21_minhash_lsh",
    _q21_oracle(),
    doc="MinHash(16)+LSH(4 bands) near-dup candidates with exact jaccard "
        "verify (§2.12): integer-mix signatures (one md5 per token), "
        "shuffle ships only (band, id) pairs, jaccard only on candidates",
)
def q21_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return minhash_lsh_candidates(docs, text_col="text", id_col="doc_id")


# DuckDB twin of operators.dedup.simhash_df: CTE chain ending in
# sim(id, simhash) — shared by q22 (distance-0 groups) and q29
# (hamming 1-3 near-dup pairs).
_SQL_SIM_CTES = f"""
    base AS (
        SELECT doc_id AS id, list_distinct({_SQL_TOKS}) AS toks
        FROM documents
    ), tokrows AS (
        SELECT id, unnest(toks) AS t FROM base
    ), bits AS (
        -- integer sums via GROUP BY (list_aggregate 'sum' goes through
        -- double and loses low bits above 2^53)
        SELECT tk.id, r.b,
               CASE WHEN sum(CASE WHEN (CAST(('0x' || substr(md5(tk.t), 1, 15))
                                        AS BIGINT) >> r.b) & 1 = 1
                                  THEN 1 ELSE -1 END) > 0
                    THEN CAST(1 AS BIGINT) << r.b
                    ELSE CAST(0 AS BIGINT) END AS bitval
        FROM tokrows tk CROSS JOIN range(0, 60) r(b)
        GROUP BY tk.id, r.b
    ), sim AS (
        SELECT base.id, CAST(coalesce(s.sh, 0) AS BIGINT) AS simhash
        FROM base LEFT JOIN (
            SELECT id, sum(bitval) AS sh FROM bits GROUP BY id
        ) s USING (id)
    )
"""


@register(
    "q22_simhash",
    f"""
    WITH {_SQL_SIM_CTES}
    SELECT simhash, min(id) AS canonical_id, count(*) AS n_docs
    FROM sim GROUP BY 1
    """,
    doc="SimHash(60-bit) near-dup buckets (§2.12): per-token md5 bit "
        "votes folded JVM-side (no UDF, no shuffle before the groupBy)",
)
def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import (
        simhash_dedup_groups,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return simhash_dedup_groups(docs, text_col="text", id_col="doc_id")


@register(
    "q29_simhash_neardup",
    f"""
    WITH {_SQL_SIM_CTES}, groups AS (
        SELECT simhash, min(id) AS canonical_id, count(*) AS n_docs
        FROM sim GROUP BY 1
    ), sliced AS (
        SELECT simhash, canonical_id, n_docs, s.sidx,
               (simhash >> (15 * s.sidx)) & 32767 AS skey
        FROM groups CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS sidx) s
    )
    SELECT DISTINCT
           a.simhash AS a_simhash,
           b.simhash AS b_simhash,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
           a.canonical_id AS a_canonical_id,
           b.canonical_id AS b_canonical_id,
           a.n_docs * b.n_docs AS n_pair_docs
    FROM sliced a
    JOIN sliced b ON a.sidx = b.sidx AND a.skey = b.skey
    WHERE a.simhash < b.simhash
      AND bit_count(xor(a.simhash, b.simhash)) BETWEEN 1 AND 3
    """,
    doc="SimHash near-dup at hamming distance 1-3 (§2.12): pigeonhole "
        "blocking on 4x15-bit slices (<=3 differing bits must leave one "
        "slice identical), exact bit_count(xor) verify on candidates, "
        "computed over distinct sketches so the join is bounded by "
        "sketch-group count, not doc count",
)
def q29_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return simhash_neardup_pairs(docs, text_col="text", id_col="doc_id",
                                 max_distance=3)


@register(
    "q23_ngram_jaccard",
    f"""
    WITH base AS (
        SELECT doc_id AS id, {_SQL_HTOKS} AS toks,
               ({_SQL_TOKS})[1] AS block
        FROM documents
    ), blocked AS (
        SELECT id, toks, block FROM base
    ), pairs AS (
        SELECT a.id AS a_id, b.id AS b_id,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks)))
                   AS jaccard
        FROM blocked a JOIN blocked b USING (block)
        WHERE a.id < b.id
    )
    SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.5
    """,
    doc="Token-set jaccard >= 0.5 over first-token blocking (§2.12): the "
        "SQL-expressible near-dup baseline; MinHash-LSH (q21) is the "
        "scale path",
)
def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", threshold=0.5
    )


_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x)"
)


_RP_K = 16  # JL target dimension for the q24 rp/rp_topk legs

#: q24 MMR rider sizing (the r15 draft constants, promoted r13)
_MMR_K, _MMR_POOL, _MMR_LAM = 5, 15, 0.7


def _q24_mmr_ctes() -> str:
    """MMR greedy-selection replay as appended CTEs over the q24
    oracle's existing ``c`` (vectors) and ``ranked`` (exact cosine
    ranks) CTEs: candidate pool = exact top-{pool}, then one CTE pair
    per greedy round — lam * relevance - (1-lam) * max pair-sim to
    the already-selected set, EXACT DECIMAL blend (the rounded-double
    form hit the shortest-repr tie trap at sf0.01 — operators/mmr.py
    docstring), n_id tiebreaks. Ends with ``mmr_all(q_id, n_id,
    cos_sim, mmr_dec, mmr_rank)``."""
    def cos(a: str, b: str) -> str:
        return (f"round({_SQL_DOT.format(a=a, b=b)} / nullif("
                f"sqrt({_SQL_DOT.format(a=a, b=a)}) * "
                f"sqrt({_SQL_DOT.format(a=b, b=b)}), 0.0), 6)")

    lam = f"CAST({_MMR_LAM:.3f} AS DECIMAL(4,3))"
    one_m = f"CAST({1 - _MMR_LAM:.3f} AS DECIMAL(4,3))"
    parts = [f"""cand AS (
        SELECT q_id, n_id, cos_sim FROM ranked
        WHERE rank <= {_MMR_POOL}
    ), ps AS (
        SELECT x.q_id, x.n_id AS a_id, y.n_id AS b_id,
               {cos('xa.n_vec', 'yb.n_vec')} AS pair_sim
        FROM cand x JOIN cand y
          ON x.q_id = y.q_id AND x.n_id <> y.n_id
        JOIN c xa ON xa.n_id = x.n_id
        JOIN c yb ON yb.n_id = y.n_id
    ), m1 AS (
        SELECT q_id, n_id, cos_sim,
               {lam} * CAST(cos_sim AS DECIMAL(18,6)) AS mmr_dec,
               CAST(1 AS INTEGER) AS mmr_rank
        FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY q_id
            ORDER BY {lam} * CAST(cos_sim AS DECIMAL(18,6)) DESC,
                     n_id ASC) = 1
    )"""]
    for r in range(2, _MMR_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT q_id, n_id FROM m{i}" for i in range(1, r))
        parts.append(f"""msel{r} AS ({prev_sel}
    ), msc{r} AS (
        SELECT cd.q_id, cd.n_id, cd.cos_sim,
               {lam} * CAST(cd.cos_sim AS DECIMAL(18,6))
               - {one_m} * CAST(coalesce((
                   SELECT max(ps.pair_sim) FROM ps
                   JOIN msel{r} s ON s.q_id = ps.q_id
                                 AND s.n_id = ps.b_id
                   WHERE ps.q_id = cd.q_id AND ps.a_id = cd.n_id
               ), 0.0) AS DECIMAL(18,6)) AS mmr_dec
        FROM cand cd
        ANTI JOIN msel{r} s2 ON s2.q_id = cd.q_id
                            AND s2.n_id = cd.n_id
    ), m{r} AS (
        SELECT q_id, n_id, cos_sim, mmr_dec,
               CAST({r} AS INTEGER) AS mmr_rank
        FROM msc{r}
        QUALIFY row_number() OVER (
            PARTITION BY q_id
            ORDER BY mmr_dec DESC, n_id ASC) = 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT q_id, n_id, cos_sim, mmr_dec, mmr_rank FROM m{i}"
        for i in range(1, _MMR_K + 1))
    parts.append(f"mmr_all AS ({union})")
    return ", ".join(parts)


def _q24_sql() -> str:
    from formula1_data_pipeline_spark.operators.dimred import (
        rp_oracle_expr,
    )

    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    proj = rp_oracle_expr(vec, 64, _RP_K)

    def cos(a: str, b: str) -> str:
        return (f"round({_SQL_DOT.format(a=a, b=b)} / nullif("
                f"sqrt({_SQL_DOT.format(a=a, b=a)}) * "
                f"sqrt({_SQL_DOT.format(a=b, b=b)}), 0.0), 6)")

    return f"""
    WITH c AS (
        SELECT vec_id AS n_id, {vec} AS n_vec, {proj} AS n_proj
        FROM embeddings
    ), q AS (
        SELECT n_id AS q_id, n_vec AS q_vec, n_proj AS q_proj
        FROM c WHERE n_id < 10
    ), scored AS (
        SELECT q_id, n_id, {cos('q_vec', 'n_vec')} AS cos_sim
        FROM c CROSS JOIN q
        WHERE q_id <> n_id
    ), ranked AS (
        SELECT q_id, n_id, cos_sim,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
               ) AS rank
        FROM scored
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
    ), {_q24_mmr_ctes()}
    SELECT 'exact' AS kind, q_id, n_id, cos_sim,
           CAST(rank AS INTEGER) AS rank,
           CAST(NULL AS DOUBLE) AS mmr_score,
           CAST(NULL AS VARCHAR) AS note,
           CAST(NULL AS BOOLEAN) AS ok
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT 'rp', n_id, NULL, n_proj[d + 1], CAST(d AS INTEGER),
           NULL, NULL, NULL
    FROM c CROSS JOIN (SELECT unnest(range(0, {_RP_K})) AS d)
    UNION ALL
    SELECT 'rp_topk', q_id, n_id, cos_sim, CAST(rank AS INTEGER),
           NULL, NULL, NULL
    FROM r2 WHERE rank <= 5
    UNION ALL
    SELECT 'mmr', q_id, n_id, cos_sim, CAST(mmr_rank AS INTEGER),
           CAST(mmr_dec AS DOUBLE), NULL, NULL
    FROM mmr_all
    UNION ALL
    SELECT 'pca', NULL, NULL, NULL, NULL, NULL, chk, TRUE
    FROM (SELECT unnest(['eig_desc_ok', 'orthonormal_ok',
                         'variance_floor_ok',
                         'mart_matches_one_shot_ok']) AS chk)
    """


@register(
    "q24_cosine_topk",
    _q24_sql(),
    doc="Vector-similarity surface, four kinds in one long frame. "
        "kind='exact': brute-force exact cosine top-5 per query "
        "vector (§2.12) — broadcast the query set, sequential-fold "
        "dot products in double, per-query rank. The ANN correctness "
        "baseline; ann_lsh_topk is the bucketed scale path. "
        "kind='rp' (round 12, operators/dimred.py::random_project): "
        "sparse Achlioptas JL projection 64->16 with an md5-derived "
        "sign matrix and ordered folds, so every projected value is "
        "BIT-IDENTICAL across engines (full value hash — no other "
        "dimensionality reducer can claim that). "
        "kind='rp_topk' (dimred.py::rp_topk): the two-stage "
        "JL-compressed ANN — candidate rank in 16-dim space (window "
        "30), exact re-rank of candidates only; the NARROW-candidates "
        "+ broadcast re-fetch plan A/B-measured in SCALE.md r11 "
        "(vectors never ride a pairs-sized shuffle). Deterministic "
        "end to end, so the VALUES gate, not just a recall bound. "
        "kind='mmr' (round 13, operators/mmr.py::mmr_rerank): "
        "maximal-marginal-relevance diversity re-rank of the exact "
        "top-15 pool — greedy lam*relevance - (1-lam)*max-sim-to-"
        "selected with an EXACT DECIMAL blend (6-dp-rounded sims, "
        "n_id tiebreaks), so the full greedy trace value-hashes "
        "cross-engine; candidate pair-sims attach vectors to the "
        "POOL only (k*pool rows per query), never a corpus shuffle. "
        "kind='pca' (dimred.py::pca_fit_from_mart): Gram-matrix PCA "
        "fitted from the INCREMENTAL 3-batch gram-cell mart (one "
        "re-delivered batch must no-op — exactly-once under the "
        "gate); eigenvectors are trained floats, so the row pins "
        "structure booleans (descending eigenvalues, orthonormality, "
        "captured variance above the isotropic floor, mart-fold == "
        "one-shot Gram) per the q92 rule. Round 13: the rp leg "
        "emits one SCALAR row per projected component (rank = dim "
        "index, cos_sim = component value) — the r12 gate's only "
        "array<double> column broke the driver's pandas sort-based "
        "canonicalizer (unhashable list cells), so gate outputs are "
        "scalar-only by rule (tests/oracle_compare.py driver_canon)",
)
def q24_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from formula1_data_pipeline_spark.operators import dimred as DR
    from formula1_data_pipeline_spark.operators.mmr import mmr_rerank
    from formula1_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )
    from formula1_data_pipeline_spark.scratch import scratch_dir

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    nul_l = F.lit(None).cast("bigint")
    nul_d = F.lit(None).cast("double")
    nul_s = F.lit(None).cast("string")
    nul_b = F.lit(None).cast("boolean")

    def widen(df, kind):
        cols = {c: F.col(c) for c in df.columns}
        return df.select(
            F.lit(kind).alias("kind"),
            cols.get("q_id", nul_l).alias("q_id"),
            cols.get("n_id", nul_l).alias("n_id"),
            cols.get("cos_sim", nul_d).alias("cos_sim"),
            (cols["rank"].cast("int") if "rank" in cols
             else F.lit(None).cast("int")).alias("rank"),
            cols.get("mmr_score", nul_d).alias("mmr_score"),
            nul_s.alias("note"),
            nul_b.alias("ok"),
        )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = widen(
        cosine_topk(emb, queries, k=5,
                    id_col="vec_id", vec_col="embedding", dim=64),
        "exact",
    )
    # one scalar row per projected component (driver-canon rule)
    rp = widen(
        DR.random_project(emb, "embedding", d=64, k=_RP_K)
        .select(F.col("vec_id").alias("q_id"),
                F.posexplode("proj").alias("rank", "cos_sim")),
        "rp",
    )
    rpk = widen(
        DR.rp_topk(emb, queries, d=64, k_proj=_RP_K,
                   n_candidates=30, top_k=5),
        "rp_topk",
    )
    from formula1_data_pipeline_spark.concurrency import overlap

    def mmr_leg():
        return widen(
            mmr_rerank(emb, queries, k=_MMR_K, pool=_MMR_POOL,
                       lam=_MMR_LAM, dim=64)
            .withColumnRenamed("mmr_rank", "rank"),
            "mmr",
        )

    def pca_leg():
        # incremental-Gram PCA: 3 batches + a re-delivery that must
        # no-op
        k = 8
        mart = scratch_dir(prefix="q24_gram_") + "/gm"
        # the three batches are independent appends of distinct
        # batch_ids (txn appends are optimistic-concurrency-safe),
        # and the one-shot full-corpus Gram the mart is checked
        # against shares nothing with the mart chain — all four
        # overlap from driver threads (guide §2.6; r15). The
        # re-delivery assertion stays strictly after the overlap:
        # it needs gate-1's marker committed.
        *_, g_full_rows = overlap(spark, [
            (f"q24 gram append gate-{b}",
             lambda b=b: DR.gram_mart_append(
                 spark, emb.filter(F.col("vec_id") % 3 == b),
                 mart, "embedding", 64, f"gate-{b}"))
            for b in range(3)
        ] + [("q24 one-shot gram check",
              lambda: DR.gram_matrix(emb, "embedding", 64))])
        if DR.gram_mart_append(
                spark, emb.filter(F.col("vec_id") % 3 == 1),
                mart, "embedding", 64, "gate-1") != 0:
            raise AssertionError(
                "gram_mart_append re-delivery was not a no-op — "
                "exactly-once regressed"
            )
        # ONE mart fold feeds both the fit and the one-shot check
        # (pca_fit_from_mart + gram_from_mart each re-folded the
        # landed cells — identical rows, two collect jobs; r14
        # optimization)
        g_mart_rows, _, _ = DR.moments_from_mart(spark, mart, 64)
        ev, comps = DR._eigh_topk(g_mart_rows, k)
        C = np.array(comps)
        g_mart = np.array(g_mart_rows)
        g_full = np.array(g_full_rows)
        checks = [
            ("eig_desc_ok",
             bool(all(ev[i] >= ev[i + 1] for i in range(k - 1)))),
            ("orthonormal_ok",
             bool(np.allclose(C @ C.T, np.eye(k), atol=1e-8))),
            ("variance_floor_ok",
             bool(sum(ev) / float(np.trace(g_mart)) > k / 64)),
            ("mart_matches_one_shot_ok",
             bool(np.allclose(g_mart, g_full, rtol=1e-9))),
        ]
        return local_frame(
            spark,
            [("pca", None, None, None, None, None, name, ok)
             for name, ok in checks],
            "kind string, q_id bigint, n_id bigint, cos_sim double, "
            "rank int, mmr_score double, note string, ok boolean",
        )

    # the MMR unroll (driver-planned selection rounds) and the Gram
    # mart chain (txn appends + driver eigh) are the two EAGER legs;
    # they share nothing but the source table — overlap them from
    # driver threads (guide §2.6; r14 optimization)
    mmr, pca = overlap(spark, [
        ("q24: mmr rounds", mmr_leg),
        ("q24: gram mart + pca", pca_leg),
    ])
    return (exact.unionByName(rp).unionByName(rpk)
            .unionByName(mmr).unionByName(pca))


_SQL_PLANE = (
    "list_transform(range(0, 64), d -> "
    "CAST(('0x' || substr(md5(CAST({p} AS VARCHAR) || ':' "
    "|| CAST(d AS VARCHAR)), 1, 16)) AS UBIGINT) "
    "/ 9223372036854775808.0 - 1.0)"
)

_SQL_BUCKET = " + ".join(
    f"(CASE WHEN {_SQL_DOT.format(a='vec', b=_SQL_PLANE.format(p=p))} >= 0 "
    f"THEN {2 ** p} ELSE 0 END)"
    for p in range(8)
)

# Multi-table bucket keys (q26): 16 tables x 5 planes, plane ids
# t*5+p, key = t*32 + bits — mirrors similarity.lsh_bucket_keys.
_SQL_BUCKET_KEYS = "unnest([" + ", ".join(
    f"({t * 32} + " + " + ".join(
        f"(CASE WHEN "
        f"{_SQL_DOT.format(a='vec', b=_SQL_PLANE.format(p=t * 5 + p))} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p in range(5)
    ) + ")"
    for t in range(16)
) + "])"


@register(
    "q26_ann_lsh_topk",
    f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), bucketed AS (
        SELECT vec_id, vec, {_SQL_BUCKET_KEYS} AS bucket FROM vecs
    ), scored AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
               round(
                   {_SQL_DOT.format(a='q.vec', b='c.vec')}
                   / nullif(sqrt({_SQL_DOT.format(a='q.vec', b='q.vec')})
                            * sqrt({_SQL_DOT.format(a='c.vec', b='c.vec')}),
                            0.0),
               6) AS cos_sim
        FROM bucketed c
        JOIN (SELECT * FROM bucketed WHERE vec_id < 10) q USING (bucket)
        WHERE q.vec_id <> c.vec_id
    ), ranked AS (
        SELECT q_id, n_id, cos_sim,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
               ) AS rank
        FROM scored
    )
    SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="ANN via multi-table random-hyperplane LSH (§2.12 scale path): "
        "16 tables x 5 sign-bit hyperplanes (deterministic md5-derived, "
        "bit-identical across engines), exact cosine among candidates "
        "sharing >= 1 bucket, scored-then-deduped. Multi-table is the "
        "recall lever (1-(1-q^m)^L vs q^m): measured recall@5 ~0.7-0.9 "
        "vs 0.02-0.06 single-table on the synthetic embeddings. At "
        "100 TB the corpus never shuffles for candidates (query side "
        "broadcasts); only the candidate stream is exchanged",
)
def q26_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.similarity import ann_lsh_topk

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return ann_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5,
        n_tables=16, n_planes=5,
        id_col="vec_id", vec_col="embedding",
    )


@register(
    "q27_embedding_neardup",
    f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), bucketed AS (
        SELECT vec_id, vec, {_SQL_BUCKET} AS bucket FROM vecs
    ), pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(
                   {_SQL_DOT.format(a='a.vec', b='b.vec')}
                   / nullif(sqrt({_SQL_DOT.format(a='a.vec', b='a.vec')})
                            * sqrt({_SQL_DOT.format(a='b.vec', b='b.vec')}),
                            0.0),
               6) AS cos_sim
        FROM bucketed a JOIN bucketed b USING (bucket)
        WHERE a.vec_id < b.vec_id
    ), {_diversity_cte_body()}
    SELECT 'neardup' AS kind, a_id, b_id, cos_sim,
           CAST(NULL AS INT) AS center_rank
    FROM pairs WHERE cos_sim >= 0.4
    UNION ALL
    SELECT 'diversity' AS kind, vec_id AS a_id,
           CAST(NULL AS BIGINT) AS b_id, cos_sim, center_rank
    FROM quota WHERE rn2 <= {_DIV_PER_CELL}
    """,
    doc="Embedding-space surface, two legs in one kind-discriminated "
        "frame. kind='neardup' (§2.12): LSH-bucket blocking (same "
        "8-plane sketch as q26) then exact cosine >= threshold within "
        "buckets — the embedding-space analogue of MinHash dedup. The "
        "operator's production default is 0.99; the GATE runs at 0.4 "
        "because the synthetic embeddings top out at cos~0.51 (no "
        "true near-dups exist), and a 0-row match proves nothing — at "
        "0.4 the bucket join, the generator-barrier threshold filter, "
        "and every emitted cos_sim are value-hashed. kind='diversity' "
        "(round 11, queries_curation.diversity_downsample): greedy "
        "k-center exemplars -> nearest-exemplar assignment -> "
        "per-cell md5 quota — cap-every-region diversity "
        "downsampling; the oracle composes the standalone pipeline's "
        "exact CTE text (unrolled k-center trace, argmax assignment, "
        "stratified_topn's ordering), so the full downsample sits "
        "under this value hash",
)
def q27_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from formula1_data_pipeline_spark.curation_diversity import (
        diversity_downsample,
    )

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    pairs = embedding_neardup_pairs(
        emb, dim=64, n_planes=8, threshold=0.4,
        id_col="vec_id", vec_col="embedding",
    ).select(F.lit("neardup").alias("kind"), "a_id", "b_id", "cos_sim")
    div = diversity_downsample(spark, sf_dir).select(
        F.lit("diversity").alias("kind"),
        F.col("vec_id").alias("a_id"),
        "cos_sim",
        "center_rank",
    )
    return pairs.unionByName(div, allowMissingColumns=True).select(
        "kind", "a_id", "b_id", "cos_sim", "center_rank"
    )


@register(
    "q28_shingle_fingerprint",
    f"""
    WITH base AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), fp AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_slice(list_sort(list_distinct(
                       list_transform(range(0, len(toks) - 2), i ->
                           CAST(('0x' || substr(md5(array_to_string(
                               list_slice(toks, i + 1, i + 3), ' ')), 1, 15))
                           AS BIGINT))
                   )), 1, 8)
               ELSE [] END AS fingerprint
        FROM base
    ), ex AS (
        SELECT doc_id, unnest(fingerprint) AS shingle_hash FROM fp
    ), wh AS (
        SELECT doc_id,
               list_transform(range(0, len(toks) - 2), i ->
                   CAST(('0x' || substr(md5(array_to_string(
                       list_slice(toks, i + 1, i + 3), ' ')), 1, 10))
                   AS BIGINT) * 2097152 + (2097151 - i)) AS enc
        FROM base WHERE len(toks) >= 6
    ), wsel AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(enc) - 3), j ->
                   list_min(list_slice(enc, j + 1, j + 4)))) AS e
        FROM wh
    ), wseld AS (
        SELECT DISTINCT doc_id, e FROM wsel
    )
    SELECT 'bottomk' AS kind, doc_id,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY shingle_hash
           ) AS INT) AS rank,
           CAST(NULL AS INT) AS pos,
           shingle_hash
    FROM ex
    UNION ALL
    SELECT 'winnow' AS kind, doc_id,
           CAST(NULL AS INT) AS rank,
           CAST(2097151 - (e % 2097152) AS INT) AS pos,
           CAST(e // 2097152 AS BIGINT) AS shingle_hash
    FROM wseld
    """,
    doc="Document fingerprinting (§2.12), both schemes under one "
        "kind-discriminated gate: kind='bottomk' is the bottom-8 "
        "sketch of 3-gram shingle rolling hashes (fingerprint overlap "
        "estimates shingle-set jaccard); kind='winnow' is the "
        "SIGMOD'03 winnowing selection — per-window (w=4) rightmost "
        "minimum of the 40-bit shingle hashes, the position-aware "
        "fingerprint with the guarantee that any shared run of >= "
        "w+k-1 = 6 tokens is detected regardless of document length, "
        "which the length-diluted bottom-k sketch cannot promise. "
        "Both engines pack hash*2^21 + (2^21-1-pos) so one array_min "
        "per window is the whole tie-break rule.",
)
def q28_shingle_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both fingerprint schemes consume ONE (id, pos, md5-hex)
    shingle frame (bottom-k reads hex chars 1-15, winnowing 1-10):
    the two legs scan the same child, so the doc-id Exchange is
    planned once and the second leg reads a ReusedExchange — one
    documents scan, one hash pass, one shuffle. (An array-native
    single-pass fusion was measured first and REJECTED: Spark
    evaluates higher-order functions interpreted, not codegen'd —
    6.4 s at sf0.1 vs ~2 s for this row shape.) Value-identity with
    the standalone operators is pinned by
    tests/test_winnow.py::test_q28_fused_matches_standalone_ops.
    """
    from pyspark.sql import Window

    from formula1_data_pipeline_spark.operators.text import (
        SKETCH_SIZE,
        winnow_select,
        winnow_shingle_hexes,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    shingled = winnow_shingle_hexes(docs)

    # bottom-k leg: 60-bit hashes, per-doc sorted-distinct bottom-8;
    # groupBy(id) reuses the shingle frame's partitioning
    conv15 = F.conv(
        F.substring(F.col("hex"), 1, 15), 16, 10
    ).cast("long")
    fps = (
        shingled.select("id", conv15.alias("h"))
        .groupBy("id")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, SKETCH_SIZE)
            .alias("fingerprint")
        )
    )
    bottomk = fps.select(
        F.col("id").alias("doc_id"),
        F.posexplode("fingerprint").alias("p", "shingle_hash"),
    ).select(
        F.lit("bottomk").alias("kind"),
        "doc_id",
        (F.col("p") + 1).cast("int").alias("rank"),
        F.lit(None).cast("int").alias("pos"),
        "shingle_hash",
    )

    winnow = winnow_select(shingled).select(
        F.lit("winnow").alias("kind"),
        F.col("id").alias("doc_id"),
        F.lit(None).cast("int").alias("rank"),
        "pos",
        F.col("fp_hash").alias("shingle_hash"),
    )
    return bottomk.unionByName(winnow)


@register(
    "q25_text_stats",
    f"""
    WITH base AS (
        SELECT doc_id, text, {_SQL_TOKS} AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, text, toks, list_distinct(toks) AS tset
        FROM base
    ), hits AS (
        SELECT doc_id, text, toks, tset,
               len(list_intersect(tset,
                   ['the','and','of','to','a','in','is','it'])) AS en,
               len(list_intersect(tset,
                   ['el','la','de','que','y','en','un','es'])) AS es,
               len(list_intersect(tset,
                   ['der','die','und','das','ist','ein','nicht','mit'])) AS de,
               len(list_intersect(tset,
                   ['le','la','et','les','des','un','une','est'])) AS fr
        FROM s
    )
    , lcnt AS (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS t FROM base)
        GROUP BY 1, 2
    ), lmom AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS types,
               CAST(sum(c * c) AS BIGINT) AS c2,
               CAST(max(c) AS BIGINT) AS maxc
        FROM lcnt GROUP BY 1
    )
    SELECT h.doc_id,
           len(toks) AS n_tokens,
           len(tset) AS n_unique,
           CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                WHEN en = greatest(en, es, de, fr) THEN 'en'
                WHEN es = greatest(en, es, de, fr) THEN 'es'
                WHEN de = greatest(en, es, de, fr) THEN 'de'
                WHEN fr = greatest(en, es, de, fr) THEN 'fr'
           END AS lang_pred,
           {_sql_quality('toks', 'tset')} AS quality,
           COALESCE(n, 0) AS n_tokens_lex,
           COALESCE(types, 0) AS n_types,
           COALESCE(CAST(types AS DOUBLE) / CAST(n AS DOUBLE), 0.0)
               AS ttr,
           COALESCE(1.0 - CAST(c2 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0)
               AS simpson_diversity,
           COALESCE(CAST(maxc AS DOUBLE) / CAST(n AS DOUBLE), 0.0)
               AS top_token_ratio
    FROM hits h LEFT JOIN lmom USING (doc_id)
    """,
    doc="Text analysis (§2.12): token counts, stopword-argmax "
        "language-ID, and the 0-1 quality heuristic — one narrow "
        "shuffle-free codegen'd projection over documents. Round 12 "
        "adds the lexical-diversity tier (operators/text.py::"
        "lexical_diversity_df): type-token ratio, Gini-Simpson "
        "diversity 1 - sum(c^2)/n^2, and top-token dominance — the "
        "repetitiveness axis quality_score's character ratios miss, "
        "as exact rationals (the no-libm twin of Shannon entropy, so "
        "every value sits under the cross-engine hash). One (doc, "
        "token) count aggregate feeds all three",
)
def q25_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import text as T
    from formula1_data_pipeline_spark.operators.text import (
        lexical_diversity_df,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    toks = T.tokens(F.col("text"))
    tset = T.token_set(F.col("text"))
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(tset).alias("n_unique"),
        T.predict_lang(tset).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    return stats.join(lexical_diversity_df(docs), "doc_id")


# BPE pattern with SQL apostrophes doubled for the DuckDB literal.
def _bpe_sql_pattern() -> str:
    from formula1_data_pipeline_spark.operators.text import BPE_REGEX

    return BPE_REGEX.replace("'", "''")


@register(
    "q33_bpe_token_stats",
    rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_bpe_sql_pattern()}'))
               AS n_bpe_tokens,
           len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '{_bpe_sql_pattern()}'))
                      AS DOUBLE)
                 / nullif(len(regexp_extract_all(text, '\S+')), 0), 6)
               AS bpe_per_word
    FROM documents
    """,
    doc="Token-cost estimation (§2.12): BPE-ish pre-tokenizer counts "
        "(GPT-2-style regex, restricted to the Java-regex/RE2 common "
        "subset so Spark and the oracle tokenize bit-identically) next "
        "to whitespace word counts — the standard per-document cost / "
        "length-filter signal for an LLM corpus. Narrow shuffle-free "
        "codegen'd projection; regexp_extract_all runs JVM-side",
)
def q33_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import text as T

    docs = load(spark, sf_dir, "documents")["documents"]
    n_bpe = T.bpe_token_count(F.col("text"))
    n_ws = F.size(T.tokens(F.col("text")))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_bpe.cast("double") / F.nullif(n_ws, F.lit(0)), 6)
        .alias("bpe_per_word"),
    )


@register(
    "q34_ivf_flat_topk",
    f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), cent AS (
        SELECT vec_id, vec,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS cluster,
               sqrt({_SQL_DOT.format(a='vec', b='vec')}) AS cnorm
        FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), scores AS (
        SELECT v.vec_id AS id, cent.cluster,
               {_SQL_DOT.format(a='v.vec', b='cent.vec')}
               / nullif(cent.cnorm, 0.0) AS score
        FROM vecs v CROSS JOIN cent
    ), assign_c AS (
        SELECT id, cluster FROM (
            SELECT id, cluster, row_number() OVER (
                PARTITION BY id ORDER BY score DESC, cluster ASC
            ) AS crank FROM scores
        ) WHERE crank <= 3
    ), probes AS (
        SELECT id, cluster FROM (
            SELECT id, cluster, row_number() OVER (
                PARTITION BY id ORDER BY score DESC, cluster ASC
            ) AS crank FROM scores WHERE id < 10
        ) WHERE crank <= 4
    ), scored AS (
        SELECT DISTINCT q.id AS q_id, c.id AS n_id,
               round(
                   {_SQL_DOT.format(a='qv.vec', b='cv.vec')}
                   / nullif(sqrt({_SQL_DOT.format(a='qv.vec', b='qv.vec')})
                            * sqrt({_SQL_DOT.format(a='cv.vec', b='cv.vec')}),
                            0.0),
               6) AS cos_sim
        FROM probes q
        JOIN assign_c c USING (cluster)
        JOIN vecs qv ON qv.vec_id = q.id
        JOIN vecs cv ON cv.vec_id = c.id
        WHERE q.id <> c.id
    ), ranked AS (
        SELECT q_id, n_id, cos_sim,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
               ) AS rank
        FROM scored
    )
    SELECT 'live' AS kind, q_id, n_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    UNION ALL
    SELECT 'ivf_idx', q_id, n_id, cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
    doc="IVF-flat ANN, live + persisted-index legs under one kind "
        "discriminator (§2.12 scale path #2, next to q26's LSH). "
        "kind='live': corpus soft-assigned into 16 inverted lists "
        "(each vector in its 3 closest — FAISS-style multi-assign, "
        "the recall knob that leaves per-query probe cost alone), "
        "centroids a deterministic md5 hash-sample of the corpus "
        "(round 6: replaced first-16-ids init, whose 0.94 recall was "
        "the evaluation queries BEING centroids; production swaps in "
        "offline k-means via the same (cluster, d, coef) table), "
        "queries probe their 4 closest lists, exact cosine on probed "
        "lists only. kind='ivf_idx' (round 10, operators/vecindex.py): "
        "the SAME quantizer landed once as a manifest-txn table, the "
        "inverted lists landed PARTITIONED BY CLUSTER via one build + "
        "two frozen-quantizer appends (id-ranged batches — ingest "
        "never retrains), queried from the landed state with unprobed "
        "cluster directories pruned at file level. Given identical "
        "centroids the two legs are row-identical, so one oracle "
        "replays both — the persisted path's mechanics (land, append, "
        "skip, prune, query) sit under the full value hash. Candidate "
        "volume ~n_probe*n_assign/n_centroids of the corpus per "
        "query; centroid table broadcasts, corpus shuffles once on "
        "cluster",
)
def q34_ivf_flat_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.similarity import (
        _as_double,
        _hash_sample_coefs,
        ivf_flat_topk,
        norm,
    )
    from formula1_data_pipeline_spark.operators.vecindex import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_topk,
    )
    from formula1_data_pipeline_spark.scratch import scratch_dir

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    live = ivf_flat_topk(
        emb, queries, dim=64, k=5,
        n_centroids=16, n_probe=4, n_assign=3,
        id_col="vec_id", vec_col="embedding",
    ).select(F.lit("live").alias("kind"), "*")

    # persisted-index leg: the same deterministic hash-sample
    # quantizer (oracle-replayable, unlike Lloyd floats), landed and
    # frozen; corpus arrives as three id-ranged batches
    base = emb.select(
        F.col("vec_id").alias("id"),
        _as_double(F.col("embedding")).alias("vec"),
    ).withColumn("nrm", norm(F.col("vec")))
    coefs = _hash_sample_coefs(base, 16)
    idx = scratch_dir(prefix="q34_ivfidx_") + "/idx"
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    b1, b2 = mx // 3, 2 * mx // 3
    ivf_index_build(
        spark, emb.filter(F.col("vec_id") <= b2), idx,
        centroid_coefs=coefs, n_assign=3,
    )
    # the append RE-DELIVERS (b1, b2] alongside the new tail — the
    # landed-id skip must drop the overlap (idempotent ingestion)
    ivf_index_append(
        spark, emb.filter(F.col("vec_id") > b1), idx, n_assign=3)
    from_index = ivf_index_topk(
        spark, idx, queries, k=5, n_probe=4,
    ).select(F.lit("ivf_idx").alias("kind"), "*")
    return live.unionByName(from_index)


@register(
    "q71_ann_recall",
    f"""
    WITH c AS (
        SELECT vec_id AS n_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec
        FROM embeddings WHERE vec_id < 10
    ), scored AS (
        SELECT q_id, n_id,
               round(
                   {_SQL_DOT.format(a='q_vec', b='n_vec')}
                   / nullif(sqrt({_SQL_DOT.format(a='q_vec', b='q_vec')})
                            * sqrt({_SQL_DOT.format(a='n_vec', b='n_vec')}),
                            0.0),
               6) AS cos_sim
        FROM c CROSS JOIN q
        WHERE q_id <> n_id
    ), ranked AS (
        SELECT q_id, n_id,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC
               ) AS rank
        FROM scored
    ), exact AS (
        SELECT q_id, n_id FROM ranked WHERE rank <= 5
    )
    SELECT 'ivf' AS method, (SELECT count(*) FROM exact) AS n_exact,
           true AS recall_ok
    UNION ALL
    SELECT 'lsh', (SELECT count(*) FROM exact), true
    """,
    doc="ANN recall gate (q53 accuracy-gate pattern, VERDICT r3 item "
        "8): recall@5 of the q26 LSH index (16x5, bound 0.60) and the "
        "q34 IVF index (16 lists / 4 probes / 3-way soft assign, bound "
        "0.75) against the exact q24 top-5, computed inside the gated "
        "query — the oracle replays the exact top-5 for the "
        "denominator and asserts the bound booleans literally, so a "
        "bucketing tweak that trades recall below the floor breaks the "
        "hash instead of shipping silently. Bounds match "
        "tests/test_similarity.py. The round-5 IVF bound (0.80, "
        "measured 0.94) was an artifact — the first-16-ids centroid "
        "init made the evaluation queries centroids, aligning their "
        "own lists; with the honest hash-sampled init, recall on these "
        "STRUCTURE-FREE gaussian embeddings is candidate-fraction-"
        "bound (measured 0.78/0.88/0.94 at sf0.01/0.001/0.1) — see "
        "SCALE.md round 6",
)
def q71_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        ivf_flat_topk,
    )
    from formula1_data_pipeline_spark.concurrency import overlap

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    # Each index's top-k output is <= n_queries x k = 50 rows — collect
    # the three pair sets and intersect driver-side, so each index plan
    # (incl. the exact cross-join, the most expensive) executes exactly
    # once; the DataFrame-join formulation re-ran the exact plan under
    # every gate leg (~5x the dominant cost — r4 review finding). The
    # three plans are independent, so their jobs are submitted from
    # three driver threads (Spark's scheduler is thread-safe) — wall
    # is the max of the three pipelines instead of their sum.
    def pairs(df):
        return {(r.q_id, r.n_id) for r in df.select("q_id", "n_id")
                .collect()}

    exact, lsh, ivf = overlap(spark, [
        ("q71: exact topk", lambda: pairs(cosine_topk(
            emb, queries, k=5, id_col="vec_id", vec_col="embedding",
            dim=64))),
        ("q71: lsh topk", lambda: pairs(ann_lsh_topk(
            emb, queries, dim=64, k=5, n_tables=16, n_planes=5,
            id_col="vec_id", vec_col="embedding"))),
        ("q71: ivf topk", lambda: pairs(ivf_flat_topk(
            emb, queries, dim=64, k=5, n_centroids=16, n_probe=4,
            n_assign=3, id_col="vec_id", vec_col="embedding"))),
    ])
    rows = [
        ("ivf", len(exact), len(exact & ivf) >= 0.75 * len(exact)),
        ("lsh", len(exact), len(exact & lsh) >= 0.60 * len(exact)),
    ]
    return local_frame(
        spark, rows, "method string, n_exact long, recall_ok boolean"
    )


# q84 line-leg augmentation (the q44 pattern — testdata docs are
# single-line, so line-level ops would be degenerate on the raw
# table): ' scan ' separators become newlines; doc_id%4 injects
# boilerplate chrome the policies must handle
_Q84_AUG_CTES = """aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN
                        'Subscribe to our newsletter' || chr(10) || base
                        || chr(10) || 'cookie policy notice'
                    WHEN doc_id % 4 = 1 THEN
                        '  SUBSCRIBE TO OUR NEWSLETTER  ' || chr(10)
                        || base
                    WHEN doc_id % 4 = 2 THEN
                        base || chr(10) || chr(10)
                        || 'cookie policy notice'
                    ELSE base END AS text
        FROM (SELECT doc_id, replace(text, ' scan ', chr(10)) AS base
              FROM documents)
    ), lin AS (
        SELECT doc_id, i - 1 AS pos, parts[i] AS line,
               trim(lower(parts[i])) AS nline
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts,
                     unnest(range(1,
                         len(string_split(text, chr(10))) + 1)) AS i
              FROM aug)
    ), hot AS (
        SELECT nline FROM (
            SELECT nline, count(DISTINCT doc_id) AS line_df
            FROM lin WHERE nline <> '' GROUP BY 1
        ) WHERE line_df >= 2
    ), firsts AS (
        SELECT doc_id, pos, nline, row_number() OVER (
            PARTITION BY nline ORDER BY doc_id, pos
        ) AS rn
        FROM lin WHERE nline <> ''
    ), kept AS (
        SELECT l.* FROM lin l
        LEFT JOIN hot ON hot.nline = l.nline
        LEFT JOIN firsts f
            ON f.nline = l.nline AND f.doc_id = l.doc_id
               AND f.pos = l.pos
        WHERE hot.nline IS NULL OR f.rn = 1
    ), rebuilt AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
                   AS text_clean,
               count(*) AS n_kept
        FROM kept GROUP BY 1
    ), totals AS (
        SELECT doc_id, count(*) AS n_lines FROM lin GROUP BY 1
    )"""


@register(
    "q84_document_chunking",
    f"""
    WITH base AS (
        SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM documents
    ), nn AS (
        SELECT id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ), starts AS (
        -- stop once start + overlap >= n (no all-overlap tail chunks);
        -- range end = greatest(n - 8, 1) mirrors the Spark sequence
        -- upper bound greatest(n - overlap - 1, 0) (range is exclusive)
        SELECT id, toks, n, unnest(range(0, greatest(n - 8, 1), 24))
            AS start
        FROM nn
    ), {_Q84_AUG_CTES}
    SELECT 'chunk' AS kind, id,
           CAST(start // 24 AS INT) AS chunk_idx,
           CAST(least(32, n - start) AS INT) AS n_tokens,
           array_to_string(list_slice(toks, start + 1, start + 32), ' ')
               AS chunk_text,
           CAST(NULL AS VARCHAR) AS text_clean,
           CAST(NULL AS BIGINT) AS n_lines,
           CAST(NULL AS BIGINT) AS n_kept,
           CAST(NULL AS BIGINT) AS n_removed,
           CAST(NULL AS VARCHAR) AS line,
           CAST(NULL AS BIGINT) AS line_df,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS INT) AS rank
    FROM starts
    UNION ALL
    SELECT 'linededup' AS kind, d.doc_id AS id,
           CAST(NULL AS INT) AS chunk_idx,
           CAST(NULL AS INT) AS n_tokens,
           CAST(NULL AS VARCHAR) AS chunk_text,
           coalesce(r.text_clean, '') AS text_clean,
           coalesce(t.n_lines, 0) AS n_lines,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(t.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed,
           CAST(NULL AS VARCHAR) AS line,
           CAST(NULL AS BIGINT) AS line_df,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS INT) AS rank
    FROM aug d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    UNION ALL
    SELECT 'boilerplate' AS kind, CAST(NULL AS BIGINT) AS id,
           CAST(NULL AS INT) AS chunk_idx,
           CAST(NULL AS INT) AS n_tokens,
           CAST(NULL AS VARCHAR) AS chunk_text,
           CAST(NULL AS VARCHAR) AS text_clean,
           CAST(NULL AS BIGINT) AS n_lines,
           CAST(NULL AS BIGINT) AS n_kept,
           CAST(NULL AS BIGINT) AS n_removed,
           line, line_df, n_occurrences, rank
    FROM (
        SELECT nline AS line,
               count(DISTINCT doc_id) AS line_df,
               count(*) AS n_occurrences,
               CAST(row_number() OVER (
                   ORDER BY count(DISTINCT doc_id) DESC, nline
               ) AS INT) AS rank
        FROM lin WHERE nline <> ''
        GROUP BY nline
        ORDER BY line_df DESC, line
        LIMIT 10
    )
    """,
    doc="Document text-structure surface, three legs in one "
        "kind-discriminated frame. kind='chunk' (§2.12): token-budget "
        "splits (32 tokens, 8 overlap) — the pre-embedding "
        "preprocessing step, the inverse of q64's packing; a "
        "shuffle-free codegen'd projection (tokens -> start sequence "
        "-> clipped slices), a map-only stage at 100 TB. "
        "kind='linededup' (round 11, operators/lines.py keep='first'): "
        "the CCNet-policy line dedup — the corpus-wide first "
        "(doc_id, pos) occurrence of each hot line survives, every "
        "other copy drops; map-side partial-agg doc-frequency "
        "counting, one narrow shuffle on the normalized line. "
        "kind='boilerplate' (round 11, top_boilerplate_lines): the "
        "audit twin — top-10 most widespread normalized lines by "
        "distinct-doc frequency, what an operator reads before "
        "choosing min_docs. Both line legs run over the "
        "deterministic doc_id%4 chrome augmentation so hot lines "
        "exist at every scale",
)
def q84_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.lines import (
        dedup_lines,
        top_boilerplate_lines,
    )
    from formula1_data_pipeline_spark.operators.text import chunk_documents

    docs = load(spark, sf_dir, "documents")["documents"]
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.lit("chunk").alias("kind"),
        "id", "chunk_idx", "n_tokens", "chunk_text",
    )

    base = F.replace(F.col("text"), F.lit(" scan "), F.lit("\n"))
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("Subscribe to our newsletter\n"),
                base,
                F.lit("\ncookie policy notice"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("  SUBSCRIBE TO OUR NEWSLETTER  \n"), base),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(base, F.lit("\n\ncookie policy notice")),
        )
        .otherwise(base)
        .alias("text"),
    )
    lines = dedup_lines(aug, min_docs=2, keep="first").select(
        F.lit("linededup").alias("kind"),
        F.col("doc_id").alias("id"),
        "text_clean", "n_lines", "n_kept", "n_removed",
    )
    audit = top_boilerplate_lines(aug, k=10).select(
        F.lit("boilerplate").alias("kind"),
        "line", "line_df", "n_occurrences", "rank",
    )
    return (
        chunks.unionByName(lines, allowMissingColumns=True)
        .unionByName(audit, allowMissingColumns=True)
        .select(
            "kind", "id", "chunk_idx", "n_tokens", "chunk_text",
            "text_clean", "n_lines", "n_kept", "n_removed",
            "line", "line_df", "n_occurrences", "rank",
        )
    )


@register(
    "q86_keep_best_duplicate",
    rf"""
    WITH base AS (
        SELECT doc_id, text, {_SQL_TOKS} AS toks,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp
        FROM documents
    ), scored AS (
        SELECT doc_id, fp,
               {_sql_quality('toks', 'list_distinct(toks)')} AS quality
        FROM base
    )
    SELECT doc_id, fp, quality FROM (
        SELECT doc_id, fp, quality,
               row_number() OVER (
                   PARTITION BY fp ORDER BY quality DESC, doc_id ASC
               ) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    doc="Keep-BEST-duplicate dedup (§2.12 composite): exact dedup "
        "groups (normalized fingerprint) resolved by the q25 quality "
        "heuristic instead of min-id — the retention policy real "
        "corpus pipelines want (W1's priority-dedup shape applied to "
        "corpus hygiene). One shuffle on the fingerprint; quality is "
        "a narrow pre-shuffle projection, IEEE-exact across engines",
)
def q86_keep_best_duplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import (
        normalized_fingerprint,
    )
    from formula1_data_pipeline_spark.operators.dedup_priority import (
        dedup_by_priority,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")["documents"]
    scored = docs.select(
        "doc_id",
        normalized_fingerprint(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
    )
    return dedup_by_priority(
        scored, keys=["fp"],
        order=[F.col("quality").desc(), F.col("doc_id").asc()],
    )


@register(
    "q89_semantic_dedup",
    f"""
    WITH raw0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ), vecs AS (
        SELECT vec_id, vec FROM raw0
        WHERE vec IS NOT NULL AND len(vec) > 0
    ), cent AS (
        SELECT vec_id, vec,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS cluster,
               sqrt({_SQL_DOT.format(a='vec', b='vec')}) AS cnorm
        FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), scores AS (
        SELECT v.vec_id AS id, cent.cluster,
               {_SQL_DOT.format(a='v.vec', b='cent.vec')}
               / nullif(cent.cnorm, 0.0) AS score
        FROM vecs v CROSS JOIN cent
    ), ranked_a AS (
        SELECT id, cluster, row_number() OVER (
            PARTITION BY id ORDER BY score DESC, cluster ASC
        ) AS crank FROM scores
    ), assign_c AS (
        SELECT id, cluster FROM ranked_a WHERE crank <= 2
    ), pri AS (
        SELECT id, cluster FROM ranked_a WHERE crank = 1
    ), dropped AS (
        SELECT DISTINCT b.id AS id
        FROM assign_c a
        JOIN assign_c b USING (cluster)
        JOIN vecs av ON av.vec_id = a.id
        JOIN vecs bv ON bv.vec_id = b.id
        WHERE a.id < b.id
          AND round(
                  {_SQL_DOT.format(a='av.vec', b='bv.vec')}
                  / nullif(sqrt({_SQL_DOT.format(a='av.vec', b='av.vec')})
                           * sqrt({_SQL_DOT.format(a='bv.vec', b='bv.vec')}),
                           0.0),
              6) >= 0.4
    )
    SELECT p.id AS vec_id, p.cluster,
           p.id NOT IN (SELECT id FROM dropped) AS kept
    FROM pri p
    UNION ALL
    SELECT vec_id, -1 AS cluster, TRUE AS kept
    FROM raw0 WHERE vec IS NULL OR len(vec) = 0
    """,
    doc="SemDeDup-style semantic dedup (§2.12 composite; Abbas et al. "
        "2023): assign embeddings to their md5-sampled centroids "
        "(q34's quantizer), pairwise cosine WITHIN cells only, drop a "
        "doc iff a verified >= tau partner has a smaller id in a "
        "shared cell. Candidates are Voronoi cells, not sign-sketch "
        "buckets, so moderate-threshold semantic redundancy is found "
        "where q27's LSH blocking loses recall. Round 7: the gate "
        "runs n_assign=2 soft assignment (FAISS-style, as q34 already "
        "did for probes) — each vector is indexed in its 2 closest "
        "cells, so boundary-straddling pairs (the paper's documented "
        "miss, unit-tested at n_assign=1) become candidates when they "
        "share either cell; the reported cluster stays the primary "
        "cell. The production default is tau=0.99; the GATE runs "
        "tau=0.4 (synthetic embeddings top out at cos~0.51 — "
        "non-vacuous). Pair cost stays the paper's own model: "
        "O(n_assign * sum c_i^2), bounded by growing n_centroids "
        "~sqrt(N); the cell pair join rides the shared salted band "
        "join, verify attaches vectors to candidates only",
)
def q89_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_dedup(
        emb, dim=64, n_centroids=16, threshold=0.4, n_assign=2,
        id_col="vec_id", vec_col="embedding",
    ).select(
        F.col("id").alias("vec_id"), "cluster", "kept",
    )


def _q92_sql() -> str:
    from formula1_data_pipeline_spark.operators.quantize import (
        sq8_encode_sql,
        sq8_scales_sql,
    )

    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH scales AS ({sq8_scales_sql(vec, "embeddings", 64)})
    SELECT 'ivf_hash' AS method, 100 AS n_exact, true AS recall_ok,
           CAST(NULL AS BIGINT) AS vec_id,
           CAST(NULL AS VARCHAR) AS codes
    UNION ALL
    SELECT 'ivf_lloyd', 100, true, NULL, NULL
    UNION ALL
    SELECT 'ivf_lloyd_beats_hash', 100, true, NULL, NULL
    UNION ALL
    SELECT 'lsh', 100, true, NULL, NULL
    UNION ALL
    SELECT 'ivf_index', 21, true, NULL, NULL
    UNION ALL
    SELECT 'sq8', CAST(NULL AS INTEGER), TRUE, vec_id,
           array_to_string({sq8_encode_sql(vec)}, ',')
    FROM embeddings, scales
    WHERE vec_id < 50
    """


@register(
    "q92_ann_recall_clustered",
    _q92_sql(),
    doc="ANN recall gate on CLUSTERED embeddings (round 7; closes the "
        "round-6 finding that the driver-shipped structure-free "
        "gaussian table cannot distinguish a working quantizer from a "
        "broken one — recall there is candidate-fraction-bound, "
        "SCALE.md r6). The fixture is evalsets.clustered_embeddings: "
        "a seeded 20-component gaussian mixture (2000 x 16, std 0.6) "
        "where neighbors co-cluster, so cell quality IS recall. Four "
        "assertions, all computed in-query against the exact top-5 "
        "denominator and replayed literally by the oracle: the "
        "hash-sample-init IVF (20 cells, 1 probe) >= 0.55 (measured "
        "0.71 — a regression to random assignment measures ~0.10 and "
        "FAILS), the Lloyd-trained IVF (train_ivf_centroids, 3 "
        "iterations, same probe budget) >= 0.85 (measured 0.95), "
        "Lloyd >= hash-sample (training must not hurt), and the 16x5 "
        "LSH >= 0.90. Lloyd centroids are float means (partial-sum "
        "order varies), so the gate asserts BOUNDS, never value-"
        "hashes — the reason trained quantizers are gated here and "
        "not in q34's exact-replay oracle. Fifth row (round 11): the "
        "PERSISTED incremental IVF index (operators/vecindex.py) — "
        "build + landed-state probe on a second clustered fixture, "
        "top-1 recall >= 0.85 vs exact; q34's r10 gate pins the "
        "index MECHANICS under a value hash, this row pins the "
        "trained-quantizer QUALITY the mechanics hash cannot see. "
        "kind='sq8' rows (round 13, operators/quantize.py): int8 "
        "scalar quantization of the sf embeddings table — the 4x "
        "storage tier under the ANN stack. Scales are per-dimension "
        "max(abs) — order-free exact SELECTIONS, not float sums — so "
        "the codes are bit-identical cross-engine and sit under the "
        "FULL value hash (serialized to a fixed-format string per "
        "the driver-canon scalar-only rule), where trained "
        "quantizers bound; recall_ok carries the per-row "
        "reconstruction-bound boolean computed engine-side from the "
        "DECODED values (a drifting code flips it). One d-column "
        "aggregate pass for scales, then shuffle-free codegen'd "
        "encode/decode with the scales inlined as literals",
)
def q92_ann_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.concurrency import overlap
    from formula1_data_pipeline_spark.evalsets import clustered_embeddings
    from formula1_data_pipeline_spark.operators.quantize import (
        sq8_decode,
        sq8_encode,
        sq8_scales,
    )
    from formula1_data_pipeline_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        ivf_flat_topk,
        train_ivf_centroids,
    )

    # the fixture is a JVM local relation (session.local_frame), so the
    # six legs' jobs scan it with no Python-worker leg and nothing to
    # checkpoint; 8 partitions keep the many tiny downstream stages
    # task-lean on local[32]
    emb = clustered_embeddings(spark, n=2000, dim=16, n_clusters=20,
                               std=0.6, seed=7).coalesce(8)
    queries = emb.filter(F.col("vec_id") < 20)

    def pairs(df):
        return {(r.q_id, r.n_id)
                for r in df.select("q_id", "n_id").collect()}

    def lloyd_pairs():
        # training is one sample job plus 3 driver-side Lloyd rounds,
        # then the probe pipeline; recall on this fixture saturates
        # at 0.95 by iteration 2 (measured; 5 iters identical)
        coefs = train_ivf_centroids(emb, n_centroids=20, n_iter=3,
                                    id_col="vec_id",
                                    vec_col="embedding")
        return pairs(ivf_flat_topk(
            emb, queries, dim=16, k=5, n_probe=1,
            id_col="vec_id", vec_col="embedding",
            centroid_coefs=coefs))

    def index_row():
        # the persisted-index leg (round 11): its own smaller
        # clustered fixture + scratch index dir; build is Lloyd
        # training + three txn commits, probe reads the LANDED
        # cluster-partitioned lists (file-level pruning)
        from formula1_data_pipeline_spark.operators.vecindex import (
            ivf_index_build,
            ivf_index_topk,
        )
        from formula1_data_pipeline_spark.scratch import scratch_dir

        # a local relation like the main fixture: the build scans this
        # frame once to train and 3x for the lists/bloom-count/bloom-
        # words passes (recompute-from-scan is the keeper — r14's
        # measured revert), each a JVM scan
        emb_s = clustered_embeddings(spark, n=600, dim=16,
                                     n_clusters=8).coalesce(4)
        idx = str(scratch_dir(prefix="q92_ivfidx_"))
        ivf_index_build(spark, emb_s, idx, n_centroids=8, n_iter=5)
        q2 = emb_s.filter(F.col("vec_id") % 29 == 0)
        # the two probe collects read disjoint inputs (landed index
        # vs fixture) — overlap them (guide §2.6; r14 optimization)
        approx, exact2 = overlap(spark, [
            ("q92 index leg: probe topk",
             lambda: pairs(ivf_index_topk(spark, idx, q2, k=1,
                                          n_probe=3))),
            ("q92 index leg: exact topk",
             lambda: pairs(cosine_topk(emb_s, q2, k=1,
                                       id_col="vec_id",
                                       vec_col="embedding"))),
        ])
        rec = len(exact2 & approx) / max(len(exact2), 1)
        return ("ivf_index", len(exact2), rec >= 0.85)

    def sq8_rows() -> DataFrame:
        # the sq8 leg runs on the SF embeddings table (the other legs
        # use the clustered fixture): scales fit on the corpus, codes
        # for vec_id < 50 gate under the full value hash, and the
        # recon bound is computed from the DECODED values so a
        # drifting code flips recall_ok
        sf_emb = load(spark, sf_dir, "embeddings")["embeddings"]
        scales = sq8_scales(sf_emb, "embedding", 64)
        dec = sq8_decode(
            sq8_encode(sf_emb, "embedding", scales), "sq8", scales)
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
        return dec.filter(F.col("vec_id") < 50).select(
            F.lit("sq8").alias("method"),
            F.lit(None).cast("long").alias("n_exact"),
            err_ok.alias("recall_ok"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.concat_ws(",", F.col("sq8").cast("array<string>"))
            .alias("codes"),
        )

    exact, lsh, hash_p, lloyd_p, idx_row, sq8_collected = overlap(spark, [
        ("q92: exact topk", lambda: pairs(cosine_topk(
            emb, queries, k=5, id_col="vec_id", vec_col="embedding"))),
        ("q92: lsh topk", lambda: pairs(ann_lsh_topk(
            emb, queries, dim=16, k=5, n_tables=16, n_planes=5,
            id_col="vec_id", vec_col="embedding"))),
        ("q92: ivf_hash topk", lambda: pairs(ivf_flat_topk(
            emb, queries, dim=16, k=5, n_centroids=20, n_probe=1,
            id_col="vec_id", vec_col="embedding"))),
        ("q92: ivf_lloyd leg", lloyd_pairs),
        ("q92: index leg", index_row),
        ("q92: sq8 leg", lambda: sq8_rows().collect()),
    ])
    r_hash = len(exact & hash_p) / len(exact)
    r_lloyd = len(exact & lloyd_p) / len(exact)
    rows = [
        ("ivf_hash", len(exact), r_hash >= 0.55, None, None),
        ("ivf_lloyd", len(exact), r_lloyd >= 0.85, None, None),
        ("ivf_lloyd_beats_hash", len(exact), r_lloyd >= r_hash,
         None, None),
        ("lsh", len(exact),
         len(exact & lsh) >= 0.90 * len(exact), None, None),
        idx_row + (None, None),
    ] + [tuple(r) for r in sq8_collected]
    return local_frame(
        spark, rows, "method string, n_exact long, recall_ok boolean, "
        "vec_id long, codes string")


def _bpe_train_ctes(n_merges: int, src: str = "documents") -> list[str]:
    """Unrolled DuckDB CTE replay of ``bpe.train_bpe_merges`` over
    ``src(doc_id, text)``: one (pair-count -> lexicographic argmax ->
    literal replace) CTE trio per merge round, ending at
    ``w{n_merges}(w, freq, repr)`` with the chosen pairs in
    ``best0..best{n_merges-1}``. Training replays exactly because
    every step is integer counting, binary ASCII ordering, or
    non-overlapping left-to-right replace (see operators/bpe.py
    docstring). Shared by the q95 merge-table oracle and the q97
    flagship so they cannot drift."""
    pat = _bpe_sql_pattern()
    ctes = [f"""w0 AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq,
               array_to_string(list_transform(
                   regexp_extract_all(w, '.'),
                   c -> '|' || c || '|'), '') AS repr
        FROM (SELECT unnest(regexp_extract_all(text, '{pat}')) AS w
              FROM {src})
        WHERE NOT contains(w, '|')
        GROUP BY w
    )"""]
    for k in range(n_merges):
        ctes.append(f"""p{k} AS (
        SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(syms)),
                       i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS pr
            FROM (SELECT freq,
                         list_filter(string_split(repr, '|'),
                                     x -> x <> '') AS syms
                  FROM w{k})
        )
        GROUP BY 1, 2
    ), best{k} AS (
        SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
    ), w{k + 1} AS MATERIALIZED (
        -- LEFT JOIN (not CROSS): when training stops early best{k}
        -- is EMPTY, and a cross join would zero every later round
        -- while the Spark trainer correctly returns the short merge
        -- list; the null-pattern replace coalesces to the unchanged
        -- repr instead
        SELECT w, freq,
               coalesce(replace(repr, '|' || a || '||' || b || '|',
                                '|' || a || b || '|'), repr) AS repr
        FROM w{k} LEFT JOIN best{k} ON TRUE
    )""")
    return ctes


def _bpe_train_sql(n_merges: int) -> str:
    """q95's full oracle: the training CTE chain + the merge table."""
    ctes = _bpe_train_ctes(n_merges)
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_count FROM best{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


@register(
    "q95_bpe_merge_training",
    _bpe_train_sql(10),
    doc="Distributed BPE merge training (§2.12, round 8 — round-7 "
        "verdict 'What's missing' #2; Sennrich et al. 2016, arXiv "
        "1508.07909): learn the first 10 merges of a byte-pair vocab "
        "from the corpus itself — the tokenizer-training step between "
        "q33's fixed-regex cost estimation and shipping tokenized "
        "shards. The Lloyd-trainer shape: ONE corpus pass builds the "
        "vocabulary-sized (word, freq) table; each round is one "
        "partial-aggregated pair-count pass over that table plus a "
        "TakeOrdered argmax to the driver (merge state = n_merges "
        "short strings, a bounded scalar); the symbol representation "
        "re-derives per round from a chain of literal replaces, so "
        "the plan never deepens with shuffles. Training replays "
        "EXACTLY in the unrolled-SQL oracle: integer pair counts, "
        "lexicographic (cnt desc, lhs, rhs) tie-break, non-"
        "overlapping left-to-right literal replace over the "
        "pipe-wrapped symbol encoding ('|a||b|' -> '|ab|' — the "
        "double delimiter prevents both in-symbol false matches and "
        "boundary consumption between adjacent occurrences)",
)
def q95_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.bpe import (
        merges_df,
        train_bpe_merges,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return merges_df(spark, train_bpe_merges(docs, n_merges=10))


@register(
    "q96_semantic_dedup_trained",
    """
    SELECT 'hash' AS method, true AS recall_ok
    UNION ALL
    SELECT 'lloyd', true
    UNION ALL
    SELECT 'lloyd_beats_hash', true
    UNION ALL
    SELECT 'n_exact_in_range', true
    """,
    doc="Trained-quantizer semantic dedup gate (round 8 — round-7 "
        "verdict item #5): feed train_ivf_centroids output through "
        "semantic_dedup's cell assignment and bound the improvement "
        "over the hash-sample init at EQUAL n_assign=1 on the "
        "clustered fixture (800 x 16, 20 mixtures, std 0.7, tau "
        "0.85). Ground truth is the SAME operator with one cell — "
        "all pairs verified exactly, so method drops are a subset "
        "and dropped-doc recall is well-defined. Floors: hash-init "
        ">= 0.60 (measured 0.79 — boundary-straddling pairs split "
        "across sampled-point cells), Lloyd-trained >= 0.90 "
        "(measured 0.98: trained cells track the true mixture, so "
        "co-clustered pairs co-cell), trained >= hash (the BINDING "
        "training-must-help assertion), and the exact dup count in "
        "[150, 400] (fixture sanity — a threshold or verify "
        "regression empties or floods it). Bounds, never value "
        "hashes: trained centroids are float means (q92 rule)",
)
def q96_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.concurrency import overlap
    from formula1_data_pipeline_spark.evalsets import clustered_embeddings
    from formula1_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    # a JVM local relation (the q92 fixture note): three legs each run
    # several jobs over it with no Python-worker leg
    emb = clustered_embeddings(spark, n=800, dim=16, n_clusters=20,
                               std=0.7, seed=11).coalesce(4)

    def dropped(**kw):
        return {
            r["id"]
            for r in semantic_dedup(
                emb, dim=16, threshold=0.85, id_col="vec_id",
                vec_col="embedding", **kw,
            ).collect()
            if not r["kept"]
        }

    def exact_dropped():
        # ground-truth leg (r15 optimization, verdict item 5): the
        # n_centroids=1 semantic_dedup run degenerates to "every
        # (a < b) pair verified exactly" — compute THAT directly
        # (one pool-bounded pair join + the operator's own verify
        # expression) instead of routing all pairs through the full
        # assignment + salted-band-join + two id-join machinery.
        # Drop-set equality with semantic_dedup(n_centroids=1) is
        # exact (same cosine expression on the same pairs; pinned by
        # tests/test_similarity.py::
        # test_exact_all_pairs_twin_matches_one_cell_semantic_dedup).
        # The METHOD legs keep the real operator — this leg is the
        # denominator, not the operator under test.
        from formula1_data_pipeline_spark.operators.similarity import (
            _as_double,
            cosine_from_norms,
            norm,
        )

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
        pairs = a.join(b, F.col("a_id") < F.col("b_id"))
        return {
            r["b_id"]
            for r in pairs.select(
                "b_id",
                F.round(cosine_from_norms(
                    F.col("a_vec"), F.col("b_vec"),
                    F.col("a_norm"), F.col("b_norm")), 6)
                .alias("cos_sim"),
            ).filter(F.col("cos_sim") >= 0.85)
            .select("b_id").distinct().collect()
        }

    def lloyd_dropped():
        coefs = train_ivf_centroids(emb, n_centroids=20, n_iter=3,
                                    id_col="vec_id", vec_col="embedding")
        return dropped(n_centroids=20, n_assign=1, centroid_coefs=coefs)

    exact, hash_d, lloyd_d = overlap(spark, [
        ("q96: exact leg", exact_dropped),
        ("q96: hash leg", lambda: dropped(n_centroids=20, n_assign=1)),
        ("q96: lloyd leg", lloyd_dropped),
    ])
    ne = max(len(exact), 1)
    r_hash = len(hash_d & exact) / ne
    r_lloyd = len(lloyd_d & exact) / ne
    rows = [
        ("hash", r_hash >= 0.60),
        ("lloyd", r_lloyd >= 0.90),
        ("lloyd_beats_hash", r_lloyd >= r_hash),
        ("n_exact_in_range", 150 <= len(exact) <= 400),
    ]
    return local_frame(spark, rows, "method string, recall_ok boolean")


def _bpe_tokenize_sql(n_merges: int = 10) -> str:
    """q98's oracle: replay training (shared CTE chain), rebuild the
    GPT-style vocab (base alphabet in binary char order, then one id
    per merge in training order), and emit the positioned token
    stream with ids."""
    pat = _bpe_sql_pattern()
    ctes = ",\n    ".join(_bpe_train_ctes(n_merges, "documents"))
    merge_rows = "\n        UNION ALL ".join(
        f"SELECT {k} AS k, a, b FROM best{k}" for k in range(n_merges)
    )
    return f"""
    WITH {ctes},
    chars AS (
        SELECT DISTINCT unnest(regexp_extract_all(w, '.')) AS sym
        FROM w0
    ), vc AS (
        SELECT sym,
               CAST(row_number() OVER (ORDER BY sym) - 1 AS INT)
                   AS token_id
        FROM chars
    ), nch AS (SELECT count(*) AS n FROM vc),
    vm AS (
        SELECT m.a || m.b AS sym, CAST(nch.n + m.k AS INT) AS token_id
        FROM nch, ({merge_rows}) m
    ), vocab AS (
        SELECT sym, token_id FROM vc
        UNION ALL SELECT sym, token_id FROM vm
    ), docw AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS widx,
               unnest(ws) AS w
        FROM (SELECT doc_id, regexp_extract_all(text, '{pat}') AS ws
              FROM documents)
    ), wsyms AS (
        SELECT d.doc_id, d.widx,
               CASE WHEN contains(d.w, '|')
                    THEN regexp_extract_all(d.w, '.')
                    ELSE list_filter(string_split(wv.repr, '|'),
                                     x -> x <> '') END AS syms
        FROM docw d LEFT JOIN w{n_merges} wv ON wv.w = d.w
    ), toks AS (
        SELECT doc_id, widx, generate_subscripts(syms, 1) AS sidx,
               unnest(syms) AS sym
        FROM wsyms
    ), positioned AS (
        SELECT doc_id, sym,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY widx, sidx
               ) - 1 AS BIGINT) AS pos
        FROM toks
    )
    SELECT p.doc_id, p.pos, p.sym,
           CAST(coalesce(v.token_id, -1) AS INT) AS token_id
    FROM positioned p LEFT JOIN vocab v ON v.sym = p.sym
    """


#: q98 unigram legs: seed-vocab size (below the corpus's distinct
#: piece count at every tested sf so the top-multi LIMIT and the
#: (count desc, piece) rank ties BIND) and the shared word twin of
#: the oracle's words CTE (lower/trim/whitespace split — NOT
#: bpe.word_freqs, whose GPT-2 pre-tokenizer keeps case and leading
#: spaces no plain-SQL oracle can reproduce)
_UNIGRAM_V = 120

# DuckDB twin of the unigram word table + seed vocabulary + span
# lattice, shared by the kind='unigram' Viterbi leg and the
# kind='eval' scorecard leg (each instantiates it inside its own
# subquery scope — the piece scores differ: rank-valued vs uniform)
_UNIGRAM_BASE_CTES = r"""words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq, length(w) AS len
        FROM (
            SELECT unnest(list_filter(regexp_split_to_array(
                       trim(lower(text)), '\s+'), x -> x <> '')) AS w
            FROM documents
        )
        WHERE length(w) <= 32
        GROUP BY w
    ), subs AS (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq, unnest(flatten(
                list_transform(range(0, len), i ->
                    list_transform(range(i + 1,
                                         least(i + {P}, len) + 1),
                                   j -> substring(w, i + 1, j - i)))
            )) AS piece
            FROM words
        )
        GROUP BY piece
    ), uchars AS (
        SELECT piece, cnt FROM subs WHERE length(piece) = 1
    ), umulti AS (
        SELECT piece, cnt FROM subs WHERE length(piece) > 1
        ORDER BY cnt DESC, piece
        LIMIT {V} - (SELECT count(*) FROM uchars)
    ), useed AS (
        SELECT * FROM uchars UNION ALL SELECT * FROM umulti
    ), spans_all AS (
        SELECT w, i, j, substring(w, i + 1, j - i) AS piece
        FROM (
            SELECT w, len, i,
                   unnest(range(i + 1, least(i + {P}, len) + 1)) AS j
            FROM (SELECT w, len, unnest(range(0, len)) AS i
                  FROM words)
        )
    )"""

#: the shared Viterbi DP over a `spans` CTE (w, i, j, logp) — one
#: list-typed accumulator per word, position-ordered adds
_UNIGRAM_DP_CTES = r"""dp AS (
        SELECT w, len, 0 AS j, [CAST(0 AS DOUBLE)] AS best FROM words
        UNION ALL
        SELECT d.w, d.len, d.j + 1,
               list_append(d.best,
                   COALESCE(MAX(d.best[sp.i + 1] + sp.logp), -1e300))
        FROM dp d LEFT JOIN spans sp
             ON sp.w = d.w AND sp.j = d.j + 1
        WHERE d.j < d.len
        GROUP BY d.w, d.len, d.j, d.best
    )"""


def _q98_sql(n_merges: int = 10) -> str:
    """q98's oracle: the BPE positioned token stream (kind='bpe'),
    the unigram Viterbi score lattice under the rank-valued seed
    vocab (kind='unigram' — logp := -rank(piece), integer-valued
    doubles, adds-only, no libm on either engine; the q92 rule's
    exact-mechanics half, trained EM floats stay bounds-gated in
    tests/test_unigram.py), and the tokenizer-eval scorecard at
    UNIFORM weights (kind='eval' — -score = n_pieces + 1023*n_unk
    decomposes uniquely, so min-token fertility/compression/UNK/
    coverage are trained-float-free). Each leg keeps its own WITH
    scope — the BPE chain and the two unigram lattices share CTE
    names (vocab, chars) that must not collide."""
    import textwrap

    P, V = 8, _UNIGRAM_V  # MAX_PIECE_LEN twin; asserted in tests
    base = (_UNIGRAM_BASE_CTES
            .replace("{P}", str(P)).replace("{V}", str(V)))
    uni_leg = f"""
    WITH RECURSIVE {base}, uvocab AS (
        SELECT piece,
               -CAST(row_number() OVER (ORDER BY cnt DESC, piece)
                     AS DOUBLE) AS logp
        FROM useed
    ), spans AS (
        SELECT s.w, s.i, s.j, v.logp
        FROM spans_all s JOIN uvocab v USING (piece)
        UNION ALL
        SELECT s.w, s.i, s.j, CAST(-20.0 AS DOUBLE) AS logp
        FROM spans_all s ANTI JOIN uvocab v USING (piece)
        WHERE s.j = s.i + 1
    ), {_UNIGRAM_DP_CTES}
    SELECT w, CAST(j AS BIGINT) AS pos, best[j + 1] AS score
    FROM (SELECT w, len, best, unnest(range(1, len + 1)) AS j
          FROM dp WHERE j = len)
    """
    eval_leg = f"""
    WITH RECURSIVE {base}, spans AS (
        SELECT s.w, s.i, s.j, CAST(-1 AS DOUBLE) AS logp
        FROM spans_all s JOIN useed v USING (piece)
        UNION ALL
        SELECT s.w, s.i, s.j, CAST(-1024 AS DOUBLE) AS logp
        FROM spans_all s ANTI JOIN useed v USING (piece)
        WHERE s.j = s.i + 1
    ), {_UNIGRAM_DP_CTES}, stats AS (
        SELECT w, CAST(len AS BIGINT) AS n_chars,
               CAST(floor(-best[len + 1] / 1023) AS BIGINT) AS n_unk,
               CAST(-best[len + 1]
                    - 1023 * floor(-best[len + 1] / 1023) AS BIGINT)
                   AS n_pieces
        FROM dp WHERE j = len
    ), agg AS (
        SELECT CAST(sum(freq) AS BIGINT) AS n_words,
               CAST(sum(freq * n_pieces) AS BIGINT) AS n_tokens,
               CAST(sum(freq * n_chars) AS BIGINT) AS n_chars,
               CAST(sum(freq * n_unk) AS BIGINT) AS n_unk,
               CAST(sum(CASE WHEN n_unk = 0 THEN freq ELSE 0 END)
                    AS BIGINT) AS n_covered
        FROM stats JOIN words USING (w)
    )
    SELECT key, n, score FROM (
        SELECT 'n_words' AS key, n_words AS n,
               CAST(NULL AS DOUBLE) AS score FROM agg
        UNION ALL SELECT 'n_tokens', n_tokens, NULL FROM agg
        UNION ALL SELECT 'n_chars', n_chars, NULL FROM agg
        UNION ALL SELECT 'n_unk', n_unk, NULL FROM agg
        UNION ALL SELECT 'n_covered', n_covered, NULL FROM agg
        UNION ALL SELECT 'fertility', NULL,
            round(CAST(n_tokens AS DOUBLE) / n_words, 6) FROM agg
        UNION ALL SELECT 'chars_per_token', NULL,
            round(CAST(n_chars AS DOUBLE) / n_tokens, 6) FROM agg
        UNION ALL SELECT 'unk_rate', NULL,
            round(CAST(n_unk AS DOUBLE) / n_tokens, 6) FROM agg
        UNION ALL SELECT 'coverage', NULL,
            round(CAST(n_covered AS DOUBLE) / n_words, 6) FROM agg
    )
    """
    bpe = textwrap.indent(_bpe_tokenize_sql(n_merges), "    ")
    return f"""
    SELECT 'bpe' AS kind, sym AS key, doc_id,
           pos, CAST(token_id AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS score
    FROM (
    {bpe}
    ) bleg
    UNION ALL
    SELECT 'unigram', w, CAST(NULL AS BIGINT), pos,
           CAST(NULL AS BIGINT), score
    FROM ({uni_leg}) uleg
    UNION ALL
    SELECT 'eval', key, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n, score
    FROM ({eval_leg}) eleg
    """


@register(
    "q98_bpe_tokenize",
    _q98_sql(10),
    doc="Trained-vocab corpus tokenization (round 8): encode every "
        "document with the q95-trained merges into the positioned "
        "token-id stream — (doc_id, pos, sym, token_id), ids "
        "GPT-style (base alphabet in binary char order, then one id "
        "per merge in training order; the alphabet is a "
        "driver-bounded scalar like the k-means centroids). The "
        "shippable form of the tokenizer story: train (q95) -> "
        "encode (here) -> pack (q64) -> shard (q94); exploded rather "
        "than array-valued because at corpus scale the token stream "
        "IS the dataset and downstream packing/stats/shard-writes "
        "consume it relationally. Pure codegen'd string expressions "
        "+ one broadcast vocab join + one per-doc window for pos; "
        "out-of-vocab symbols -1, delimiter words degrade to raw "
        "chars rather than lying. The oracle replays training via "
        "the shared CTE chain and the encoding exactly. "
        "kind='unigram' (round 12): the SECOND subword algorithm "
        "(operators/unigram.py, Kudo 2018) — the full Viterbi score "
        "lattice per (word, position) under the rank-valued seed "
        "vocab (logp := -rank; integer doubles, adds-only, zero "
        "libm => every DP cell sits under the value hash; EM-trained "
        "floats stay bounds-gated in tests/test_unigram.py per the "
        "q92 rule). kind='eval': the tokenizer-quality scorecard "
        "(fertility / chars_per_token / unk_rate / coverage) at "
        "UNIFORM piece weights, where -score = n_pieces + 1023*n_unk "
        "decomposes uniquely — vocabulary quality with no trained "
        "floats anywhere. Both unigram legs cost O(distinct words), "
        "never corpus-shaped",
)
def q98_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import unigram as U
    from formula1_data_pipeline_spark.operators.bpe import (
        bpe_tokenize,
        build_vocab,
        train_bpe_merges,
        word_freqs,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    # one persisted vocabulary-sized word table shared by the trainer
    # (10 pair-count rounds) and the alphabet collection — the corpus
    # is pre-tokenized once
    words = word_freqs(docs).persist()
    try:
        trained = train_bpe_merges(docs, n_merges=10, words=words)
        vocab = build_vocab(spark, docs, trained, words=words)
    finally:
        words.unpersist()
    nul_l = F.lit(None).cast("bigint")
    bpe = bpe_tokenize(docs, trained, vocab).select(
        F.lit("bpe").alias("kind"),
        F.col("sym").alias("key"),
        "doc_id",
        "pos",
        F.col("token_id").cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )

    # unigram legs share one (word, freq) table — the oracle's words
    # CTE twin (plain lower/trim/whitespace split, len <= 32)
    uwords = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
            .alias("w")
        )
        .filter((F.col("w") != "") & (F.length("w") <= U.MAX_WORD_LEN))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    from pyspark.sql import Window

    seed = U.seed_pieces(uwords, _UNIGRAM_V)
    # rank-valued scores over a TOTAL (count desc, piece) order — the
    # global window is vocabulary-sized (<= _UNIGRAM_V rows), not
    # data-scale (the audited WindowExec-warning class)
    rank_w = Window.orderBy(F.col("count").desc(), F.col("piece"))
    uvocab = seed.select(
        "piece",
        (-F.row_number().over(rank_w)).cast("double").alias("logp"),
    )
    uni = U.viterbi_scores(uwords, uvocab).select(
        F.lit("unigram").alias("kind"),
        F.col("w").alias("key"),
        nul_l.alias("doc_id"),
        F.col("j").cast("bigint").alias("pos"),
        nul_l.alias("n"),
        F.col("best").alias("score"),
    )
    ev = U.tokenizer_eval(uwords, seed.select("piece"))
    counts = ["n_words", "n_tokens", "n_chars", "n_unk", "n_covered"]
    ratios = ["fertility", "chars_per_token", "unk_rate", "coverage"]
    stack = ", ".join(
        [f"'{c}', cast({c} as bigint), cast(null as double)"
         for c in counts]
        + [f"'{c}', cast(null as bigint), {c}" for c in ratios]
    )
    ev_long = ev.selectExpr(
        f"stack(9, {stack}) as (key, n, score)"
    ).select(
        F.lit("eval").alias("kind"),
        "key",
        nul_l.alias("doc_id"),
        nul_l.alias("pos"),
        "n",
        "score",
    )
    return bpe.unionByName(uni).unionByName(ev_long)


@register(
    "q99_quality_classifier",
    """
    SELECT 'holdout_accuracy_ok' AS check_name, true AS ok
    UNION ALL
    SELECT 'beats_majority', true
    UNION ALL
    SELECT 'split_fraction_ok', true
    """,
    doc="Trained quality classifier (round 8; round 10 adds the "
        "fastText tier): distributed full-batch logistic regression — "
        "the 'train a quality model from exemplar labels' step "
        "production corpora run on top of hand heuristics. Features "
        "are the 4 q25-derived heuristics PLUS 32 hashed bag-of-words "
        "buckets over the text itself (classify.hashed_bow_dense — "
        "the hashing trick: one explode + one map-side partial-agg "
        "(doc, bucket) count, L1-normalized row-locally; the GPT-3/"
        "CCNet classifier learns the vocabulary, not just ratios). "
        "The Lloyd/BPE-trainer shape: weights driver-resident "
        "(n_features+1 doubles), each of 30 iterations ONE fused "
        "map-side partial-aggregated pass emitting every gradient "
        "component (weights enter as literals, plan depth constant; "
        "scoring is a shuffle-free projection); train_logreg now "
        "drops NULL-feature/label rows in-trainer (round-8 ADVICE, "
        "landed this re-gate). Labels bootstrap from the q25 "
        "heuristic (quality >= 0.7); train/test membership is the "
        "repo's deterministic md5 hash split (80/20, salt "
        "clf-split-v1), so the evaluation set is engine-reproducible "
        "while the trained floats are gated with BOUNDS (q92 rule): "
        "holdout accuracy >= 0.85, >= majority-class + 0.05 (an "
        "untrained or diverged model FAILS), and the test split "
        "within 15-25% of the corpus (split sanity at any sf)",
)
def q99_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.classify import (
        hashed_bow_dense,
        predict_proba,
        quality_features,
        train_logreg,
    )
    from formula1_data_pipeline_spark.operators.sampling import hash_bucket
    from formula1_data_pipeline_spark.operators.text import quality_score

    N_BOW = 32
    docs = load(spark, sf_dir, "documents")["documents"]
    feats = quality_features(F.col("text"))
    names = [n for n, _ in feats] + [f"f_bow{j}" for j in range(N_BOW)]
    bow = hashed_bow_dense(docs, n_features=N_BOW, salt="q99-bow-v1")
    d = (
        docs.select(
            "doc_id",
            *[c.alias(n) for n, c in feats],
            (quality_score(F.col("text")) >= 0.7).alias("label"),
            (hash_bucket(F.col("doc_id"), "clf-split-v1") < 80)
            .alias("is_train"),
        )
        .join(bow, "doc_id")
        .select(
            "doc_id", "label", "is_train",
            *[F.col(n) for n, _ in feats],
            *[F.col("features")[j].alias(f"f_bow{j}")
              for j in range(N_BOW)],
        )
    )
    # the feature frame is re-read once per gradient pass; cache the
    # skinny projection (5 doubles + 2 bools per doc) so 50 passes
    # don't re-tokenize the corpus 50 times — at deployment scale
    # this is the landed feature table, as q97 lands its cleaned
    # corpus
    d = d.cache()
    try:
        # 30 iterations (was 50): each iteration is one sequential
        # gradient job; measured round 14, the holdout bound is flat
        # past 30 (acc 0.9558 at 30 AND 50 at sf0.01; 0.969 vs 0.972
        # at sf0.1, floors 0.85/majority+0.05) while 20 fails it —
        # 30 keeps a >0.10 margin and sheds 20 jobs off the gate wall
        w, b = train_logreg(d.filter(F.col("is_train")), names, "label",
                            n_iter=30, lr=5.0)
        test = d.filter(~F.col("is_train"))
        r = test.select(
            ((predict_proba(names, w, b) >= 0.5) == F.col("label"))
            .cast("double").alias("hit"),
            F.col("label").cast("double").alias("y"),
        ).agg(
            F.avg("hit").alias("acc"),
            F.avg("y").alias("base"),
            F.count(F.lit(1)).alias("n_test"),
        ).collect()[0]
        n_total = d.count()
    finally:
        d.unpersist()
    majority = max(r["base"], 1.0 - r["base"])
    frac = r["n_test"] / max(n_total, 1)
    rows = [
        ("holdout_accuracy_ok", bool(r["acc"] >= 0.85)),
        ("beats_majority", bool(r["acc"] >= majority + 0.05)),
        ("split_fraction_ok", bool(0.15 <= frac <= 0.25)),
    ]
    return local_frame(spark, rows, "check_name string, ok boolean")
