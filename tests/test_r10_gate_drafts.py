"""Round-10 gate drafts — full cross-engine oracle parity for the
operators pre-staged this round whose catalog entries are deferred
for gate-budget reasons (the r8→r9 pattern: the 50-row budget is
exactly consumed by the 47 r7-stale re-gates + q18/q19/q97, and the
catalog at 99 entries only fits the budget as a strict alternation —
so new operators ship parity-proven here and take their catalog rows,
or ride a composite gate, in round 10):

  * ``operators/lm.py``        — stupid-backoff bigram LM quality
                                 scoring (CCNet-style filter)
  * ``operators/retrieval.py`` — BM25 top-k ranked retrieval
  * ``operators/lines.py``     — line-level corpus dedup (CCNet
                                 paragraph dedup / C4 boilerplate
                                 removal) + boilerplate audit
  * ``operators/selection.py`` — token-budget data selection
                                 ("keep the best B tokens")
  * ``operators/classify.py``  — hashed bag-of-words features
                                 (fastText-style trained filter)
  * ``operators/coreset.py``   — greedy k-center diversity selection
                                 (farthest-point traversal)
  * ``queries_curation.py``    — the COMPOSITE chain gate (line
                                 dedup -> LM scoring -> token-budget
                                 selection): round 10 has exactly ONE
                                 free catalog row (49 r8-stale
                                 re-gates fill the rest), and this
                                 composite is the intended tenant —
                                 the remaining operators ride
                                 CHANGED extensions of already-due
                                 queries (see CHANGELOG round 9,
                                 "round-10 landing plan")

Row-for-row dict compares (stricter than the harness's sorted value
hash) at sf0.001; the catalog gates will run the same SQL at sf0.01.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

_SQL_TOKS = (
    r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), "
    r"x -> x <> '')"
)


def _con():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    return con


def test_ngram_lm_oracle_parity(spark):
    """The intended r10 gate: train the bigram LM on the clean
    reference slice, score EVERY doc. The synthetic corpus draws from
    a ~30-word vocabulary whose bigram space the reference slice
    covers completely, so (the q44 pattern) the gate input augments
    documents deterministically to make the buckets discriminative:
    doc_id%3==0 -> every token suffixed with the doc_id (fully OOV,
    the 'tail' probe), %3==1 -> original text + its OOV twin + an
    in-vocab coda (the 'middle' + backoff probe), %3==2 -> untouched
    (the reference slice and 'head' probe). All aggregation is
    integer sums; each score is one IEEE divide rounded to 6 dp, so
    rows replay bit-for-bit in DuckDB."""
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.lm import (
        score_ngram_lm,
        train_ngram_lm,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score
    from formula1_data_pipeline_spark.queries import load
    from formula1_data_pipeline_spark.queries_llm import _sql_quality

    raw = load(spark, SF_DIR, "documents")["documents"]
    oov = F.array_join(
        F.transform(
            tokens(F.col("text")),
            lambda x: F.concat(x, F.lit("-"), F.col("doc_id").cast("string")),
        ),
        " ",
    )
    docs = raw.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, oov)
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(" "), oov, F.lit(" scan merge")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    is_ref = (F.col("doc_id") % 3 == 2) & (
        quality_score(F.col("text")) >= 0.7
    )
    model = train_ngram_lm(docs, is_ref)
    got = {
        r["doc_id"]: (
            r["n_bigrams"], r["n_hits"], r["n_oov"], r["hit_rate"],
            r["cond_score"], r["backoff_score"], r["quality_bucket"],
        )
        for r in score_ngram_lm(docs, model).collect()
    }

    quality = _sql_quality("toks", "list_distinct(toks)")
    aug_oov = (
        "array_to_string(list_transform(toks, "
        "x -> x || '-' || CAST(doc_id AS VARCHAR)), ' ')"
    )
    oracle = f"""
    WITH t0 AS (
        SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
    ), aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN {aug_oov}
                    WHEN doc_id % 3 = 1 THEN
                        text || ' ' || {aug_oov} || ' scan merge'
                    ELSE text END AS text
        FROM t0
    ), t AS (
        SELECT doc_id, text, {_SQL_TOKS} AS toks FROM aug
    ), flagged AS (
        SELECT doc_id, toks,
               doc_id % 3 = 2 AND ({quality}) >= 0.7 AS is_ref
        FROM t
    ), ref_tok AS (
        SELECT unnest(toks) AS w FROM flagged WHERE is_ref
    ), uni AS (
        SELECT w, count(*) AS c1 FROM ref_tok GROUP BY 1
    ), tot AS (
        SELECT count(*) AS n_ref_tokens FROM ref_tok
    ), idx AS (
        SELECT doc_id, is_ref, toks,
               unnest(range(2, len(toks) + 1)) AS i
        FROM flagged
    ), pairs AS (
        SELECT doc_id, is_ref, toks[i - 1] AS w1, toks[i] AS w2 FROM idx
    ), big AS (
        SELECT w1, w2, count(*) AS c2 FROM pairs WHERE is_ref GROUP BY 1, 2
    ), joined AS (
        SELECT p.doc_id, b.c2, u1.c1 AS c1_prefix, u2.c1 AS c1_cont
        FROM pairs p
        LEFT JOIN big b USING (w1, w2)
        LEFT JOIN uni u1 ON u1.w = p.w1
        LEFT JOIN uni u2 ON u2.w = p.w2
    ), agg AS (
        SELECT doc_id,
               count(*) AS n_bigrams,
               sum(CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END) AS n_hits,
               sum(CASE WHEN c1_cont IS NULL THEN 1 ELSE 0 END) AS n_oov,
               sum(CASE WHEN c2 IS NOT NULL THEN c2 ELSE 0 END) AS hit_num,
               sum(CASE WHEN c2 IS NOT NULL THEN c1_prefix ELSE 0 END)
                   AS hit_den,
               sum(CASE WHEN c2 IS NULL THEN coalesce(c1_cont, 0)
                   ELSE 0 END) AS miss_num
        FROM joined GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.n_hits, 0) AS n_hits,
           coalesce(a.n_oov, 0) AS n_oov,
           round(CAST(a.n_hits AS DOUBLE)
                 / CAST(nullif(a.n_bigrams, 0) AS DOUBLE), 6) AS hit_rate,
           round(CAST(a.hit_num AS DOUBLE)
                 / CAST(nullif(a.hit_den, 0) AS DOUBLE), 6) AS cond_score,
           round(CAST(2 * a.miss_num AS DOUBLE)
                 / CAST(5 * t.n_ref_tokens
                        * nullif(a.n_bigrams - a.n_hits, 0) AS DOUBLE), 6)
               AS backoff_score,
           CASE WHEN a.n_bigrams IS NULL OR a.n_bigrams = 0 THEN NULL
                WHEN a.n_hits * 2 >= a.n_bigrams THEN 'head'
                WHEN a.n_hits * 5 >= a.n_bigrams THEN 'middle'
                ELSE 'tail' END AS quality_bucket
    FROM documents d LEFT JOIN agg a USING (doc_id) CROSS JOIN tot t
    """
    want = {
        r[0]: tuple(r[1:]) for r in _con().execute(oracle).fetchall()
    }
    assert got == want
    # non-degenerate: every bucket is populated, hits and OOV both
    # occur, and the stupid-backoff leg fires with mass
    buckets = {v[6] for v in got.values()}
    assert {"head", "middle", "tail"} <= buckets
    assert any(v[1] > 0 for v in got.values())
    assert any(v[2] > 0 for v in got.values())
    assert any(v[5] is not None and v[5] > 0 for v in got.values())


BM25_QUERIES = [
    ("q_scan", "scan column window"),
    ("q_join", "join merge hash sort"),
    ("q_miss", "zzznotaterm"),
]


def test_bm25_topk_oracle_parity(spark):
    """The intended r10 gate: BM25 top-10 per query over documents.
    Term scores are one IEEE divide of exact integer products,
    rounded to 6 dp, summed as DECIMAL(18,6) — order-independent, so
    both engines rank identically with the (score desc, doc_id)
    tie-break."""
    from formula1_data_pipeline_spark.operators.retrieval import bm25_topk
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    qdf = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])
    got = {
        (r["query_id"], r["doc_id"]): (
            r["n_terms_matched"], r["score"], r["rank"]
        )
        for r in bm25_topk(docs, qdf, k=10).collect()
    }

    values = ", ".join(
        f"('{qid}', '{qtext}')" for qid, qtext in BM25_QUERIES
    )
    oracle = f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, unnest(toks) AS term FROM t
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS n_tokens FROM dl
    ), q(query_id, query_text) AS (
        VALUES {values}
    ), qt AS (
        SELECT query_id,
               unnest(list_distinct(list_filter(
                   regexp_split_to_array(trim(lower(query_text)), '\\s+'),
                   x -> x <> ''))) AS term
        FROM q
    ), cand AS (
        SELECT qt.query_id, tf.doc_id, tf.tf, dfreq.df, dl.dl,
               s.n_docs, s.n_tokens
        FROM tf
        JOIN qt USING (term)
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ), scored AS (
        SELECT query_id, doc_id, count(*) AS n_terms_matched,
               sum(CAST(round(
                   (CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)
                    * CAST(44 * tf * n_tokens AS DOUBLE))
                   / (CAST(2 * df + 1 AS DOUBLE)
                      * CAST(20 * tf * n_tokens + 18 * dl * n_docs
                             + 6 * n_tokens AS DOUBLE)),
                   6) AS DECIMAL(18,6))) AS score_dec
        FROM cand GROUP BY 1, 2
    ), ranked AS (
        SELECT query_id, doc_id, n_terms_matched,
               CAST(score_dec AS DOUBLE) AS score,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_dec DESC, doc_id
               ) AS INT) AS rank
        FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 10
    """
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in _con().execute(oracle).fetchall()
    }
    assert got == want
    # non-degenerate: both real queries return a full page; the
    # no-posting query returns nothing
    from collections import Counter

    per_q = Counter(qid for qid, _ in got)
    assert per_q["q_scan"] == 10 and per_q["q_join"] == 10
    assert "q_miss" not in per_q


def _multiline_docs(spark):
    """Deterministic multi-line augmentation of documents (the q44
    pattern — testdata docs are single-line): ' scan ' separators
    become newlines; doc_id%4 injects boilerplate chrome — %4==0 gets
    a newsletter header + cookie footer, %4==1 an edge-space/CASE
    variant of the header (same normalized line), %4==2 a blank
    separator + the cookie footer, %4==3 stays content-only."""
    from formula1_data_pipeline_spark.queries import load

    raw = load(spark, SF_DIR, "documents")["documents"]
    base = F.replace(F.col("text"), F.lit(" scan "), F.lit("\n"))
    return raw.select(
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


_SQL_AUG = """
    aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN
                        'Subscribe to our newsletter' || chr(10) || base
                        || chr(10) || 'cookie policy notice'
                    WHEN doc_id % 4 = 1 THEN
                        '  SUBSCRIBE TO OUR NEWSLETTER  ' || chr(10) || base
                    WHEN doc_id % 4 = 2 THEN
                        base || chr(10) || chr(10) || 'cookie policy notice'
                    ELSE base END AS text
        FROM (SELECT doc_id, replace(text, ' scan ', chr(10)) AS base
              FROM documents)
    ), lin AS (
        SELECT doc_id, i - 1 AS pos, parts[i] AS line,
               trim(lower(parts[i])) AS nline
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts,
                     unnest(range(1, len(string_split(text, chr(10))) + 1))
                         AS i
              FROM aug)
    ), hot AS (
        SELECT nline FROM (
            SELECT nline, count(DISTINCT doc_id) AS line_df
            FROM lin WHERE nline <> '' GROUP BY 1
        ) WHERE line_df >= 2
    )
"""

_SQL_REBUILD = """
    rebuilt AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
                   AS text_clean,
               count(*) AS n_kept
        FROM kept GROUP BY 1
    ), totals AS (
        SELECT doc_id, count(*) AS n_lines FROM lin GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(r.text_clean, '') AS text_clean,
           coalesce(t.n_lines, 0) AS n_lines,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(t.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed
    FROM aug d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
"""


def test_dedup_lines_oracle_parity(spark):
    """The intended r10 gate: C4-policy line dedup (drop ALL copies of
    lines in >=2 docs) over the augmented corpus — full row compare
    including the reassembled text."""
    from formula1_data_pipeline_spark.operators.lines import dedup_lines

    docs = _multiline_docs(spark)
    got = {
        r["doc_id"]: (
            r["text_clean"], r["n_lines"], r["n_kept"], r["n_removed"]
        )
        for r in dedup_lines(docs, min_docs=2).collect()
    }
    oracle = f"""
    WITH {_SQL_AUG}, kept AS (
        SELECT * FROM lin
        WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.nline = lin.nline)
    ), {_SQL_REBUILD}
    """
    want = {r[0]: tuple(r[1:]) for r in _con().execute(oracle).fetchall()}
    assert got == want
    # non-degenerate: chrome is gone everywhere, content survives
    assert all("cookie policy notice" not in (v[0] or "") for v in got.values())
    assert sum(v[3] for v in got.values()) >= 2
    assert any(v[1] > 2 and v[2] > 0 for v in got.values())


def test_dedup_lines_keep_first_oracle_parity(spark):
    """CCNet-policy variant: the corpus-wide first (doc_id, pos)
    occurrence of each hot line survives."""
    from formula1_data_pipeline_spark.operators.lines import dedup_lines

    docs = _multiline_docs(spark)
    got = {
        r["doc_id"]: (
            r["text_clean"], r["n_lines"], r["n_kept"], r["n_removed"]
        )
        for r in dedup_lines(docs, min_docs=2, keep="first").collect()
    }
    oracle = f"""
    WITH {_SQL_AUG}, firsts AS (
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
    ), {_SQL_REBUILD}
    """
    want = {r[0]: tuple(r[1:]) for r in _con().execute(oracle).fetchall()}
    assert got == want
    # exactly one copy of the newsletter header survives corpus-wide
    n_headers = sum(
        (v[0] or "").lower().count("subscribe to our newsletter")
        for v in got.values()
    )
    assert n_headers == 1


def test_top_boilerplate_lines_oracle_parity(spark):
    """Audit twin: top-10 most widespread normalized lines."""
    from formula1_data_pipeline_spark.operators.lines import (
        top_boilerplate_lines,
    )

    docs = _multiline_docs(spark)
    got = [
        (r["line"], r["line_df"], r["n_occurrences"], r["rank"])
        for r in top_boilerplate_lines(docs, k=10).collect()
    ]
    got.sort(key=lambda t: t[3])
    oracle = f"""
    WITH {_SQL_AUG}
    SELECT nline AS line, count(DISTINCT doc_id) AS line_df,
           count(*) AS n_occurrences,
           CAST(row_number() OVER (
               ORDER BY count(DISTINCT doc_id) DESC, nline
           ) AS INT) AS rank
    FROM lin WHERE nline <> ''
    GROUP BY nline
    ORDER BY line_df DESC, line
    LIMIT 10
    """
    want = [tuple(r) for r in _con().execute(oracle).fetchall()]
    assert got == want
    # the two injected chrome lines dominate the audit
    assert {got[0][0], got[1][0]} == {
        "subscribe to our newsletter", "cookie policy notice"
    }


def test_select_token_budget_oracle_parity(spark):
    """The intended r10 gate for ``operators/selection.py``: keep the
    highest-scoring documents until a 20k-token budget fills. The
    score probe is integer-derived ((n_chars % 97) / 7.0 — one IEEE
    divide, identical in both engines) so ties and ordering replay
    exactly; token counts and running totals are exact integer sums.
    """
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    got = sorted(
        (r["doc_id"], r["score_q"], r["n_tokens"], r["cum_before"])
        for r in select_token_budget(
            docs,
            score=(F.col("n_chars") % 97) / 7.0,
            n_tokens=F.size(tokens(F.col("text"))),
            budget=20_000,
        ).collect()
    )
    oracle = f"""
    WITH d AS (
        SELECT doc_id,
               CAST(CAST((n_chars % 97) / 7.0 AS DECIMAL(18,6))
                    * 1000000 AS BIGINT)            AS score_q,
               CAST(len({_SQL_TOKS}) AS BIGINT)     AS n_tokens
        FROM documents
    ), o AS (
        SELECT doc_id, score_q, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY score_q DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM d
    )
    SELECT doc_id, score_q, n_tokens, cum_before
    FROM o WHERE cum_before < 20000
    ORDER BY doc_id
    """
    want = [tuple(r) for r in _con().execute(oracle).fetchall()]
    assert got == want
    # non-degenerate: a real prefix — some kept, some cut
    assert 0 < len(got) < docs.count()
    # the budget is actually the binding constraint
    assert max(r[3] for r in got) < 20_000
    assert max(r[3] + r[2] for r in got) >= 20_000


def test_hashed_bow_oracle_parity(spark):
    """The intended r10 gate for the fastText-style feature build
    (``classify.hashed_bow_long``): term occurrences hashed into 64
    buckets with the repo's one 60-bit md5 hash — exact integer
    counts, so the feature TABLE value-hash-gates even though trained
    weights (float path) gate under bounds."""
    from formula1_data_pipeline_spark.operators.classify import (
        hashed_bow_long,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    got = sorted(
        (r["doc_id"], r["bucket"], r["cnt"])
        for r in hashed_bow_long(docs, n_features=64,
                                 salt="bow-v1").collect()
    )
    oracle = f"""
    WITH t AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(term || '|' || 'bow-v1'), 1, 15))
                AS BIGINT) % 64                     AS bucket,
           count(*)                                 AS cnt
    FROM t GROUP BY 1, 2
    ORDER BY doc_id, bucket
    """
    want = [tuple(r) for r in _con().execute(oracle).fetchall()]
    assert got == want
    # non-degenerate: the corpus vocabulary is ~30 words, so the
    # occupied-bucket count is vocabulary-bounded — what matters is
    # that the hash actually spreads it (no single-bucket collapse)
    assert len({b for _, b, _ in got}) > 15


def test_curation_chain_oracle_parity(spark):
    """The intended r10 COMPOSITE gate (`queries_curation.py`): line
    dedup -> bigram-LM scoring -> token-budget selection in one
    hash-gated chain, oracle composed from each stage's exact
    standalone CTE text (the q97 discipline). clean_md5 pins stage
    1's full cleaned text; score_q/cum_before pin stages 2-3."""
    from formula1_data_pipeline_spark.queries_curation import (
        curation_chain,
        curation_chain_oracle,
    )

    got = sorted(
        (r["doc_id"], r["score_q"], r["n_tokens"], r["cum_before"],
         r["clean_md5"])
        for r in curation_chain(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r) for r in _con().execute(curation_chain_oracle())
        .fetchall()
    )
    assert got == want
    # non-degenerate: the budget binds (a strict prefix was selected)
    assert 0 < len(got)
    assert max(r[3] + r[2] for r in got) >= 20_000
    # the chrome never reaches the selected corpus
    assert all(r[1] >= 0 for r in got)


def test_kcenter_oracle_parity(spark):
    """Greedy k-center diversity selection (`operators/coreset.py`):
    the full (rank, vec_id, min_dist) trace replays in DuckDB via an
    unrolled per-round CTE chain — per-center cosines round to 6 dp
    BEFORE the max/argmax (the q24 fold discipline), so both engines
    compare identical doubles and the trace value-hash-gates."""
    import duckdb

    from formula1_data_pipeline_spark.operators.coreset import (
        kcenter_centers,
    )
    from formula1_data_pipeline_spark.queries import load

    K = 6
    emb = load(spark, SF_DIR, "embeddings")["embeddings"]
    got = [(r, i, d) for r, i, d, _ in kcenter_centers(emb, K)]

    dot = ("list_reduce(list_transform(list_zip({a}, {b}), "
           "p -> p[1] * p[2]), (acc, x) -> acc + x)")
    parts = [f"""
    base AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nrm AS MATERIALIZED (
        SELECT vec_id, v, sqrt({dot.format(a='v', b='v')}) AS nv
        FROM base
    ), cen0 AS MATERIALIZED (
        SELECT 0 AS rank, vec_id, CAST(NULL AS DOUBLE) AS min_dist,
               v, nv
        FROM nrm ORDER BY vec_id LIMIT 1
    )"""]
    for r in range(1, K):
        sim = dot.format(a="b.v", b="c.v")
        parts.append(f"""
    d{r} AS MATERIALIZED (
        SELECT b.vec_id,
               1 - max(round({sim} / nullif(b.nv * c.nv, 0), 6)) AS d
        FROM nrm b CROSS JOIN cen{r - 1} c
        WHERE b.vec_id NOT IN (SELECT vec_id FROM cen{r - 1})
        GROUP BY b.vec_id
    ), p{r} AS MATERIALIZED (
        SELECT {r} AS rank, n.vec_id, d.d AS min_dist, n.v, n.nv
        FROM d{r} d JOIN nrm n USING (vec_id)
        ORDER BY d.d DESC, d.vec_id LIMIT 1
    ), cen{r} AS MATERIALIZED (
        SELECT * FROM cen{r - 1} UNION ALL SELECT * FROM p{r}
    )""")
    oracle = ("WITH " + ",".join(parts)
              + f" SELECT rank, vec_id, min_dist FROM cen{K - 1} "
                "ORDER BY rank")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{SF_DIR}/embeddings.parquet'")
    want = [tuple(r) for r in con.execute(oracle).fetchall()]
    assert got == want
    # non-degenerate: K distinct picks with strictly positive radii
    assert len(got) == K and len({i for _, i, _ in got}) == K
    assert all(d > 0 for _, _, d in got[1:])


def test_diversity_downsample_oracle_parity(spark):
    """Composite #2 (pre-staged for round 11): k-center cells ->
    nearest-exemplar assignment -> per-cell md5 quota. Full row
    compare against the composed oracle (k-center unrolled trace +
    argmax assignment + stratified_topn's exact ordering)."""
    import duckdb

    from formula1_data_pipeline_spark.queries_curation import (
        PER_CELL,
        diversity_downsample,
        diversity_downsample_oracle,
    )

    got = sorted(
        (r["vec_id"], r["center_rank"], r["cos_sim"])
        for r in diversity_downsample(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{SF_DIR}/embeddings.parquet'")
    want = sorted(
        tuple(r)
        for r in con.execute(diversity_downsample_oracle()).fetchall()
    )
    assert got == want
    # non-degenerate: several cells exist and at least one is capped
    from collections import Counter

    per = Counter(c for _, c, _ in got)
    assert len(per) >= 4
    assert max(per.values()) == PER_CELL


def test_q99_with_hashed_bow_features_keeps_bounds(spark):
    """Pre-validates q99's planned r10 change (landing plan): the
    classifier trains on the heuristic features PLUS 32 hashed-BOW
    features, with the non-null row filter in place, and must still
    clear the gated bounds (holdout acc >= 0.85, beats majority+0.05)
    on the same fixture/split/label."""
    from formula1_data_pipeline_spark.operators.classify import (
        hashed_bow_dense,
        predict_proba,
        quality_features,
        train_logreg,
    )
    from formula1_data_pipeline_spark.operators.sampling import hash_bucket
    from formula1_data_pipeline_spark.operators.text import quality_score
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    feats = quality_features(F.col("text"))
    names = [n for n, _ in feats] + [f"f_bow{j}" for j in range(32)]
    bow = hashed_bow_dense(docs, n_features=32, salt="q99-bow-v1")
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
              for j in range(32)],
        )
    )
    # the planned r10 non-null guard (train_logreg's documented
    # precondition becomes an explicit filter)
    nn = d.na.drop(subset=names + ["label"]).cache()
    try:
        w, b = train_logreg(nn.filter(F.col("is_train")), names,
                            "label", n_iter=50, lr=5.0)
        r = nn.filter(~F.col("is_train")).select(
            ((predict_proba(names, w, b) >= 0.5) == F.col("label"))
            .cast("double").alias("hit"),
            F.col("label").cast("double").alias("y"),
        ).agg(F.avg("hit").alias("acc"),
              F.avg("y").alias("base")).collect()[0]
    finally:
        nn.unpersist()
    majority = max(r["base"], 1.0 - r["base"])
    assert r["acc"] >= 0.85, r
    assert r["acc"] >= majority + 0.05, (r["acc"], majority)
