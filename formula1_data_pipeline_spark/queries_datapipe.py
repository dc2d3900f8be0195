"""q37-q39, q44-q45, q51-q52 — training-data pipeline + scale patterns.

Second tranche of the mandated LLM-pipeline extension surface
(SURVEY.md §2.12) plus an explicit skew-mitigation pattern:

- q37: near-dup **cluster resolution** — connected components over the
  SimHash pair graph (``operators/cluster.py``). Pairwise candidates
  (q21/q29) are only half a dedup pipeline; this is the keep-one half.
- q38: **deterministic hash sampling** — reproducible train/val/test
  splits and language-stratified downsampling
  (``operators/sampling.py``).
- q39: **TF-IDF top terms** per document — corpus-level term weighting
  with an integer-exact scoring pipeline (single IEEE multiply+divide,
  no libm) so the cross-engine hash is bit-stable.
- q44: **PII redaction** — regex scrubbing of emails/phone numbers, the
  standard pre-training text hygiene pass.
- q45: **salted join** — manual skew salting of a large equi-join
  (replicate one side across N salt buckets) producing results
  identical to the plain join; the pattern AQE skew-join automates,
  expressed explicitly for engines/paths where it can't.
- q51: **keep-one dedup** — the corpus after dropping every doc whose
  near-dup cluster has a smaller member (q37's clusters applied).
- q52: **corpus-prep flagship** — quality -> language -> exact dedup
  -> split/downsample composed in one shuffle-light pass.

Oracles follow the determinism rules in ``queries``'s module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.queries import _dec_sum, load, register
from formula1_data_pipeline_spark.queries_llm import (
    _SQL_SIM_CTES,
    _SQL_TOKS,
    _sql_quality,
)
from formula1_data_pipeline_spark.session import local_frame


# the SimHash-edge connected-components CTE chain, shared by the q37
# cluster gate and the q51 keep-one gate (prefix with WITH RECURSIVE)
_SQL_CC_CTES = f"""{_SQL_SIM_CTES}, groups AS (
        SELECT simhash, min(id) AS canonical_id FROM sim GROUP BY 1
    ), star AS (
        SELECT s.id AS src, g.canonical_id AS dst
        FROM sim s JOIN groups g USING (simhash)
        WHERE s.id <> g.canonical_id
    ), sliced AS (
        SELECT simhash, canonical_id, s.sidx,
               (simhash >> (15 * s.sidx)) & 32767 AS skey
        FROM groups CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS sidx) s
    ), neardup AS (
        SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
        FROM sliced a
        JOIN sliced b ON a.sidx = b.sidx AND a.skey = b.skey
        WHERE a.simhash < b.simhash
          AND bit_count(xor(a.simhash, b.simhash)) BETWEEN 1 AND 3
    ), sym AS (
        SELECT src, dst FROM star
        UNION SELECT dst, src FROM star
        UNION SELECT src, dst FROM neardup
        UNION SELECT dst, src FROM neardup
    ), reach(id, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        -- only ever propagate shrinking labels: the component minimum
        -- still reaches every node (it is < every id on its paths),
        -- everything larger is pruned instead of materialized
        SELECT s.dst, r.comp
        FROM sym s JOIN reach r ON s.src = r.id
        WHERE r.comp < s.dst
    ), cc AS (
        SELECT id, min(comp) AS comp FROM reach GROUP BY id
    )"""


_DWS_K = 100  # q37 dedup-weighted sample size


@register(
    "q37_neardup_clusters",
    f"""
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
    SELECT 'cluster' AS kind, id AS doc_id, comp AS cluster_id,
           count(*) OVER (PARTITION BY comp) AS cluster_size,
           CAST(NULL AS DOUBLE) AS w,
           CAST(NULL AS INTEGER) AS prio_rank,
           CAST(NULL AS DOUBLE) AS tau,
           CAST(NULL AS DOUBLE) AS ht_weight
    FROM cc
    UNION ALL
    SELECT 'dedup_sample', r.doc_id, r.cluster_id, r.cluster_size,
           r.w, CAST(r.prio_rank AS INTEGER), t.tau,
           greatest(r.w, t.tau)
    FROM dwranked r, dwtau t
    WHERE r.prio_rank <= {_DWS_K}
    """,
    doc="Near-dup cluster surface, two kinds in one frame. "
        "kind='cluster' (§2.12): SimHash hamming<=3 pair graph -> "
        "connected components (min-label propagation + pointer "
        "jumping, O(log n) shuffle rounds) -> (doc, cluster, size) "
        "with cluster_id = canonical doc a keep-one dedup retains; "
        "oracle is a DuckDB recursive CTE over the same edges. "
        "kind='dedup_sample' (round 13, sampling.py::"
        "dedup_weighted_sample): priority sampling at weight "
        "1/cluster-size over those clusters, so every cluster "
        "contributes equal expected mass however duplicated the raw "
        "crawl is — the duplication-neutral corpus sample. Both "
        "composed operators (CC clustering, the Duffield-Lund-Thorup "
        "priority race with Horvitz-Thompson weights) are "
        "individually gated; the oracle composes their exact CTE "
        "texts, so the full selection trace value-hashes",
)
def q37_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.cluster import (
        neardup_clusters,
    )
    from formula1_data_pipeline_spark.operators.sampling import (
        dedup_weighted_sample,
    )

    from formula1_data_pipeline_spark.concurrency import overlap

    docs = load(spark, sf_dir, "documents")["documents"]
    nul_d = F.lit(None).cast("double")

    def cluster_leg() -> DataFrame:
        return neardup_clusters(
            docs, text_col="text", id_col="doc_id", max_distance=3,
        ).select(
            F.lit("cluster").alias("kind"),
            "doc_id", "cluster_id", "cluster_size",
            nul_d.alias("w"),
            F.lit(None).cast("int").alias("prio_rank"),
            nul_d.alias("tau"),
            nul_d.alias("ht_weight"),
        )

    def sample_leg() -> DataFrame:
        return dedup_weighted_sample(docs, _DWS_K).select(
            F.lit("dedup_sample").alias("kind"),
            "doc_id", "cluster_id", "cluster_size",
            "w", "prio_rank", "tau", "ht_weight",
        )

    # both legs drive their own CC label-propagation rounds (driver-
    # iterated collects) — overlap the chains (guide §2.6; r14
    # optimization)
    clusters, dws = overlap(spark, [
        ("q37: cluster rounds", cluster_leg),
        ("q37: dedup-weighted sample", sample_leg),
    ])
    return clusters.unionByName(dws)


# DuckDB twin of operators.sampling.hash_bucket
def _sql_bucket(key_expr: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '|' || "
        f"'{salt}'), 1, 15)) AS BIGINT) % 100"
    )


# DuckDB twin of operators.sampling.assign_split(train=80, val=10) over
# the 'split-v1' salt — the ONE definition shared by q38/q52/q85 so the
# split percentages or salt can't drift between oracles
def _sql_split(key_expr: str) -> str:
    b = _sql_bucket(key_expr, "split-v1")
    return (f"CASE WHEN {b} < 80 THEN 'train' "
            f"WHEN {b} < 90 THEN 'val' ELSE 'test' END")


@register(
    "q38_hash_split",
    f"""
    SELECT doc_id, lang,
           {_sql_bucket('doc_id', 'split-v1')} AS bucket,
           {_sql_split('doc_id')} AS split,
           {_sql_bucket('doc_id', 'downsample-v1')} <
               CASE WHEN lang = 'en' THEN 50
                    WHEN lang = 'zh' THEN 40
                    ELSE 25 END AS kept
    FROM documents
    """,
    doc="Deterministic hash sampling (§2.12): md5-keyed train/val/test "
        "split + language-stratified downsample flag — reproducible "
        "across runs/engines/partitionings, shuffle-free codegen "
        "projection",
)
def q38_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.sampling import (
        assign_split,
        hash_bucket,
        stratified_keep,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    b_split = hash_bucket(F.col("doc_id"), "split-v1")
    b_down = hash_bucket(F.col("doc_id"), "downsample-v1")
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "zh", 40)
        .otherwise(25)
    )
    return docs.select(
        "doc_id",
        "lang",
        b_split.alias("bucket"),
        assign_split(b_split, train_pct=80, val_pct=10).alias("split"),
        stratified_keep(b_down, rate).alias("kept"),
    )


#: BM25 audit probes for q39's retrieval leg — a literal query set
#: (benchmark-prompt-shaped: two in-vocabulary probes + one with no
#: postings, which must return zero rows)
BM25_QUERIES = [
    ("q_scan", "scan column window"),
    ("q_join", "join merge hash sort"),
    ("q_miss", "zzznotaterm"),
]

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)


@register(
    "q39_tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT doc_id, term, tf, doc_freq,
               CAST(tf AS DOUBLE) *
                   (CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE))
                   AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term, tf, doc_freq, score,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term
               ) AS INT) AS rank
        FROM scored
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS n_tokens FROM dl
    ), q(query_id, query_text) AS (
        VALUES {_BM25_VALUES}
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
        JOIN (SELECT term, count(*) AS df FROM tf GROUP BY 1) dfreq
            USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ), bm_scored AS (
        SELECT query_id, doc_id, count(*) AS n,
               sum(CAST(round(
                   (CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)
                    * CAST(44 * tf * n_tokens AS DOUBLE))
                   / (CAST(2 * df + 1 AS DOUBLE)
                      * CAST(20 * tf * n_tokens + 18 * dl * n_docs
                             + 6 * n_tokens AS DOUBLE)),
                   6) AS DECIMAL(18,6))) AS score_dec
        FROM cand GROUP BY 1, 2
    ), bm_ranked AS (
        SELECT query_id, doc_id, n,
               CAST(score_dec AS DOUBLE) AS score,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_dec DESC, doc_id
               ) AS INT) AS rank
        FROM bm_scored
    )
    SELECT 'tfidf' AS kind, term AS key, doc_id,
           CAST(tf AS BIGINT) AS n, score, rank
    FROM ranked WHERE rank <= 3
    UNION ALL
    SELECT 'bm25', query_id, doc_id, CAST(n AS BIGINT), score, rank
    FROM bm_ranked WHERE rank <= 10
    UNION ALL
    SELECT 'bm25_idx', query_id, doc_id, CAST(n AS BIGINT), score, rank
    FROM bm_ranked WHERE rank <= 10
    UNION ALL
    SELECT 'bm25_stream', query_id, doc_id, CAST(n AS BIGINT), score,
           rank
    FROM bm_ranked WHERE rank <= 10
    """,
    doc="Term/document relevance surface, both directions in one long "
        "(kind, key, doc_id, n, score, rank) shape (§2.12). "
        "kind='tfidf': top-3 terms PER DOC — tf and df via two hash "
        "aggregations, linear idf N/df (one IEEE multiply+divide, no "
        "libm log => bit-identical across engines), (score desc, "
        "term) ranking, n_docs rides in as a 1-row broadcast. "
        "kind='bm25': top-10 docs PER QUERY over a literal audit "
        "probe set (operators/retrieval.py — Robertson linear-idf "
        "BM25, k1=6/5 b=3/4 folded into exact integer coefficients; "
        "6-dp term scores summed as DECIMAL for order-independence; "
        "the tiny query-term table broadcasts onto the posting lists "
        "so candidate generation touches only query-term postings). "
        "kind='bm25_idx': the SAME top-10 pages from the MAINTAINED "
        "incremental index (retrieval.py::bm25_index_*) — built via "
        "three id-ranged appends (batch 2 RE-DELIVERS half of batch "
        "1; the landed-id anti-join must skip it) plus one delta-log "
        "compaction, then queried from the landed postings with the "
        "probe terms pushed as IN-lists + manifest term-range "
        "pruning. Row-identity with the live-scan kind is the gated "
        "contract, so one oracle CTE replays both. "
        "kind='bm25_stream' (round 14): the SAME top-10 from a "
        "STREAM-maintained index (streaming/bm25.py — readStream "
        "over the corpus files, foreachBatch -> bm25_index_append "
        "where the landed-doc anti-join IS the replay guard, final "
        "lease-serialized compaction) — query-equivalent to the "
        "one-shot build for any micro-batch split, so the shared "
        "bm_ranked CTE replays this leg too. "
        "Legs 1-2 reuse the same tf aggregate",
)
def q39_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.retrieval import (
        _rank_candidates,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # ONE (doc, term) aggregate feeds both legs: tfidf consumes it
    # directly, and the BM25 candidate assembly derives dl/df/stats
    # from it rather than re-tokenizing the corpus (dl = sum(tf) per
    # doc == token count; the tf exchange is a shared subtree, so the
    # corpus is tokenized and shuffled once — reuse pinned in
    # tests/test_plans.py)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf").cast("double") * (
        F.col("n_docs").cast("double") / F.col("doc_freq").cast("double")
    )
    tfidf = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), F.col("term")
                )
            )
            .cast("int"),
        )
        .filter(F.col("rank") <= 3)
        .select(
            F.lit("tfidf").alias("kind"),
            F.col("term").alias("key"),
            "doc_id",
            F.col("tf").cast("long").alias("n"),
            "score",
            "rank",
        )
    )
    qdf = local_frame(spark, BM25_QUERIES,
                      "query_id string, query_text string")
    qterms = qdf.select(
        F.col("query_id"),
        F.explode(
            F.array_distinct(tokens(F.col("query_text")))
        ).alias("term"),
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens")
    )
    cand = (
        tf.join(F.broadcast(qterms), "term")
        .join(dfreq.withColumnRenamed("doc_freq", "df"), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    bm25 = _rank_candidates(cand, 10).select(
        F.lit("bm25").alias("kind"),
        F.col("query_id").alias("key"),
        "doc_id",
        F.col("n_terms_matched").alias("n"),
        "score",
        "rank",
    )

    # kind='bm25_idx': the maintained-index path over the SAME landed
    # corpus — three id-ranged batches with a re-delivered overlap
    # (idempotent-skip under the gate), one compaction (delta-log fold
    # under the gate), then the pruned-scan query. Must rank
    # row-for-row identically to the live kind above.
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.scratch import scratch_dir

    from formula1_data_pipeline_spark.concurrency import overlap

    def batch_idx_leg() -> DataFrame:
        idx = scratch_dir(prefix="q39_bm25idx_") + "/idx"
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        b1, b2 = mx // 3, (2 * mx) // 3
        bm25_index_append(spark, docs.filter(F.col("doc_id") <= b1),
                          idx)
        bm25_index_append(
            spark,
            docs.filter(
                (F.col("doc_id") > b1 // 2) & (F.col("doc_id") <= b2)
            ),
            idx,
        )
        bm25_index_compact(spark, idx)
        bm25_index_append(spark, docs.filter(F.col("doc_id") > b2), idx)
        return bm25_index_topk(spark, idx, qdf, k=10).select(
            F.lit("bm25_idx").alias("kind"),
            F.col("query_id").alias("key"),
            "doc_id",
            F.col("n_terms_matched").alias("n"),
            "score",
            "rank",
        )

    # kind='bm25_stream' (round 14): the STREAM-maintained index —
    # foreachBatch -> bm25_index_append over a 2-micro-batch file
    # replay (2, not 3: multi-batch folding is proven at 2 and each
    # AvailableNow batch is a full sequential Spark job — the r13
    # bench lesson on latency-dominated gates), then the same pruned
    # query. Query-equivalence to the one-shot build for ANY split
    # is the streaming module's tested contract, so this leg ranks
    # row-for-row with the live kind under the shared oracle CTE.
    from formula1_data_pipeline_spark.streaming.bm25 import (
        stream_bm25_index,
    )

    def stream_idx_leg() -> DataFrame:
        # compact=False: the batch leg above already gates delta-log
        # compaction; the stream leg's query folds deltas identically
        # (read-path equivalence is the module's tested contract), and
        # the in-gate compaction measured ~10 s of pure duplicate
        # coverage at sf0.1
        sidx = stream_bm25_index(
            spark, f"{sf_dir}/documents.parquet", n_source_files=2,
            compact=False)
        return bm25_index_topk(spark, sidx, qdf, k=10).select(
            F.lit("bm25_stream").alias("kind"),
            F.col("query_id").alias("key"),
            "doc_id",
            F.col("n_terms_matched").alias("n"),
            "score",
            "rank",
        )

    # the two maintained indexes live in disjoint scratch dirs and
    # never read each other — overlap their sequential append/commit
    # chains from driver threads (guide §2.6; r14 optimization)
    bm25_idx, bm25_stream = overlap(spark, [
        ("q39: batch-maintained index", batch_idx_leg),
        ("q39: stream-maintained index", stream_idx_leg),
    ])
    return (tfidf.unionByName(bm25).unionByName(bm25_idx)
            .unionByName(bm25_stream))


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"

#: card augmentation classes: %3==0 a Luhn-VALID formatted card,
#: %3==1 a card-SHAPED but Luhn-invalid digit run (redacted but not
#: counted), %3==2 none — so n_valid_cards discriminates the checksum
_CARD_VALID = "4111 1111 1111 1111"
_CARD_INVALID = "4111111111111112"

# DuckDB twin of functions.pii.luhn_valid over the separator-stripped
# candidate (inlined where the lambda needs it — DuckDB forbids
# subqueries inside lambdas); mirrors tests/test_pii.py
_ND = "regexp_replace(c, '[ -]', '', 'g')"
_SQL_LUHN = (
    f"list_sum(list_transform(range(1, len({_ND}) + 1), i -> CASE "
    f"WHEN i % 2 = 0 THEN CASE "
    f"  WHEN 2 * CAST(substr(reverse({_ND}), i, 1) AS INT) > 9 "
    f"  THEN 2 * CAST(substr(reverse({_ND}), i, 1) AS INT) - 9 "
    f"  ELSE 2 * CAST(substr(reverse({_ND}), i, 1) AS INT) END "
    f"ELSE CAST(substr(reverse({_ND}), i, 1) AS INT) END)) % 10 = 0"
)


from formula1_data_pipeline_spark.functions.pii import (  # noqa: E402
    CARD_RE as _CARD_RE,
    IPV4_RE as _IPV4_RE,
)


@register(
    "q44_pii_redaction",
    # _CARD_RE/_IPV4_RE are imported from functions/pii.py —
    # single-sourced patterns, the q44 cross-engine regex discipline
    f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
               '@mail.example.com or +1-555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') || '.' ||
               CASE WHEN doc_id % 3 = 0 THEN ' card {_CARD_VALID}'
                    WHEN doc_id % 3 = 1 THEN ' card {_CARD_INVALID}'
                    ELSE '' END ||
               CASE WHEN doc_id % 2 = 0 THEN
                        ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.1'
                    ELSE '' END
               AS text
        FROM documents
    ), red AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
                   '{_CARD_RE}', '<CARD>', 'g'),
                   '{_IPV4_RE}', '<IP>', 'g') AS redacted,
               len(list_filter(
                   regexp_extract_all(text, '{_CARD_RE}', 0),
                   c -> {_SQL_LUHN})) AS n_valid_cards
        FROM aug
    )
    SELECT doc_id, redacted,
           contains(redacted, '<EMAIL>') AS had_email,
           contains(redacted, '<PHONE>') AS had_phone,
           contains(redacted, '<CARD>') AS had_card,
           contains(redacted, '<IP>') AS had_ip,
           n_valid_cards
    FROM red
    """,
    doc="PII redaction, extended tier (§2.12): email + phone regex "
        "scrubbing plus payment-card detection with a pure-expression "
        "Luhn checksum fold and IPv4 scrub (functions/pii.py), over "
        "text augmented with synthetic per-doc PII (the corpus itself "
        "is clean): every doc gets email+phone, doc_id%3 injects a "
        "Luhn-valid card / a card-shaped invalid run / none, and "
        "doc_id%2 injects a dotted-quad IP. Exact redacted-string "
        "parity across Java regex and RE2 gates the patterns behave "
        "identically; n_valid_cards gates the Luhn integer fold "
        "(candidates are redacted conservatively either way — "
        "'looked like a card' vs 'was a card' stays distinguishable). "
        "Shuffle-free codegen projection — card screening of a 100 TB "
        "corpus is one narrow scan",
)
def q44_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.functions.pii import (
        redact_cards,
        redact_ipv4,
        valid_cards,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 4, "0"),
        F.lit("."),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" card " + _CARD_VALID))
        .when(F.col("doc_id") % 3 == 1, F.lit(" card " + _CARD_INVALID))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = redact_ipv4(
        redact_cards(
            F.regexp_replace(
                F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            )
        )
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(valid_cards(aug)).cast("long").alias("n_valid_cards"),
    ).select(
        "doc_id",
        "redacted",
        F.col("redacted").contains("<EMAIL>").alias("had_email"),
        F.col("redacted").contains("<PHONE>").alias("had_phone"),
        F.col("redacted").contains("<CARD>").alias("had_card"),
        F.col("redacted").contains("<IP>").alias("had_ip"),
        "n_valid_cards",
    )


@register(
    "q45_salted_join",
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="Salted equi-join (skew mitigation): big side gets "
        "salt = hash(row) % 8, the other side is exploded across all 8 "
        "salts, join on (key, salt) — identical results to the plain "
        "join (the oracle), but a hot orderkey's rows now spread over 8 "
        "reducers instead of one; the manual form of AQE skew-join for "
        "paths AQE can't rewrite (or salts > its split threshold)",
)
def q45_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salts = 8
    t = load(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts)),
    )
    ords = (
        t["orders"]
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
    )
    joined = li.join(
        ords,
        (li["l_orderkey"] == ords["o_orderkey"]) & (li["salt"] == ords["salt"]),
    )
    return joined.groupBy("o_orderpriority").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n_items"),
    )


@register(
    "q51_neardup_keep_one",
    f"""
    WITH RECURSIVE {_SQL_CC_CTES}
    SELECT doc_id, n_represented FROM (
        SELECT id AS doc_id, comp,
               count(*) OVER (PARTITION BY comp) AS n_represented
        FROM cc
    )
    WHERE doc_id = comp
    """,
    doc="Keep-one near-dup dedup (§2.12): the corpus after dropping "
        "every document whose near-dup cluster (q37) has a smaller "
        "member — one surviving canonical per cluster, annotated with "
        "how many documents it represents",
)
def q51_neardup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.cluster import (
        neardup_clusters,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    clusters = neardup_clusters(docs, text_col="text", id_col="doc_id",
                                max_distance=3)
    return clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select(
        "doc_id", F.col("cluster_size").alias("n_represented")
    )


# quality/lang fragments mirror q25's oracle exactly (same stopword
# lists, same CASE priority, same arithmetic shape)
_SQL_LANG_QUALITY = rf"""
    base AS (
        SELECT doc_id, text, list_filter(
            regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''
        ) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, text, toks, list_distinct(toks) AS tset FROM base
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
    ), scored AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, es, de, fr) THEN 'en'
                    WHEN es = greatest(en, es, de, fr) THEN 'es'
                    WHEN de = greatest(en, es, de, fr) THEN 'de'
                    WHEN fr = greatest(en, es, de, fr) THEN 'fr'
               END AS lang_pred,
               {_sql_quality('toks', 'tset')} AS quality,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        FROM hits
    )"""


@register(
    "q52_corpus_prep",
    f"""
    WITH {_SQL_LANG_QUALITY}, filtered AS (
        SELECT * FROM scored
        WHERE quality >= 0.6 AND lang_pred IN ('en', 'es', 'de', 'fr')
    ), keep AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM filtered
    )
    SELECT doc_id, lang_pred, n_tokens, quality,
           {_sql_split('doc_id')} AS split,
           {_sql_bucket('doc_id', 'downsample-v1')} <
               CASE WHEN lang_pred = 'en' THEN 50 ELSE 25 END AS kept
    FROM keep WHERE rn = 1
    """,
    doc="Corpus-prep flagship (§2.12 composition): quality filter -> "
        "language filter -> exact dedup keep-one (min doc_id per "
        "normalized fingerprint) -> deterministic split + stratified "
        "downsample flag, all in one shuffle-light pass (one window on "
        "fp, everything else codegen projections) — the standard "
        "pre-training corpus pipeline end-to-end under the hash gate",
)
def q52_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import text as T
    from formula1_data_pipeline_spark.operators.dedup import (
        normalized_fingerprint,
    )
    from formula1_data_pipeline_spark.operators.dedup_priority import (
        dedup_by_priority,
    )
    from formula1_data_pipeline_spark.operators.sampling import (
        assign_split,
        hash_bucket,
        stratified_keep,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    tset = T.token_set(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
        T.predict_lang(tset).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("quality"),
        normalized_fingerprint(F.col("text")).alias("fp"),
    )
    filtered = scored.filter(
        (F.col("quality") >= 0.6)
        & F.col("lang_pred").isin("en", "es", "de", "fr")
    )
    keep = dedup_by_priority(
        filtered, keys=["fp"], order=[F.col("doc_id").asc()]
    )
    b_split = hash_bucket(F.col("doc_id"), "split-v1")
    b_down = hash_bucket(F.col("doc_id"), "downsample-v1")
    rate = F.when(F.col("lang_pred") == "en", 50).otherwise(25)
    return keep.select(
        "doc_id", "lang_pred", "n_tokens", "quality",
        assign_split(b_split).alias("split"),
        stratified_keep(b_down, rate).alias("kept"),
    )


@register(
    "q60_levenshtein_pairs",
    r"""
    WITH base AS (
        SELECT doc_id AS id,
               substring(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                         1, 40) AS head,
               array_to_string(
                   list_filter(regexp_split_to_array(trim(lower(text)),
                                                     '\s+'),
                               x -> x <> '')[1:2], ' ') AS block
        FROM documents
    )
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
    FROM base a JOIN base b USING (block)
    WHERE a.id < b.id AND levenshtein(a.head, b.head) <= 8
    """,
    doc="Fuzzy near-dup via edit distance (§2.12): 40-char normalized "
        "prefixes compared with levenshtein <= 8 under two-token "
        "blocking — the O(len^2)-per-pair metric is affordable exactly "
        "because blocking bounds the pair stream first (same shape as "
        "q23's jaccard baseline). Blocking granularity is the scale "
        "knob: one token left Zipf-sized blocks (~n/30 docs each, "
        "~870k pairs at sf0.1); two tokens cut the pair stream ~50x "
        "with identical survivors on this corpus. Spark additionally "
        "runs the banded threshold DP (levenshtein(l, r, 8), "
        "O(threshold*len) per pair, -1 when exceeded) — DuckDB's "
        "plain Wagner-Fischer agrees exactly on every kept pair",
)
def q60_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")["documents"]
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    tok = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.substring(norm, 1, 40).alias("head"),
        F.concat_ws(" ", tok[0], tok[1]).alias("block"),
    )
    a, b = base.alias("a"), base.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"), 8)
    # one-element explode barrier: keeps the >= 0 filter from being
    # alias-substituted through the projection, which would run the
    # banded DP twice per pair (see dedup.jaccard_verified)
    return (
        a.join(b, "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.explode(F.array(dist.cast("int"))).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "q61_quality_report",
    """
    WITH agg AS (
        SELECT
            CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS user_id_null,
            CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS ts_null,
            CAST(sum(CASE WHEN event_type NOT IN
                ('click', 'error', 'purchase', 'signup', 'view')
                OR event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS bad_event_type,
            CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS negative_value,
            count(*) - count(DISTINCT event_id) AS event_id_dups
        FROM events
    )
    SELECT 'user_id_null' AS check, user_id_null AS n_violations FROM agg
    UNION ALL SELECT 'ts_null', ts_null FROM agg
    UNION ALL SELECT 'bad_event_type', bad_event_type FROM agg
    UNION ALL SELECT 'negative_value', negative_value FROM agg
    UNION ALL SELECT 'event_id_dups', event_id_dups FROM agg
    """,
    doc="Declarative data-quality report (the reference's 55 dbt "
        "not_null tests generalized, dags/formula1_elt_dag.py:46-50): "
        "not-null, accepted-values, non-negative, and key-uniqueness "
        "checks computed in ONE aggregation pass "
        "(operators/quality.py) — one scan for the whole rule suite "
        "instead of dbt's query-per-test",
)
def q61_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.quality import quality_report

    ev = load(spark, sf_dir, "events")["events"]
    return quality_report(
        ev,
        violation_rules={
            "user_id_null": F.col("user_id").isNull(),
            "ts_null": F.col("ts").isNull(),
            "bad_event_type": (
                ~F.col("event_type").isin(
                    "click", "error", "purchase", "signup", "view"
                )
            ) | F.col("event_type").isNull(),
            "negative_value": F.col("value") < 0,
        },
        unique_keys={"event_id_dups": ["event_id"]},
    )


# ---------------------------------------------------------------------------
# Round-3 tranche: sequence packing, repetition filter, contamination
# check, SCD2 snapshot history
# ---------------------------------------------------------------------------

from formula1_data_pipeline_spark.queries_llm import (  # noqa: E402
    _bpe_sql_pattern,
)


#: q64 no-straddle/SFT leg sizing (draft-proven): 512-token bins,
#: 100-doc alignment buckets; prompt = n_tokens // 3 derives the SFT
#: loss span deterministically from the same word-token counts
_Q64_B = 512
_Q64_S = 100

# the bucket-aligned greedy fold as a recursive CTE, shared by the
# nostraddle and sft legs (the sft leg packs total = n, so the fold
# replays ONCE and both legs read rows_out/off)
_Q64_FOLD_CTES = rf"""ex AS (
        SELECT doc_id AS example_id,
               len(list_filter(regexp_split_to_array(trim(lower(text)),
                   '\s+'), x -> x <> '')) AS n,
               doc_id // {_Q64_S} AS bkt
        FROM documents
        WHERE len(list_filter(regexp_split_to_array(trim(lower(text)),
                  '\s+'), x -> x <> '')) <= {_Q64_B}
    ), ex_i AS (
        SELECT bkt, example_id, n,
               row_number() OVER (PARTITION BY bkt ORDER BY example_id)
               AS i
        FROM ex
    ), fold AS (
        SELECT bkt, 0::BIGINT AS i, 0::BIGINT AS bin, 0::BIGINT AS fill,
               NULL::BIGINT AS example_id, NULL::BIGINT AS pos,
               NULL::BIGINT AS n
        FROM (SELECT DISTINCT bkt FROM ex_i)
        UNION ALL
        SELECT f.bkt, f.i + 1,
               CASE WHEN f.fill + e.n > {_Q64_B} THEN f.bin + 1
                    ELSE f.bin END,
               CASE WHEN f.fill + e.n > {_Q64_B} THEN e.n
                    ELSE f.fill + e.n END,
               e.example_id,
               CASE WHEN f.fill + e.n > {_Q64_B} THEN 0 ELSE f.fill END,
               e.n
        FROM fold f JOIN ex_i e ON e.bkt = f.bkt AND e.i = f.i + 1
    ), rows_out AS (
        SELECT * FROM fold WHERE example_id IS NOT NULL
    ), used AS (
        SELECT bkt, max(bin) + 1 AS bins_used FROM rows_out GROUP BY 1
    ), off AS (
        SELECT bkt, COALESCE(SUM(bins_used) OVER (
            ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS bin_off
        FROM used
    ), packed AS (
        -- window SUM(BIGINT) is HUGEINT in DuckDB, which pandas
        -- renders as float — cast back to BIGINT (the q100 lesson)
        SELECT r.example_id, r.n AS n_tokens,
               CAST(o.bin_off + r.bin AS BIGINT) AS bin_id,
               r.pos AS pack_pos
        FROM rows_out r JOIN off o USING (bkt)
    )"""


@register(
    "q64_sequence_packing",
    rf"""
    WITH RECURSIVE d AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_bpe_sql_pattern()}'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM d
    ), {_Q64_FOLD_CTES}
    SELECT 'straddle' AS kind, doc_id, n_tokens,
           CAST(cum_before // {_Q64_B} AS BIGINT) AS bin_id,
           CAST(cum_before % {_Q64_B} AS BIGINT) AS pack_pos,
           CAST(NULL AS BIGINT) AS loss_start,
           CAST(NULL AS BIGINT) AS loss_end,
           CAST(NULL AS BIGINT) AS attn_seg
    FROM c
    UNION ALL
    SELECT 'nostraddle' AS kind, example_id AS doc_id, n_tokens,
           bin_id, pack_pos,
           CAST(NULL AS BIGINT) AS loss_start,
           CAST(NULL AS BIGINT) AS loss_end,
           CAST(NULL AS BIGINT) AS attn_seg
    FROM packed
    UNION ALL
    SELECT 'sft' AS kind, example_id AS doc_id, n_tokens,
           bin_id, pack_pos,
           pack_pos + n_tokens // 3 AS loss_start,
           pack_pos + n_tokens AS loss_end,
           row_number() OVER (
               PARTITION BY bin_id ORDER BY pack_pos, example_id
           ) - 1 AS attn_seg
    FROM packed
    """,
    doc="Sequence-packing surface, three legs in one "
        "kind-discriminated frame (operators/packing.py). "
        "kind='straddle' (sample packing for LLM pre-training): "
        "documents laid out in doc_id order get the 512-BPE-token bin "
        "their start offset falls in; a two-level distributed prefix "
        "sum (range-bucket -> per-bucket totals -> tiny-table offset "
        "window -> partitioned within-bucket window) so no stage runs "
        "a global single-task sort — the oracle's flat window IS that "
        "single task, which is exactly what this shape avoids at "
        "100 TB. kind='nostraddle' (round 11, "
        "pack_examples_nostraddle): greedy whole-example packing — "
        "bins never split an example and never cross the 100-doc "
        "alignment buckets, so the greedy fold runs per-bucket as a "
        "bounded F.aggregate, parallel across buckets; the oracle "
        "replays the fold with a recursive CTE. kind='sft' (round 11, "
        "sft_pack_with_loss_mask): the instruction-tuning layout over "
        "the same fold — per-example loss-mask spans (prompt masked, "
        "completion in [pack_pos + p, pack_pos + n)) and "
        "block-diagonal attention segment ids; prompt = n // 3 "
        "derives deterministically from the token counts",
)
def q64_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import text as T
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.packing import (
        pack_examples_nostraddle,
        pack_sequences,
        sft_pack_with_loss_mask,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    straddle = pack_sequences(
        docs, T.bpe_token_count(F.col("text")), budget=_Q64_B,
        id_col="doc_id", bucket_size=1000,
    ).select(
        F.lit("straddle").alias("kind"),
        "doc_id", "n_tokens", "bin_id", "pack_pos",
    )

    ex = docs.select(
        F.col("doc_id").alias("example_id"),
        F.size(tokens(F.col("text"))).cast("long").alias("n"),
    ).filter(F.col("n") <= _Q64_B)
    nostraddle = pack_examples_nostraddle(
        ex, F.col("n"), budget=_Q64_B, id_col="example_id",
        bucket_size=_Q64_S,
    ).select(
        F.lit("nostraddle").alias("kind"),
        F.col("example_id").alias("doc_id"),
        "n_tokens", "bin_id", "pack_pos",
    )

    sft = sft_pack_with_loss_mask(
        ex.select(
            "example_id",
            F.expr("n DIV 3").alias("p"),
            F.expr("n - n DIV 3").alias("c"),
        ),
        F.col("p"), F.col("c"), budget=_Q64_B,
        id_col="example_id", bucket_size=_Q64_S,
    ).select(
        F.lit("sft").alias("kind"),
        F.col("example_id").alias("doc_id"),
        "n_tokens", "bin_id", "pack_pos",
        "loss_start", "loss_end", "attn_seg",
    )

    return (
        straddle.unionByName(nostraddle, allowMissingColumns=True)
        .unionByName(sft, allowMissingColumns=True)
        .select(
            "kind", "doc_id", "n_tokens", "bin_id", "pack_pos",
            "loss_start", "loss_end", "attn_seg",
        )
    )


#: q65 CMS-leg gate sizing (draft-proven at sf0.001 AND sf0.01): a
#: 2^8-bucket sketch at threshold 40 puts both verdict paths — exact
#: heavies and collision-inflated near-misses — under the value hash
_Q65_CMS_W_BITS = 8
_Q65_CMS_T = 40

# doc_id%3 augmentation for the LM leg (the q44 pattern): the raw
# synthetic corpus draws from a ~30-word vocabulary the reference
# slice covers completely, so without augmentation every doc lands in
# one bucket and the cond/backoff/bucket columns gate nothing.
# %3==0 -> fully OOV (tail probe), %3==1 -> original + OOV twin +
# in-vocab coda (middle + backoff probe), %3==2 -> untouched (the
# reference slice + head probe).
_Q65_AUG_OOV_SQL = (
    "array_to_string(list_transform(toks, "
    "x -> x || '-' || CAST(doc_id AS VARCHAR)), ' ')"
)


def _cms_heavy_ctes(gram_cte: str, w_bits: int) -> str:
    """The Count-Min counter-table replay as a composable WITH-body
    fragment over ``gram_cte`` (one gram occurrence per row): per-salt
    bucket hashes -> d bucket-count tables (c0..c3) -> distinct-gram
    occurrence counts (dg). ONE definition shared by the q65 batch
    gate and the q88 streaming gate (the streamed state is bit-for-bit
    the one-shot table, so both replay the same SQL) — a sketch-math
    change cannot silently leave one oracle behind."""
    w = 1 << w_bits
    bucket_sql = "".join(
        f"""
           CAST(('0x' || substr(md5(gram || '|' || 'cms{i}'), 1, 15))
                AS BIGINT) % {w} AS b{i},"""
        for i in range(4)
    ).rstrip(",")
    return f"""h AS (
        SELECT gram,{bucket_sql}
        FROM {gram_cte}
    ), c0 AS (SELECT b0 AS k, CAST(count(*) AS BIGINT) AS cnt
              FROM h GROUP BY b0),
       c1 AS (SELECT b1 AS k, CAST(count(*) AS BIGINT) AS cnt
              FROM h GROUP BY b1),
       c2 AS (SELECT b2 AS k, CAST(count(*) AS BIGINT) AS cnt
              FROM h GROUP BY b2),
       c3 AS (SELECT b3 AS k, CAST(count(*) AS BIGINT) AS cnt
              FROM h GROUP BY b3),
       dg AS (
        SELECT gram, b0, b1, b2, b3, CAST(count(*) AS BIGINT) AS n
        FROM h GROUP BY gram, b0, b1, b2, b3
    )"""


#: the heavy-enumeration tail over _cms_heavy_ctes' dg/c0..c3 (same
#: sharing rationale): emits (gram, n_occurrences, est_count,
#: is_heavy) for every sketch survivor at threshold {t}
_CMS_HEAVY_SELECT = """
    SELECT dg.gram,
           dg.n AS n_occurrences,
           least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) AS est_count,
           dg.n >= {t} AS is_heavy
    FROM dg
    JOIN c0 ON dg.b0 = c0.k JOIN c1 ON dg.b1 = c1.k
    JOIN c2 ON dg.b2 = c2.k JOIN c3 ON dg.b3 = c3.k
    WHERE least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) >= {t}"""


def _q65_oracle() -> str:
    t = _Q65_CMS_T
    quality = _sql_quality("toks", "list_distinct(toks)")
    return f"""
    WITH rt AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), rg AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(range(0, len(toks) - 1), i ->
                       toks[i + 1] || ' ' || toks[i + 2])
               ELSE [] END AS grams
        FROM rt
    ), cg AS (
        SELECT unnest(grams) AS gram FROM rg
    ), {_cms_heavy_ctes('cg', _Q65_CMS_W_BITS)}, aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN {_Q65_AUG_OOV_SQL}
                    WHEN doc_id % 3 = 1 THEN
                        text || ' ' || {_Q65_AUG_OOV_SQL} || ' scan merge'
                    ELSE text END AS text
        FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    ), flagged AS (
        SELECT doc_id, toks,
               doc_id % 3 = 2 AND ({quality}) >= 0.7 AS is_ref
        FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM aug)
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
    ), lpairs AS (
        SELECT doc_id, is_ref, toks[i - 1] AS w1, toks[i] AS w2 FROM idx
    ), big AS (
        SELECT w1, w2, count(*) AS c2 FROM lpairs WHERE is_ref
        GROUP BY 1, 2
    ), joined AS (
        SELECT p.doc_id, b.c2, u1.c1 AS c1_prefix, u2.c1 AS c1_cont
        FROM lpairs p
        LEFT JOIN big b USING (w1, w2)
        LEFT JOIN uni u1 ON u1.w = p.w1
        LEFT JOIN uni u2 ON u2.w = p.w2
    ), lagg AS (
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
    SELECT 'rep' AS kind, doc_id,
           len(grams) AS n_bigrams,
           len(list_distinct(grams)) AS n_distinct,
           CASE WHEN len(grams) > 0 THEN
               round(CAST(len(grams) - len(list_distinct(grams))
                          AS DOUBLE) / len(grams), 6)
           END AS dup_fraction,
           CASE WHEN len(grams) > 0 THEN
               round(CAST(len(grams) - len(list_distinct(grams))
                          AS DOUBLE) / len(grams), 6) > 0.2
           END AS is_repetitive,
           CAST(NULL AS VARCHAR) AS gram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS est_count,
           CAST(NULL AS BOOLEAN) AS is_heavy,
           CAST(NULL AS BIGINT) AS n_hits,
           CAST(NULL AS BIGINT) AS n_oov,
           CAST(NULL AS DOUBLE) AS hit_rate,
           CAST(NULL AS DOUBLE) AS cond_score,
           CAST(NULL AS DOUBLE) AS backoff_score,
           CAST(NULL AS VARCHAR) AS quality_bucket
    FROM rg
    UNION ALL
    SELECT 'heavy' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_bigrams,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS dup_fraction,
           CAST(NULL AS BOOLEAN) AS is_repetitive,
           gram, n_occurrences, est_count, is_heavy,
           CAST(NULL AS BIGINT) AS n_hits,
           CAST(NULL AS BIGINT) AS n_oov,
           CAST(NULL AS DOUBLE) AS hit_rate,
           CAST(NULL AS DOUBLE) AS cond_score,
           CAST(NULL AS DOUBLE) AS backoff_score,
           CAST(NULL AS VARCHAR) AS quality_bucket
    FROM ({_CMS_HEAVY_SELECT.format(t=t)})
    UNION ALL
    SELECT 'lm' AS kind, d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS dup_fraction,
           CAST(NULL AS BOOLEAN) AS is_repetitive,
           CAST(NULL AS VARCHAR) AS gram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS est_count,
           CAST(NULL AS BOOLEAN) AS is_heavy,
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
    FROM documents d LEFT JOIN lagg a USING (doc_id) CROSS JOIN tot t
    """


@register(
    "q65_repetition_filter",
    _q65_oracle(),
    doc="Corpus n-gram surface, three legs in one kind-discriminated "
        "frame. kind='rep' (Gopher-style repetition filter): fraction "
        "of word bigrams that repeat an earlier bigram in the same "
        "document; docs above 0.2 flagged as boilerplate. Bulk shape "
        "= posexplode + lead() window + one hash aggregate per doc "
        "(all codegen'd; one narrow shuffle on doc id) — the column "
        "form (text.py::repeated_ngram_fraction) is interpreted-HOF, "
        "measured 32 s vs 1.5 s at sf0.1. kind='heavy' (round 11, "
        "operators/sketch.py::corpus_heavy_ngrams): corpus-level "
        "frequent bigrams via the Count-Min prefilter -> exact-count "
        "pattern — a d x 2^w integer counter table built map-side, "
        "probed with d broadcast joins + one least() projection; CMS "
        "never undercounts, so est >= T flags a deterministic "
        "SUPERSET and the oracle replays the counter table "
        "bit-for-bit, collision overestimates included (both verdict "
        "paths under the hash at the gate-sized w_bits=8/T=40). "
        "kind='lm' (round 11, operators/lm.py full surface): the "
        "bigram LM trained on the clean doc_id%3==2 reference slice "
        "scores every augmented doc — hit_rate plus the cond_score / "
        "backoff_score / quality_bucket columns q100 does not pin; "
        "integer sums, one 6-dp divide per score",
)
def q65_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.lm import (
        score_ngram_lm,
        train_ngram_lm,
    )
    from formula1_data_pipeline_spark.operators.sketch import (
        corpus_heavy_ngrams,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")["documents"]
    ex = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = ex.select(
        "doc_id",
        F.when(
            F.lead("t", 1).over(w).isNotNull(),
            F.concat_ws(" ", F.col("t"), F.lead("t", 1).over(w)),
        ).alias("gram"),
    )
    stats = grams.groupBy("doc_id").agg(
        F.count("gram").alias("n_bigrams"),
        F.countDistinct("gram").alias("n_distinct"),
    )
    dup = F.round(
        (F.col("n_bigrams") - F.col("n_distinct")).cast("double")
        / F.col("n_bigrams"), 6,
    )
    rep = (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            F.lit("rep").alias("kind"),
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.when(F.col("n_bigrams") > 0, dup).alias("dup_fraction"),
            F.when(F.col("n_bigrams") > 0, dup > 0.2)
            .alias("is_repetitive"),
        )
    )

    heavy = corpus_heavy_ngrams(
        docs, n=2, threshold=_Q65_CMS_T, w_bits=_Q65_CMS_W_BITS,
    ).select(
        F.lit("heavy").alias("kind"),
        "gram", "n_occurrences", "est_count", "is_heavy",
    )

    oov = F.array_join(
        F.transform(
            tokens(F.col("text")),
            lambda x: F.concat(
                x, F.lit("-"), F.col("doc_id").cast("string")
            ),
        ),
        " ",
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, oov)
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"), F.lit(" "), oov, F.lit(" scan merge")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    is_ref = (F.col("doc_id") % 3 == 2) & (
        quality_score(F.col("text")) >= 0.7
    )
    model = train_ngram_lm(aug, is_ref)
    lm = score_ngram_lm(aug, model).select(
        F.lit("lm").alias("kind"),
        "doc_id", "n_bigrams", "n_hits", "n_oov",
        "hit_rate", "cond_score", "backoff_score", "quality_bucket",
    )

    return (
        rep.unionByName(heavy, allowMissingColumns=True)
        .unionByName(lm, allowMissingColumns=True)
        .select(
            "kind", "doc_id", "n_bigrams", "n_distinct",
            "dup_fraction", "is_repetitive", "gram", "n_occurrences",
            "est_count", "is_heavy", "n_hits", "n_oov", "hit_rate",
            "cond_score", "backoff_score", "quality_bucket",
        )
    )


#: q66 Bloom-leg gate sizing: 2^12 bits keeps deterministic false
#: positives inside the value hash (production default stays 2^20,
#: operators/bloom.py::N_BITS); 4 double-hash probes per key
_BLOOM_GATE_BITS = 1 << 12
_BLOOM_K = 4


#: q66 fuzzy-tier gate sizing: jaccard threshold for the cross-corpus
#: MinHash-LSH decontamination leg (production default matches the
#: q21 near-dup threshold family; 0.5 keeps the light-rewrite
#: benchmark derivation non-vacuous at gate scale)
_Q66_FUZZY_T = 0.5


def _q66_fuzzy_sql() -> str:
    """Fuzzy-decontamination oracle legs (round 13, promoted verbatim
    from the r13 draft): benchmark = every doc_id % 17 == 0 document
    re-entering with one appended token (high-but-<1 jaccard — what
    the exact shingle tier misses) plus unmatchable noise rows;
    corpus and benchmark minhash-sign independently, candidates come
    from the band join, exact jaccard verifies candidates only."""
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
    , fdbase AS (
        SELECT doc_id AS id, {_SQL_HTOKS} AS htoks FROM documents
    ), fbench AS (
        SELECT doc_id AS b_id, text || ' zzcontam' AS btext
        FROM documents WHERE doc_id % 17 = 0
        UNION ALL
        SELECT doc_id + 5000000,
               'zznoise' || CAST(doc_id AS VARCHAR)
               || ' qqnoise' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id % 23 = 0
    ), fbbase AS (
        SELECT b_id, {htoks_bench} AS htoks FROM fbench
    ), fdtok AS (
        SELECT id, unnest(htoks) AS h FROM fdbase
    ), fbtok AS (
        SELECT b_id AS id, unnest(htoks) AS h FROM fbbase
    ), fdsig AS (
        SELECT id, {mins} FROM fdtok GROUP BY id
    ), fbsig AS (
        SELECT id, {mins} FROM fbtok GROUP BY id
    ), fdbanded AS (
        SELECT id, unnest([
            {bands}
        ]) AS band FROM fdsig
    ), fbbanded AS (
        SELECT id AS b_id, unnest([
            {bands}
        ]) AS band FROM fbsig
    ), fcand AS (
        SELECT DISTINCT d.id AS a_id, b.b_id
        FROM fdbanded d JOIN fbbanded b USING (band)
    ), fvp AS (
        SELECT c.a_id, c.b_id,
               CAST(len(list_intersect(da.htoks, bb.htoks)) AS DOUBLE)
                   / len(list_distinct(list_concat(da.htoks,
                                                   bb.htoks)))
                   AS jaccard
        FROM fcand c
        JOIN fdbase da ON da.id = c.a_id
        JOIN fbbase bb ON bb.b_id = c.b_id
    ), fagg AS (
        SELECT a_id,
               CAST(count(DISTINCT b_id) AS BIGINT)
                   AS n_fuzzy_matches,
               max(jaccard) AS max_fuzzy_jaccard
        FROM fvp WHERE jaccard >= {_Q66_FUZZY_T}
        GROUP BY a_id
    )
    """


@register(
    "q66_contamination_check",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> CAST(('0x' || substr(md5(array_to_string(
                                list_slice(toks, i + 1, i + 3), ' ')),
                                1, 15)) AS BIGINT)))
               ELSE [] END AS hs
        FROM t
    ), bench AS (
        SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 97 = 0
    ), corpus AS (
        SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 97 <> 0
    ), hits AS (
        SELECT c.doc_id, count(*) AS n_hits
        FROM corpus c JOIN bench b USING (h)
        GROUP BY 1
    ), ks AS (
        SELECT unnest(range(0, {_BLOOM_K})) AS j
    ), bpos AS (
        SELECT DISTINCT
               ((h % {_BLOOM_GATE_BITS})
                + j * (((h >> 20) % ({_BLOOM_GATE_BITS} - 1)) + 1))
               % {_BLOOM_GATE_BITS} AS p
        FROM bench, ks
    ), bwords AS (
        SELECT p // 63 AS word_idx,
               bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        FROM bpos GROUP BY 1
    ), cprobes AS (
        SELECT doc_id, h,
               ((h % {_BLOOM_GATE_BITS})
                + j * (((h >> 20) % ({_BLOOM_GATE_BITS} - 1)) + 1))
               % {_BLOOM_GATE_BITS} AS p
        FROM corpus, ks
    ), chit AS (
        SELECT doc_id, h, count(*) AS nset
        FROM cprobes JOIN bwords ON cprobes.p // 63 = bwords.word_idx
        WHERE (bits & (1::BIGINT << CAST(p % 63 AS INT)))
              = (1::BIGINT << CAST(p % 63 AS INT))
        GROUP BY 1, 2
    ), bloomhits AS (
        SELECT doc_id, count(*) AS n_bloom_hits
        FROM chit WHERE nset = {_BLOOM_K} GROUP BY 1
    ){_q66_fuzzy_sql()}
    SELECT 'shingle' AS kind, s.doc_id,
           COALESCE(hits.n_hits, 0) AS n_hits,
           COALESCE(hits.n_hits, 0) > 0 AS contaminated,
           COALESCE(b.n_bloom_hits, 0) AS n_bloom_hits,
           COALESCE(b.n_bloom_hits, 0) > 0 AS bloom_contaminated,
           CAST(NULL AS DOUBLE) AS max_fuzzy_jaccard
    FROM sh s LEFT JOIN hits USING (doc_id)
    LEFT JOIN bloomhits b USING (doc_id)
    WHERE s.doc_id % 97 <> 0
    UNION ALL
    SELECT 'fuzzy', d.id,
           COALESCE(a.n_fuzzy_matches, 0),
           COALESCE(a.n_fuzzy_matches, 0) > 0,
           CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
           a.max_fuzzy_jaccard
    FROM fdbase d LEFT JOIN fagg a ON a.a_id = d.id
    """,
    doc="Benchmark-contamination check, exact + Bloom tiers. Exact "
        "(n_hits/contaminated): corpus documents sharing any 3-gram "
        "shingle hash (q28's md5 scheme) with a held-out benchmark "
        "set (doc_id % 97 = 0 here; a real eval set in production) "
        "are flagged with their hit count; the benchmark shingle set "
        "broadcasts (eval sets are small), so the corpus side never "
        "shuffles for the membership join — a narrow scan + broadcast "
        "semi-join at 100 TB. Bloom tier (round 11, "
        "operators/bloom.py): n_bloom_hits/bloom_contaminated from a "
        "63-bit-word Bloom filter over the same benchmark hashes — "
        "the fixed-size (~130 KiB at the 2^20 production default) "
        "broadcast prefilter that replaces the exact set when the "
        "eval corpus outgrows a broadcast; never undercounts, so the "
        "verdicts are a deterministic SUPERSET. The GATE filter is "
        "deliberately 2^12 bits so deterministic false positives sit "
        "under the value hash (the oracle replays the double-hash "
        "probes and the bit table word-for-word). "
        "kind='fuzzy' (round 13, dedup.py::fuzzy_contamination): the "
        "third tier — cross-corpus MinHash-LSH catching LIGHT "
        "REWRITES of benchmark items both exact tiers miss (the gate "
        "derives a benchmark of one-token-appended copies, "
        "jaccard < 1 by construction, plus unmatchable noise). "
        "Corpus and benchmark sign independently; candidates come "
        "from the band join (benchmark side is eval-set-small, so "
        "the corpus never shuffles for it); exact jaccard verifies "
        "candidates only — the q21 scale shape pointed across "
        "corpora",
)
def q66_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.bloom import (
        bloom_contamination,
    )
    from formula1_data_pipeline_spark.operators.dedup import (
        fuzzy_contamination,
    )
    from formula1_data_pipeline_spark.operators.text import shingle_hashes_df

    docs = load(spark, sf_dir, "documents")["documents"]
    shingles = shingle_hashes_df(docs)
    is_bench = F.col("id") % 97 == 0
    bench_h = shingles.filter(is_bench).select("h").distinct()
    corpus = shingles.filter(~is_bench)
    # (id, h) is distinct per doc, so count(*) == distinct hit count
    hits = (
        corpus.join(F.broadcast(bench_h), "h")
        .groupBy("id").agg(F.count("*").alias("n_hits"))
    )
    bloom = bloom_contamination(
        docs.filter(F.col("doc_id") % 97 != 0), bench_h,
        n_bits=_BLOOM_GATE_BITS, n_hashes=_BLOOM_K,
    )
    exact_tiers = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(hits.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(bloom, "doc_id", "left")
        .select(
            F.lit("shingle").alias("kind"),
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
            "n_bloom_hits",
            "bloom_contaminated",
            F.lit(None).cast("double").alias("max_fuzzy_jaccard"),
        )
    )
    fbench = (
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
    fuzzy = fuzzy_contamination(docs, fbench,
                                threshold=_Q66_FUZZY_T).select(
        F.lit("fuzzy").alias("kind"),
        "doc_id",
        F.col("n_fuzzy_matches").alias("n_hits"),
        F.col("fuzzy_contaminated").alias("contaminated"),
        F.lit(None).cast("long").alias("n_bloom_hits"),
        F.lit(None).cast("boolean").alias("bloom_contaminated"),
        "max_fuzzy_jaccard",
    )
    return exact_tiers.unionByName(fuzzy)


@register(
    "q67_scd2_history",
    """
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), flagged AS (
        SELECT *,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR event_type <> lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), runs AS (
        SELECT user_id, island, event_type AS attr,
               min(ts) AS valid_from, count(*) AS n_events
        FROM numbered GROUP BY 1, 2, 3
    )
    SELECT user_id, attr, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
               AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
               IS NULL AS is_current
    FROM runs
    """,
    doc="SCD type-2 history — the dbt-snapshot semantics the "
        "reference's third DAG invokes but never defines models for "
        "(SURVEY.md §2.11 M2): each user's event_type runs collapse to "
        "validity intervals with valid_from/valid_to and an is_current "
        "flag. Gaps-and-islands windows partitioned by the dimension "
        "key; the window and the island aggregate share one shuffle. "
        "operators/scd2.py",
)
def q67_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.scd2 import scd2_history

    ev = (
        load(spark, sf_dir, "events")["events"]
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    return scd2_history(
        ev, key_col="user_id", attr_col="event_type",
        ts_col="ts", tiebreak_col="event_id",
    )


_GB_BUDGETS = {"src0": 3000, "src1": 1200}
_GB_DEFAULT = 700
_GB_VALUES = ", ".join(f"('{g}', {b})" for g, b in _GB_BUDGETS.items())


@register(
    "q68_mixture_resample",
    f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
    ), m AS (
        SELECT min(n_docs) AS n_min FROM counts
    ), rates AS (
        SELECT lang, n_docs,
               sqrt(CAST(n_min AS DOUBLE) / n_docs) AS rate
        FROM counts, m
    ), gb(gsource, budget) AS (
        VALUES {_GB_VALUES}
    ), gd AS (
        SELECT source, doc_id,
               CAST(CAST(CAST(n_chars % 97 AS DOUBLE) / 97.0
                    AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS score_q,
               CAST(greatest(1, n_chars // 5) AS BIGINT) AS n_tokens
        FROM documents
    ), gj AS (
        SELECT gd.*, COALESCE(gb.budget, {_GB_DEFAULT}) AS budget
        FROM gd LEFT JOIN gb ON gd.source = gb.gsource
    ), go AS (
        SELECT source, doc_id, score_q, n_tokens, budget,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY score_q DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM gj
    )
    SELECT 'resample' AS kind, d.doc_id, d.lang AS grp, r.n_docs,
           round(r.rate, 6) AS keep_rate,
           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' ||
                'mix-v1'), 1, 15)) AS BIGINT) % 1000000
               < CAST(floor(r.rate * 1000000) AS BIGINT) AS kept,
           CAST(NULL AS BIGINT) AS score_q,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS cum_before
    FROM documents d JOIN rates r USING (lang)
    UNION ALL
    SELECT 'group_budget', doc_id, source, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN),
           score_q, n_tokens, cum_before
    FROM go WHERE cum_before < budget
    """,
    doc="Training-mixture control surface, two kinds. "
        "kind='resample': domain-mixture resampling (temperature "
        "0.5): per-language keep rates sqrt(n_min/n_lang), so "
        "sampled counts scale as sqrt(n_lang) — the standard "
        "temperature reweighting of a multi-source training mix. "
        "sqrt is IEEE-correctly-rounded in both engines (pow is NOT, "
        "which is why T is fixed at 0.5), the rate threshold is an "
        "exact integer compare on the md5 micro-bucket, and "
        "membership is a pure function of doc_id — reproducible "
        "across runs, engines and partitionings. Shape: one tiny "
        "aggregate (langs), broadcast back over a narrow scan; no "
        "corpus shuffle at any scale. "
        "kind='group_budget' (round 14, selection.py::"
        "select_token_budget_by_group): per-SOURCE token QUOTAS — "
        "each source fills its own budget from its own (score DESC, "
        "doc_id ASC) prefix, the mixture form pretraining recipes "
        "state ('300B web, 30B code'); sources outside the quota "
        "dict take a default budget. Exact integer/decimal "
        "arithmetic end to end; the bucket-offset window partitions "
        "BY GROUP (strictly better scale shape than the q100 global "
        "form), budget pruning bounds the join-back at "
        "~sum(budgets) rows",
)
def q68_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.sampling import hash_bucket
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    rates = (
        counts.crossJoin(F.broadcast(n_min))
        .select(
            "lang", "n_docs",
            F.sqrt(F.col("n_min").cast("double") / F.col("n_docs"))
            .alias("rate"),
        )
    )
    bucket = hash_bucket(F.col("doc_id"), "mix-v1", n_buckets=1000000)
    nul_b = F.lit(None).cast("long")
    resample = (
        docs.join(F.broadcast(rates), "lang")
        .select(
            F.lit("resample").alias("kind"),
            "doc_id",
            F.col("lang").alias("grp"),
            "n_docs",
            F.round("rate", 6).alias("keep_rate"),
            (bucket < F.floor(F.col("rate") * 1000000)).alias("kept"),
            nul_b.alias("score_q"),
            nul_b.alias("n_tokens"),
            nul_b.alias("cum_before"),
        )
    )
    group_budget = select_token_budget_by_group(
        docs,
        (F.col("n_chars") % 97).cast("double") / 97.0,
        F.greatest(F.lit(1), F.col("n_chars") / F.lit(5)).cast("long"),
        "source", _GB_BUDGETS, default_budget=_GB_DEFAULT,
    ).select(
        F.lit("group_budget").alias("kind"),
        "doc_id",
        F.col("source").alias("grp"),
        nul_b.alias("n_docs"),
        F.lit(None).cast("double").alias("keep_rate"),
        F.lit(None).cast("boolean").alias("kept"),
        "score_q",
        "n_tokens",
        "cum_before",
    )
    return resample.unionByName(group_budget)


_PRIO_K = 100

@register(
    "q80_stratified_topn",
    f"""
    WITH ranked AS (
        SELECT event_type, event_id, user_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST('0x' || substr(md5(
                       CAST(event_id AS VARCHAR) || '|sample'), 1, 15)
                       AS BIGINT) ASC,
                       event_id ASC
               ) AS rn
        FROM events
    ), pracers AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || '|' || 'priosample-v1'), 1, 15)) AS BIGINT) + 1
                   AS u
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    ), pranked AS (
        SELECT doc_id, w, u,
               row_number() OVER (
                   ORDER BY CAST(u AS DOUBLE) / w ASC, doc_id ASC
               ) AS prio_rank
        FROM pracers
    ), ptau AS (
        SELECT COALESCE(max(w * 1152921504606846976.0
                            / CAST(u AS DOUBLE)), 0.0) AS tau
        FROM pranked WHERE prio_rank = {_PRIO_K + 1}
    )
    SELECT 'stratified' AS kind, event_type AS grp, event_id AS key,
           user_id, CAST(NULL AS DOUBLE) AS w,
           CAST(NULL AS INTEGER) AS prio_rank,
           CAST(NULL AS DOUBLE) AS tau,
           CAST(NULL AS DOUBLE) AS ht_weight
    FROM ranked WHERE rn <= 200
    UNION ALL
    SELECT 'priority', NULL, r.doc_id, NULL, r.w,
           CAST(r.prio_rank AS INTEGER), t.tau,
           greatest(r.w, t.tau)
    FROM pranked r, ptau t
    WHERE r.prio_rank <= {_PRIO_K}
    UNION ALL
    SELECT 'priority_stream', NULL, r.doc_id, NULL, r.w,
           CAST(r.prio_rank AS INTEGER), t.tau,
           greatest(r.w, t.tau)
    FROM pranked r, ptau t
    WHERE r.prio_rank <= {_PRIO_K}
    """,
    doc="Fixed-size sampling surface, two kinds. kind='stratified': "
        "exactly 200 events per event_type by deterministic 60-bit "
        "hash rank — the fixed-budget mixture primitive "
        "complementing q38's rate-based splits. Round 10: the "
        "physical path is sampling.stratified_topn_bucketed — the "
        "RefinedWeb per-domain quota cap as a skew-proof two-level "
        "prefix sum (range-bucket the hash, map-side-partial count "
        "per (stratum, bucket), prefix-sum the tiny count table, "
        "PRUNE buckets past the quota) so the in-stratum sort window "
        "touches ~n rows per stratum instead of single-tasking a "
        "billion-row domain; row-for-row identical to the window "
        "form (property-tested), so the oracle still replays the "
        "plain hash ranking. kind='priority' (round 12, sampling.py::"
        "priority_sample): Duffield-Lund-Thorup weighted bottom-k — "
        "exactly k documents by n_chars weight with Horvitz-Thompson "
        "ht_weight = max(w, tau) making any subset-sum estimate "
        "unbiased; priorities are md5-derived (no RNG), every "
        "arithmetic step an IEEE correctly-rounded op on identically "
        "constructed operands, so the whole leg value-hash-gates. "
        "One TakeOrderedAndProject scan, k-flat driver state. "
        "kind='priority_stream' (round 14, streaming/sample.py): the "
        "SAME sample maintained over a micro-batch file replay — "
        "bottom-(k+1) racer states MERGE (bottom-k selection is "
        "associative; md5 race keys make the state a pure function "
        "of the document set), so the streamed result is bit-for-bit "
        "the batch operator's for ANY split and the oracle arm is "
        "the priority CTE re-labeled. Per micro-batch: one "
        "TakeOrderedAndProject + a (2k+2)-row merge + O(k) txn "
        "state overwrite; the landed corpus is never re-read",
)
def q80_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.sampling import (
        priority_sample,
        stratified_topn_bucketed,
    )

    ev = load(spark, sf_dir, "events")["events"].select(
        "event_type", "event_id", "user_id"
    )
    nul_d = F.lit(None).cast("double")
    strat = stratified_topn_bucketed(
        ev, ["event_type"], F.col("event_id"), n=200
    ).select(
        F.lit("stratified").alias("kind"),
        F.col("event_type").alias("grp"),
        F.col("event_id").alias("key"),
        "user_id",
        nul_d.alias("w"),
        F.lit(None).cast("int").alias("prio_rank"),
        nul_d.alias("tau"),
        nul_d.alias("ht_weight"),
    )
    docs = load(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "n_chars"
    )
    prio = priority_sample(
        docs, F.col("n_chars").cast("double"), _PRIO_K
    ).select(
        F.lit("priority").alias("kind"),
        F.lit(None).cast("string").alias("grp"),
        F.col("doc_id").alias("key"),
        F.lit(None).cast("bigint").alias("user_id"),
        "w",
        "prio_rank",
        "tau",
        "ht_weight",
    )

    # kind='priority_stream' (round 14): the stream-maintained sample
    # over a 2-micro-batch replay (2, not 3: the merge property is
    # proven at 2 and each AvailableNow batch is a full sequential
    # Spark job — the r13 bench lesson on latency-dominated gates);
    # bit-for-bit the batch leg by the bottom-(k+1) merge property,
    # so the oracle arm is the priority CTE re-labeled.
    from formula1_data_pipeline_spark.streaming.sample import (
        stream_priority_sample,
    )

    prio_stream = stream_priority_sample(
        spark, f"{sf_dir}/documents.parquet", "n_chars", _PRIO_K,
        n_source_files=2,
    ).select(
        F.lit("priority_stream").alias("kind"),
        F.lit(None).cast("string").alias("grp"),
        F.col("doc_id").alias("key"),
        F.lit(None).cast("bigint").alias("user_id"),
        "w",
        F.col("prio_rank").cast("int").alias("prio_rank"),
        "tau",
        "ht_weight",
    )
    return strat.unionByName(prio).unionByName(prio_stream)


@register(
    "q83_incremental_corpus_dedup",
    r"""
    WITH b AS (
        SELECT CAST(floor(max(doc_id) / 3.0) AS BIGINT) AS b1,
               CAST(floor(max(doc_id) * 2.0 / 3.0) AS BIGINT) AS b2
        FROM documents
    ), d AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp,
               CASE WHEN doc_id <= b.b1 THEN 0
                    WHEN doc_id <= b.b2 THEN 1
                    ELSE 2 END AS arrival_batch
        FROM documents, b
    )
    SELECT doc_id, fp, arrival_batch FROM (
        SELECT doc_id, fp, arrival_batch,
               row_number() OVER (
                   PARTITION BY fp ORDER BY arrival_batch, doc_id
               ) AS rn
        FROM d
    ) WHERE rn = 1
    """,
    doc="Incremental corpus dedup (§2.12 composite): documents arrive "
        "in three batches; each batch exact-dedups within itself "
        "(normalized fingerprint, min doc_id wins), anti-joins its "
        "fingerprints against the ALREADY-LANDED corpus "
        "(S8's incremental skip at corpus scale), and txn-appends only "
        "the novel documents — the continuous-ingestion pattern that "
        "keeps a 100 TB training corpus duplicate-free without ever "
        "rescanning it (per batch: one fingerprint groupBy + one "
        "anti-join + one append; the landed side is read as "
        "fingerprints only, column-pruned at the scan; broadcast vs "
        "shuffle anti-join is the PLANNER's size-based call — no "
        "hint, so an unboundedly growing landed side degrades to a "
        "fingerprint-partitioned shuffle instead of an OOM). The oracle "
        "replays the arrival order as a first-occurrence window over "
        "the whole corpus",
)
def q83_incremental_corpus_dedup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.scratch import scratch_dir

    from formula1_data_pipeline_spark.operators.dedup import (
        normalized_fingerprint,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
        txn_append,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    b1, b2 = mx // 3, mx * 2 // 3
    bounds = [(None, b1, 0), (b1, b2, 1), (b2, None, 2)]
    path = scratch_dir(prefix="q83_corpus_") + "/t"
    for lo, hi, batch_no in bounds:
        batch = docs
        if lo is not None:
            batch = batch.filter(F.col("doc_id") > lo)
        if hi is not None:
            batch = batch.filter(F.col("doc_id") <= hi)
        # within-batch dedup: min doc_id per normalized fingerprint
        batch = (
            batch.select(
                "doc_id", normalized_fingerprint(F.col("text")).alias("fp")
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .withColumn("arrival_batch", F.lit(batch_no))
        )
        if is_txn_table(spark, path):
            # No broadcast hint: the landed fingerprint set grows
            # monotonically (~16 bytes/doc, unbounded at corpus scale),
            # and a hint would bypass autoBroadcastJoinThreshold — a
            # guaranteed OOM on a 10B-doc corpus. Left as a planner
            # decision, the parquet size stats on the manifest's live
            # segments drive it: a small landed side still broadcasts
            # (AQE re-plans on runtime size), a large one becomes a
            # fingerprint-partitioned shuffle anti-join over columns
            # already pruned to `fp` (tests/test_datapipe_properties.py
            # pins the shuffle path under autoBroadcastJoinThreshold=-1).
            landed = read_table(spark, path).select("fp")
            batch = batch.join(landed, "fp", "left_anti")
        # default compact_threshold: a long-running deployment
        # appends one segment per batch forever — auto-compaction
        # (amortized ~1/AUTO_COMPACT_DIRS commits, vacuum inside
        # retention) bounds the live-dir count (round-6 verdict #6)
        txn_append(spark, batch, path)
    return read_table(spark, path).select(
        F.col("doc_id").cast("long").alias("doc_id"), "fp",
        F.col("arrival_batch").cast("int").alias("arrival_batch"),
    )


@register(
    "q85_leakage_safe_split",
    f"""
    WITH RECURSIVE {_SQL_CC_CTES},
    tc AS (
        SELECT ts, count(*) AS cnt FROM events
        WHERE ts IS NOT NULL GROUP BY ts
    ), tr AS (
        SELECT ts,
               SUM(cnt) OVER (ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(cnt) OVER () AS tot
        FROM tc
    ), tcut AS (
        SELECT min(ts) AS cutoff FROM tr
        WHERE cum >= ceil(CAST(0.8 AS DECIMAL(20,12)) * tot)
    ), tlab AS (
        SELECT e.event_id, e.user_id,
               CASE WHEN e.ts IS NULL THEN NULL
                    WHEN epoch_us(e.ts) <= epoch_us(cutoff)
                        THEN 'train'
                    WHEN epoch_us(e.ts) <= epoch_us(cutoff)
                            + 86400000000
                        THEN 'embargo'
                    ELSE 'test' END AS split
        FROM events e CROSS JOIN tcut
    ), tent AS (
        SELECT user_id,
               max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                   AS in_train,
               max(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                   AS in_test
        FROM tlab WHERE split IN ('train', 'test')
        GROUP BY user_id
    ), trep AS (
        SELECT CAST(count(*) AS BIGINT) AS n_entities,
               CAST(sum(CASE WHEN in_train = 1 AND in_test = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_train_only,
               CAST(sum(CASE WHEN in_train = 0 AND in_test = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_test_only,
               CAST(sum(CASE WHEN in_train = 1 AND in_test = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
               round(CAST(sum(CASE WHEN in_train = 1 AND in_test = 1
                        THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                   AS straddle_fraction
        FROM tent
    )
    SELECT 'cluster' AS kind, id AS key, comp AS cluster_id,
           {_sql_split('comp')} AS split, CAST(NULL AS DOUBLE) AS frac
    FROM cc
    UNION ALL
    SELECT 'temporal', event_id, CAST(NULL AS BIGINT), split, NULL
    FROM tlab
    UNION ALL
    SELECT 'temporal_report', n_entities, NULL, 'n_entities', NULL
    FROM trep
    UNION ALL
    SELECT 'temporal_report', n_train_only, NULL, 'n_train_only',
           NULL
    FROM trep
    UNION ALL
    SELECT 'temporal_report', n_test_only, NULL, 'n_test_only', NULL
    FROM trep
    UNION ALL
    SELECT 'temporal_report', n_straddling, NULL, 'n_straddling',
           NULL
    FROM trep
    UNION ALL
    SELECT 'temporal_report', CAST(NULL AS BIGINT), NULL,
           'straddle_fraction', straddle_fraction
    FROM trep
    """,
    doc="Leakage-safe train/val/test split (§2.12 composite), now "
        "both leakage axes under one (kind, key, cluster_id, split, "
        "frac) shape. kind='cluster': the split key is the near-dup "
        "CLUSTER id (q37's connected components), not the document "
        "id, so near-duplicates can never straddle train and test — "
        "the contamination failure q38's per-doc hash split cannot "
        "prevent. Same deterministic md5 bucketing as q38 "
        "(reproducible across runs, engines, partitionings); at "
        "100 TB this is one CC pass + a shuffle-free projection. "
        "kind='temporal' (round 12, sampling.py::temporal_split): "
        "the TIME-axis complement — train <= cutoff < 1-day embargo "
        "band <= cutoff+gap < test, cutoff the type-1 0.8-quantile "
        "of event time, embargo rows LABELED not dropped (the "
        "auditable form), exact-microsecond arithmetic end to end. "
        "kind='temporal_report' (temporal_leakage_report): does any "
        "entity (user_id) straddle train and test — the go/no-go "
        "row a time-split pipeline gates deployment on; one "
        "entity-keyed aggregate, counts + a 6-dp fraction",
)
def q85_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.cluster import (
        neardup_clusters,
    )
    from formula1_data_pipeline_spark.operators.sampling import (
        assign_split,
        hash_bucket,
        temporal_leakage_report,
        temporal_split,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    clusters = neardup_clusters(docs, text_col="text", id_col="doc_id",
                                max_distance=3)
    bucket = hash_bucket(F.col("cluster_id"), "split-v1")
    nul_l = F.lit(None).cast("bigint")
    nul_d = F.lit(None).cast("double")
    cluster_leg = clusters.select(
        F.lit("cluster").alias("kind"),
        F.col("doc_id").alias("key"),
        "cluster_id",
        assign_split(bucket, train_pct=80, val_pct=10).alias("split"),
        nul_d.alias("frac"),
    )

    ev = load(spark, sf_dir, "events")["events"]
    split = temporal_split(ev, "ts", train_frac=0.8,
                           embargo_seconds=86400)
    temporal_leg = split.select(
        F.lit("temporal").alias("kind"),
        F.col("event_id").alias("key"),
        nul_l.alias("cluster_id"),
        "split",
        nul_d.alias("frac"),
    )
    rep = temporal_leakage_report(split, "user_id")
    counts = ["n_entities", "n_train_only", "n_test_only",
              "n_straddling"]
    stack = ", ".join(
        [f"cast({c} as bigint), '{c}', cast(null as double)"
         for c in counts]
        + ["cast(null as bigint), 'straddle_fraction', "
           "straddle_fraction"]
    )
    rep_leg = rep.selectExpr(
        f"stack(5, {stack}) as (key, split, frac)"
    ).select(
        F.lit("temporal_report").alias("kind"),
        "key",
        nul_l.alias("cluster_id"),
        "split",
        "frac",
    )
    return (cluster_leg.unionByName(temporal_leg)
            .unionByName(rep_leg))


def _q87_oracle() -> str:
    from formula1_data_pipeline_spark.queries_llm import (
        _lsh_verified_pairs_ctes,
    )

    return f"""
    WITH {_lsh_verified_pairs_ctes()},
    b AS (
        SELECT CAST(floor(max(doc_id) / 3.0) AS BIGINT) AS b1,
               CAST(floor(max(doc_id) * 2.0 / 3.0) AS BIGINT) AS b2
        FROM documents
    ),
    dropped AS (SELECT DISTINCT b_id FROM vp WHERE jaccard >= 0.8)
    SELECT d.doc_id,
           CASE WHEN d.doc_id <= b.b1 THEN 0
                WHEN d.doc_id <= b.b2 THEN 1
                ELSE 2 END AS arrival_batch,
           d.doc_id NOT IN (SELECT b_id FROM dropped) AS kept
    FROM documents d, b
    """


@register(
    "q87_incremental_neardup_dedup",
    _q87_oracle(),
    doc="Incremental NEAR-dup corpus dedup (§2.12 composite, round 6): "
        "q83's continuous-ingestion pattern upgraded from exact "
        "fingerprints to MinHash-LSH similarity. Documents arrive in "
        "three batches; each batch computes signatures/band keys for "
        "ITS OWN docs only, finds candidates against the txn-landed "
        "band index of every previously SEEN doc (kept or dropped — "
        "dropping d against an unkept near-dup keeps the semantics "
        "order-stable) plus its own earlier rows, verifies exact "
        "token-set jaccard >= 0.8 on candidates only, and txn-appends "
        "its band keys + token sets to the index — the durable "
        "incremental state; keep/drop verdicts are derived rows, "
        "built per batch against the index version PINNED at "
        "read_table time and unioned lazily so the whole verdict "
        "pass is ONE final Spark job (round 14: was 3 verdict "
        "txn-appends + a read-back — pure sequential-job latency). "
        "The corpus is NEVER rescanned: per "
        "batch the work is one banded self-join + one band-key join "
        "against the index (shuffles carry (band, id) pairs), and "
        "jaccard runs on candidates only. The oracle replays the "
        "arrival order as 'dropped iff near-dup of ANY smaller id' "
        "over the q21-shared verified-pair CTEs (batches are id "
        "terciles, so id order == arrival order)",
)
def q87_incremental_neardup_dedup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.scratch import scratch_dir

    from formula1_data_pipeline_spark.operators.dedup import (
        _sig_agg,
        hashed_token_sets_df,
        minhash_bands,
        seen_index_neardup_dropped,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    threshold = 0.8
    docs = load(spark, sf_dir, "documents")["documents"]
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    b1, b2 = mx // 3, mx * 2 // 3
    bounds = [(None, b1, 0), (b1, b2, 1), (b2, None, 2)]
    root = scratch_dir(prefix="q87_corpus_")
    idx_path = f"{root}/seen_index"
    verdict_legs = []
    for lo, hi, batch_no in bounds:
        batch = docs
        if lo is not None:
            batch = batch.filter(F.col("doc_id") > lo)
        if hi is not None:
            batch = batch.filter(F.col("doc_id") <= hi)
        sig = _sig_agg(batch, "text", "doc_id", 16)
        toks_b = hashed_token_sets_df(batch, "text", "doc_id")
        # ONE seen-index table (id, bands array, token set): parquet
        # column pruning hands each consumer leg only its column —
        # the band self-join explodes `bands`, the verify joins read
        # `toks` — so a single append per batch buys both indexes.
        # Index FIRST, then candidate-join against the read-back: the
        # signature/token aggregates run exactly once (the append's
        # write job), and the single index self-join covers both
        # within-batch pairs and pairs against every previously seen
        # doc — `a.id < b.id AND b in batch` IS the arrival order,
        # because batches are id terciles and the index only ever
        # holds ids <= this batch's. No broadcast hints anywhere on
        # the index side (the q83 lesson): the seen index grows with
        # the corpus, so join strategy stays the planner's size-based
        # call.
        txn_append(
            spark,
            sig.select("id", minhash_bands(F.col("sig")).alias("bands"))
            .join(toks_b, "id"),
            idx_path,  # default compact_threshold: the seen-index
            # grows one segment per batch forever without compaction
            # (round-6 verdict #6); auto-compact + vacuum bound it
        )
        seen = read_table(spark, idx_path)
        # shared incremental pass (operators.dedup, also the q88
        # streaming body): id-ranged batches mean arrival order == id
        # order, so every new pair's LARGER id is in the batch —
        # symmetric=False, one b-restricted join
        dropped = seen_index_neardup_dropped(
            seen,
            F.col("id") > lo if lo is not None else F.lit(True),
            threshold=threshold,
        )
        # verdict legs accumulate LAZILY: read_table pinned the
        # index's post-append version at call time (manifest resolved
        # eagerly), so the final union action evaluates all three
        # batch-state joins in ONE Spark job instead of 3 verdict
        # txn-appends + a read-back — r13 bench lesson: this gate's
        # wall is sequential-small-job count, not data volume. The
        # durable incremental STATE (the seen index) still commits
        # per batch; the verdicts are derived rows a production run
        # would sink wherever its writer already lands output.
        verdict_legs.append(
            batch.select(F.col("doc_id").alias("id"))
            .join(dropped.withColumn("__dropped", F.lit(True)),
                  "id", "left")
            .select(
                F.col("id").cast("long").alias("doc_id"),
                F.lit(batch_no).cast("int").alias("arrival_batch"),
                F.col("__dropped").isNull().alias("kept"),
            )
        )
    out = verdict_legs[0]
    for leg in verdict_legs[1:]:
        out = out.unionByName(leg)
    return out


def _span_ctes(k: int, src: str = "documents") -> str:
    """DuckDB CTE chain ending in ``spans(id, span_start, span_end)``
    — the oracle twin of ``operators.substring.duplicate_spans``
    (same tokenizer, same 60-bit md5 shingle hash, same min-id
    cross-doc test, same gaps-and-islands merge), shared by the q90
    span-list and q91 cleaned-text oracles (and, with ``src``, the
    q97 flagship's quality-filtered corpus) so they cannot drift."""
    return f"""toklist AS (
        SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM {src}
    ), sh AS (
        SELECT id, pos,
               CAST(('0x' || substr(md5(
                   array_to_string(toks[pos + 1 : pos + {k}], ' ')
               ), 1, 15)) AS BIGINT) AS h
        FROM (
            SELECT id, toks, unnest(range(0, len(toks) - {k} + 1)) AS pos
            FROM toklist WHERE len(toks) >= {k}
        )
    ), m AS (
        SELECT id, pos FROM (
            SELECT id, pos, min(id) OVER (PARTITION BY h) AS first_id
            FROM sh
        ) WHERE id > first_id
    ), isl AS (
        SELECT id, pos,
               sum(CASE WHEN prev IS NULL OR pos > prev + {k}
                   THEN 1 ELSE 0 END)
                   OVER (PARTITION BY id ORDER BY pos) AS island
        FROM (
            SELECT id, pos,
                   lag(pos) OVER (PARTITION BY id ORDER BY pos) AS prev
            FROM m
        )
    ), spans AS (
        SELECT id, min(pos) AS span_start, max(pos) + {k} - 1 AS span_end
        FROM isl GROUP BY id, island
    )"""


@register(
    "q90_crossdoc_span_dedup",
    f"""
    WITH {_span_ctes(8)}
    SELECT id AS doc_id, span_start, span_end,
           span_end - span_start + 1 AS n_tokens
    FROM spans
    """,
    doc="Cross-document exact-substring (span-level) dedup (§2.12, "
        "round 7; Lee et al. 2021, arXiv 2107.06499): find byte-"
        "identical token spans >= 8 tokens shared across documents "
        "(boilerplate, licenses, quotes) and emit the per-doc cut "
        "list — the substring-granularity companion every production "
        "corpus pipeline runs alongside doc-level dedup. A span of "
        ">= L tokens shared by two docs contains a matching L-gram "
        "and is fully covered by matching L-grams, so k = L "
        "positional shingles recover exactly the shared spans; the "
        "min-id doc keeps its copy (the repo dedup convention — the "
        "pass is idempotent). Three full shuffles of a 3-int-wide "
        "shingle stream (doc-id window — AQE-reused across both "
        "consumers, first-occurrence join, island merge) plus one "
        "small partial-min shuffle — no doc-pair candidates, no "
        "quadratic term anywhere; round 8: the per-shingle first-"
        "occurrence id is a two-stage map-side partial min joined "
        "back, so a hot boilerplate shingle STREAMS through its join "
        "task instead of buffering a WindowExec frame",
)
def q90_crossdoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.substring import (
        duplicate_spans,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return duplicate_spans(docs, min_span_tokens=8).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "q91_span_cut_corpus",
    f"""
    WITH {_span_ctes(8)},
    tokrows AS (
        SELECT id, unnest(toks) AS t,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM toklist
    ), keptagg AS (
        SELECT tr.id, string_agg(tr.t, ' ' ORDER BY tr.pos) AS clean_text,
               count(*) AS n_kept
        FROM tokrows tr
        WHERE NOT EXISTS (
            SELECT 1 FROM spans sp
            WHERE sp.id = tr.id
              AND tr.pos BETWEEN sp.span_start AND sp.span_end
        )
        GROUP BY tr.id
    )
    SELECT t.id AS doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           coalesce(k.n_kept, 0) AS n_kept,
           len(t.toks) - coalesce(k.n_kept, 0) AS n_cut
    FROM toklist t LEFT JOIN keptagg k ON k.id = t.id
    """,
    doc="Cleaned-corpus projection of q90 (§2.12, round 7): every "
        "duplicated cross-doc span >= 8 tokens removed from every doc "
        "except the min-id holder; output is one row per input doc "
        "with the surviving tokens (tokenizer normal form: lower-"
        "cased, single-space-joined), '' when the whole doc was cut "
        "(an exact duplicate). On top of q90's three shuffles this "
        "adds only linear work: spans explode to their (disjoint) cut "
        "positions and anti-join the token stream on (id, pos) — no "
        "pair blowup",
)
def q91_span_cut_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.substring import (
        cut_duplicate_spans,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    return cut_duplicate_spans(docs, min_span_tokens=8).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "clean_text",
        "n_kept",
        "n_cut",
    )


def _iw_ctes(src: str = "documents", sfx: str = "") -> str:
    """CTE chain ending in ``iw{sfx}(doc_id, n_tokens, imp_num,
    imp_den, importance)`` — the DuckDB twin of
    ``operators.sampling.importance_weights`` over ``src``, shared by
    the q93 gate, the q18 resample gate, and (suffixed, over the
    cleaned corpus) the q97 flagship, so the weight oracle cannot
    drift between its consumers."""
    return f"""base{sfx} AS (
        SELECT doc_id AS id, {_SQL_TOKS} AS toks, text FROM {src}
    ), flagged{sfx} AS (
        SELECT id,
               ({_sql_quality('toks', 'list_distinct(toks)', 'text')})
                   >= 0.7 AS tgt,
               toks
        FROM base{sfx}
    ), tokrows{sfx} AS (
        SELECT id, tgt, unnest(toks) AS term FROM flagged{sfx}
    ), counted{sfx} AS (
        SELECT id,
               count(*) OVER (PARTITION BY term) + 1 AS den,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END)
                   OVER (PARTITION BY term) + 1 AS num
        FROM tokrows{sfx}
    ), agg{sfx} AS (
        -- sum(BIGINT) is HUGEINT in DuckDB (pandas renders it float);
        -- cast back so the value hash sees integers on both engines
        SELECT id, count(*) AS n_tokens,
               CAST(sum(num) AS BIGINT) AS imp_num,
               CAST(sum(den) AS BIGINT) AS imp_den
        FROM counted{sfx} GROUP BY id
    ), iw{sfx} AS (
        SELECT b.id AS doc_id,
               coalesce(a.n_tokens, 0) AS n_tokens,
               a.imp_num, a.imp_den,
               round(CAST(a.imp_num AS DOUBLE)
                     / CAST(a.imp_den AS DOUBLE), 6) AS importance
        FROM base{sfx} b LEFT JOIN agg{sfx} a ON a.id = b.id
    )"""


# q93's oracle — also the weight source q18's resample oracle replays,
# exactly as the Spark side composes the operators
_Q93_SQL = f"""
    WITH {_iw_ctes('documents')}
    SELECT doc_id, n_tokens, imp_num, imp_den, importance FROM iw
    """


def _resample_kept_sql(id_expr: str, w_expr: str, frac: float) -> str:
    """The DuckDB twin of ``sampling.resample_by_weight``'s acceptance
    test — hash_uniform(id) < w * (frac / mean_w) with mean_w = s / n
    from a ``stats``-style scalar source providing (s, n). Shared by
    the q18 gate and the q97 flagship so the predicate cannot drift.
    Operand order matches the Spark/Python side exactly: one decimal
    sum -> one s/n divide -> one frac/mean divide -> one multiply."""
    return f"""(CAST(('0x' || substr(md5(CAST({id_expr} AS VARCHAR)
                || '|' || 'resample-v1'), 1, 15)) AS BIGINT)
            / CAST(1152921504606846976 AS DOUBLE))
           < {w_expr} * ({frac} / (s / n))"""


@register(
    "q93_importance_weights",
    _Q93_SQL,
    doc="DSIR-style importance weights for data selection (§2.12, "
        "round 7; Xie et al. 2023, arXiv 2302.03169): score every doc "
        "by how target-like its token distribution is — target = the "
        "q25 quality heuristic >= 0.7 (~30% of the corpus), the "
        "'resemble the exemplary subset' selection pattern a corpus "
        "pipeline runs between quality filtering and mixture "
        "sampling. Estimator is the integer-exact ratio-of-smoothed-"
        "counts surrogate for the paper's mean log-ratio (libm-free "
        "by the q39 rule; see operators/sampling.py docstring — the "
        "counting pipeline is the scale cost and is unchanged under a "
        "log final projection). Two full shuffles of a skinny stream "
        "plus one partial-count shuffle: BOTH per-term counts come "
        "from one map-side partial-aggregated groupBy(term) joined "
        "back (round 8 — a stopword-grade hot term streams through "
        "its join task; the round-7 term-window buffered it), then "
        "one integer-sum aggregate per doc; one row per input doc, "
        "token-less docs get NULL importance",
)
def q93_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.sampling import (
        importance_weights,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")["documents"]
    return importance_weights(
        docs, quality_score(F.col("text")) >= 0.7,
    )


#: q18 systematic-leg grid size (draft-proven): exactly 100 PPS
#: selections over the n_chars weight line
_Q18_SYS_N = 100


@register(
    "q18_importance_resample",
    f"""
    WITH iw AS ({_Q93_SQL}),
    -- MATERIALIZED: referenced by both stats and the final select;
    -- inlining would run the whole weight pipeline twice (repo CTE
    -- convention)
    weighted AS MATERIALIZED (
        SELECT doc_id, coalesce(importance, 0.0) AS w FROM iw
    ), stats AS (
        SELECT CAST(sum(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS s,
               count(*) AS n
        FROM weighted
    ), syss AS (
        SELECT doc_id,
               CAST(round(CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT)
                   AS sw,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || '|' || 'syssample-v1'), 1, 15)) AS BIGINT) AS h
        FROM documents
    ), sysc AS (
        SELECT doc_id, sw,
               COALESCE(SUM(sw) OVER (ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb,
               SUM(sw) OVER () AS tot
        FROM syss
    )
    SELECT 'bernoulli' AS kind, doc_id, w,
           {_resample_kept_sql('doc_id', 'w', 0.5)} AS kept,
           CAST(NULL AS BIGINT) AS n_hits,
           CAST(NULL AS BOOLEAN) AS sampled
    FROM weighted, stats
    UNION ALL
    SELECT 'systematic' AS kind, doc_id,
           CAST(NULL AS DOUBLE) AS w,
           CAST(NULL AS BOOLEAN) AS kept,
           CAST(CAST(cb + sw AS HUGEINT) * {_Q18_SYS_N} // tot
                - CAST(cb AS HUGEINT) * {_Q18_SYS_N} // tot AS BIGINT)
               AS n_hits,
           (CAST(cb + sw AS HUGEINT) * {_Q18_SYS_N} // tot
                - CAST(cb AS HUGEINT) * {_Q18_SYS_N} // tot) > 0
               AS sampled
    FROM sysc
    """,
    doc="Weighted-selection surface, two legs in one "
        "kind-discriminated frame. kind='bernoulli' (DSIR importance "
        "RESAMPLING, §2.12 — the second half of Xie et al. 2023 on "
        "top of q93's weights): keep each doc with probability "
        "proportional to its importance weight, scaled so the "
        "expected kept fraction is 0.5; acceptance is "
        "hash_uniform(doc_id) < w * k with k = target/mean(w) — no "
        "per-row RNG, so membership is a pure function of (id, salt, "
        "weights). One map-side DECIMAL aggregate for the mean + a "
        "shuffle-free filter projection on q93's counting pipeline; "
        "NULL weights coalesce to 0.0 on both sides. "
        "kind='systematic' (round 11, "
        "sampling.py::systematic_sample — Madow 1949 PPS): the "
        "missing cell of the sampling matrix, exact-size AND "
        "weighted — rows on a cumulative-weight line in md5-shuffled "
        "order, exactly 100 grid hits at stride W/100, multiplicity "
        "in n_hits (a fixed-total with-replacement epoch resampler). "
        "All integer math: 6-dp scaled weights, DECIMAL(38,0) "
        "two-level prefix sum (no global single-task sort), pure "
        "integer grid test — the oracle replays it bit-for-bit",
)
def q18_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.sampling import (
        importance_weights,
        resample_by_weight,
        systematic_sample,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")["documents"]
    iw = importance_weights(docs, quality_score(F.col("text")) >= 0.7)
    weighted = iw.select(
        "doc_id", F.coalesce("importance", F.lit(0.0)).alias("w"))
    bern = resample_by_weight(weighted, F.col("w"), 0.5).select(
        F.lit("bernoulli").alias("kind"), "doc_id", "w", "kept")
    syst = systematic_sample(
        docs, F.col("n_chars").cast("double"), _Q18_SYS_N,
    ).select(
        F.lit("systematic").alias("kind"),
        "doc_id", "n_hits", "sampled",
    )
    return bern.unionByName(syst, allowMissingColumns=True).select(
        "kind", "doc_id", "w", "kept", "n_hits", "sampled"
    )


@register(
    "q19_token_chunks",
    rf"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), c AS (
        SELECT doc_id,
               COALESCE(SUM(len(toks)) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS doc_start
        FROM t
    ), tok AS (
        SELECT t.doc_id, generate_subscripts(t.toks, 1) - 1 AS pos,
               unnest(t.toks) AS tk
        FROM t
    )
    SELECT tok.doc_id, tok.pos,
           -- sum(BIGINT) is HUGEINT in DuckDB (pandas renders it
           -- float); cast back so the value hash sees integers
           CAST(c.doc_start + tok.pos AS BIGINT) AS global_pos,
           CAST((c.doc_start + tok.pos) // 512 AS BIGINT) AS seq_id,
           CAST((c.doc_start + tok.pos) % 512 AS BIGINT) AS seq_pos
    FROM tok JOIN c USING (doc_id)
    """,
    doc="Concatenate-then-chunk token sequences (§2.12) — every token "
        "of the positioned per-doc token stream placed at its GLOBAL "
        "offset in doc-id order and sliced into fixed 512-token "
        "training sequences (the GPT-pretraining input layout: "
        "sequences span doc boundaries, long docs split). "
        "Built+parity-proven round 8 (tests/test_r9_gate_drafts.py), "
        "gated round 9 when the budget freed. Scale shape: per-doc "
        "counts (map-side partial agg) feed the q64 two-level prefix "
        "sum — the only unpartitioned window runs over the tiny "
        "bucket table — then ONE doc-keyed join back onto the "
        "stream; the oracle replays the flat single-window "
        "formulation the operator avoids at scale",
)
def q19_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.packing import (
        chunk_token_stream,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t"))
    return chunk_token_stream(toks, seq_len=512).select(
        "doc_id", "pos", "global_pos", "seq_id", "seq_pos")


@register(
    "q94_epoch_shuffle_shards",
    rf"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_bpe_sql_pattern()}'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM d
    ), bins AS (
        SELECT CAST(cum_before // 512 AS BIGINT) AS bin_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM c GROUP BY 1
    ), h AS (
        SELECT *,
               CAST(('0x' || substr(md5(CAST(bin_id AS VARCHAR)
                    || '|' || 'epoch-1'), 1, 15)) AS BIGINT) AS _h
        FROM bins
    ), r AS (
        SELECT bin_id, n_docs, bin_tokens,
               row_number() OVER (ORDER BY _h, bin_id) - 1 AS epoch_rank
        FROM h
    )
    SELECT bin_id, n_docs, bin_tokens, epoch_rank,
           CAST(epoch_rank // 16 AS BIGINT) AS shard,
           CAST(epoch_rank % 16 AS BIGINT) AS row_in_shard
    FROM r
    """,
    doc="Deterministic epoch shuffle + training-shard assignment "
        "(§2.12, round 8 — the corpus-to-trainer handoff, round-7 "
        "verdict 'What's missing' #1): q64's packed sequences get a "
        "seeded, engine-reproducible global shuffle order (rank by "
        "60-bit md5(bin_id || epoch salt), id tie-break — no per-row "
        "RNG, the q38 hashing discipline) and fixed-16-row shard "
        "slices, the contract a training data-loader resumes against. "
        "The rank is the packing operator's two-level prefix sum over "
        "RANGE-bucketed hash space — per-bucket counts map-side-"
        "partial-aggregate, the only unpartitioned window runs over "
        "the <= 1024-row bucket table, offsets broadcast back — so "
        "the oracle's flat row_number is exactly the single-task "
        "formulation the operator avoids at 100 TB. "
        "operators/shards.py also exports the shards atomically "
        "(txn_overwrite keyed by shard, per-segment epoch_rank stats "
        "=> mid-epoch resume is manifest data skipping; "
        "property-tested), which the gate's pure-assignment algebra "
        "deliberately leaves out of the timed path",
)
def q94_epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators import text as T
    from formula1_data_pipeline_spark.operators.packing import pack_sequences
    from formula1_data_pipeline_spark.operators.shards import epoch_shuffle

    docs = load(spark, sf_dir, "documents")["documents"]
    bins = (
        pack_sequences(docs, T.bpe_token_count(F.col("text")), budget=512,
                       id_col="doc_id", bucket_size=1000)
        .groupBy("bin_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("bin_tokens"))
    )
    return epoch_shuffle(
        bins, epoch_salt="epoch-1", rows_per_shard=16, id_col="bin_id",
    ).select(
        "bin_id", "n_docs", "bin_tokens", "epoch_rank", "shard",
        "row_in_shard",
    )


def _q97_sql(n_merges: int = 10) -> str:
    """q97's oracle: the ENTIRE corpus-to-trainer chain replayed in
    one DuckDB statement — quality filter, cross-doc span cut, DSIR
    importance weights + resampling on the cleaned corpus, BPE merge
    training on the resampled corpus, trained-vocab token counts,
    packing, epoch shuffle, shard slices. Every stage reuses the
    exact CTE builder its standalone gate uses (_sql_quality,
    _span_ctes, _iw_ctes + _resample_kept_sql, _bpe_train_ctes, the
    q64 packing window, the q94 rank), so the composition cannot
    drift from the pieces."""
    from formula1_data_pipeline_spark.queries_curation import (
        _SQL_CLEANED,
    )
    from formula1_data_pipeline_spark.queries_llm import (
        _bpe_sql_pattern,
        _bpe_train_ctes,
    )

    pat = _bpe_sql_pattern()
    bpe = ",\n    ".join(_bpe_train_ctes(n_merges, "resampled"))
    q = _sql_quality(_SQL_TOKS, f"list_distinct({_SQL_TOKS})", "text")
    return f"""
    WITH cur97 AS MATERIALIZED (
        -- curation stages 0/1 (round 11): q100's exact cleaned-corpus
        -- CTE text, nested as its own scope so its CTE names cannot
        -- collide with this chain's (the composition discipline,
        -- isolation included)
        SELECT doc_id, text_clean AS text
        FROM (WITH {_SQL_CLEANED} SELECT doc_id, text_clean FROM cleaned)
    ), src97 AS (
        SELECT doc_id, text FROM cur97 WHERE ({q}) >= 0.5
    ), {_span_ctes(8, 'src97')},
    tokrows AS (
        SELECT id, unnest(toks) AS t,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM toklist
    ), keptagg AS (
        SELECT tr.id, string_agg(tr.t, ' ' ORDER BY tr.pos) AS clean_text
        FROM tokrows tr
        WHERE NOT EXISTS (
            SELECT 1 FROM spans sp
            WHERE sp.id = tr.id
              AND tr.pos BETWEEN sp.span_start AND sp.span_end
        )
        GROUP BY tr.id
    ), cleaned AS MATERIALIZED (
        SELECT t.id AS doc_id, coalesce(k.clean_text, '') AS text
        FROM toklist t LEFT JOIN keptagg k ON k.id = t.id
    ), {_iw_ctes('cleaned', '97')},
    -- MATERIALIZED: referenced by both stats and resampled (repo CTE
    -- convention for double-referenced chains)
    wts97 AS MATERIALIZED (
        SELECT doc_id, coalesce(importance, 0.0) AS w FROM iw97
    ), stats AS (
        SELECT CAST(sum(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS s,
               count(*) AS n
        FROM wts97
    ), resampled AS MATERIALIZED (
        SELECT c.doc_id, c.text
        FROM cleaned c JOIN wts97 USING (doc_id), stats
        WHERE {_resample_kept_sql('c.doc_id', 'w', 0.8)}
    ), {bpe},
    docw AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS w
        FROM resampled
    ), tokc AS (
        SELECT d.doc_id,
               CAST(sum(CASE WHEN contains(d.w, '|') THEN length(d.w)
                    ELSE len(list_filter(string_split(wv.repr, '|'),
                                         x -> x <> '')) END)
                    AS BIGINT) AS n_tok
        FROM docw d LEFT JOIN w{n_merges} wv ON wv.w = d.w
        GROUP BY d.doc_id
    ), counts AS (
        SELECT c.doc_id, coalesce(tc.n_tok, 0) AS n_tokens
        FROM resampled c LEFT JOIN tokc tc USING (doc_id)
    ), cum AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM counts
    ), bins AS (
        SELECT CAST(cum_before // 512 AS BIGINT) AS bin_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM cum GROUP BY 1
    ), hh AS (
        SELECT *,
               CAST(('0x' || substr(md5(CAST(bin_id AS VARCHAR)
                    || '|' || 'epoch-1'), 1, 15)) AS BIGINT) AS _h
        FROM bins
    ), rr AS (
        SELECT bin_id, n_docs, bin_tokens,
               row_number() OVER (ORDER BY _h, bin_id) - 1 AS epoch_rank
        FROM hh
    )
    SELECT bin_id, n_docs, bin_tokens, epoch_rank,
           CAST(epoch_rank // 16 AS BIGINT) AS shard,
           CAST(epoch_rank % 16 AS BIGINT) AS row_in_shard
    FROM rr
    """


@register(
    "q97_corpus_to_trainer_flagship",
    _q97_sql(10),
    doc="Corpus-to-trainer FLAGSHIP (round 8; round 9 adds the DSIR "
        "stage; round 11 absorbs curation stages 0/1): the complete "
        "training-data pipeline composed end-to-end in one gated "
        "query — text normalization + C4 line-level dedup (q100's "
        "stages 0/1, over the same deterministic chrome "
        "augmentation, so the curation stages sit under TWO "
        "independent gates) -> quality filter (q25 heuristic >= "
        "0.5) -> cross-doc span dedup cut (q90/q91, k=8) -> DSIR "
        "importance weights (q93) + deterministic importance "
        "resampling (q18, target fraction 0.8) on the cleaned "
        "corpus -> BPE merge training ON the resampled corpus (q95, "
        "10 merges) -> trained-vocab token counts (bpe_encode_count) "
        "-> 512-token sequence packing (q64) -> seeded epoch "
        "shuffle + fixed-16-row shard slices (q94). "
        "Every stage is the standalone operator, and the oracle "
        "reuses each stage's exact CTE builder, so the composition "
        "is replayed step-for-step and cannot drift from the pieces. "
        "Scale-relevant composition decisions: the cleaned corpus is "
        "LANDED to parquet before the weight stage (the production "
        "shape — a cleaned corpus is an artifact), because both the "
        "weight computation and the BPE trainer re-read their input; "
        "the weighted corpus is landed again before resampling, so "
        "the trainer's per-round rescans replay a parquet scan + "
        "hash-filter, not the two-shuffle weight pipeline",
)
def q97_corpus_to_trainer_flagship(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.bpe import (
        bpe_encode_count,
        train_bpe_merges,
    )
    from formula1_data_pipeline_spark.operators.packing import pack_sequences
    from formula1_data_pipeline_spark.operators.sampling import (
        importance_weights,
        resample_by_weight,
    )
    from formula1_data_pipeline_spark.operators.shards import epoch_shuffle
    from formula1_data_pipeline_spark.functions.textnorm import (
        normalize_text,
    )
    from formula1_data_pipeline_spark.operators.lines import dedup_lines
    from formula1_data_pipeline_spark.operators.substring import (
        cut_duplicate_spans,
    )
    from formula1_data_pipeline_spark.operators.text import quality_score
    from formula1_data_pipeline_spark.queries_curation import _augment
    from formula1_data_pipeline_spark.scratch import scratch_dir

    docs = load(spark, sf_dir, "documents")["documents"]
    # curation stages 0/1 (round 11): normalize + C4 line dedup —
    # exactly q100's stage code over the same augmentation
    aug = _augment(docs).select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    cur = dedup_lines(aug, min_docs=2, keep="none").select(
        "doc_id", F.col("text_clean").alias("text")
    )
    filtered = cur.filter(quality_score(F.col("text")) >= 0.5) \
                  .select("doc_id", "text")
    cleaned = cut_duplicate_spans(filtered, min_span_tokens=8).select(
        "doc_id", F.col("clean_text").alias("text"))
    base = scratch_dir("q97-")
    path = base + "/cleaned"
    cleaned.write.mode("overwrite").parquet(path)
    landed = spark.read.parquet(path)
    iw = importance_weights(
        landed, quality_score(F.col("text")) >= 0.7)
    weighted = landed.join(
        iw.select("doc_id",
                  F.coalesce("importance", F.lit(0.0)).alias("w")),
        "doc_id")
    wpath = base + "/weighted"
    weighted.write.mode("overwrite").parquet(wpath)
    landedw = spark.read.parquet(wpath)
    corpus = resample_by_weight(landedw, F.col("w"), 0.8) \
        .filter("kept").select("doc_id", "text")
    merges = [(a, b) for a, b, _ in train_bpe_merges(corpus, 10)]
    packed = pack_sequences(
        corpus, bpe_encode_count(F.col("text"), merges), budget=512,
        id_col="doc_id", bucket_size=1000,
    )
    bins = packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )
    return epoch_shuffle(
        bins, epoch_salt="epoch-1", rows_per_shard=16, id_col="bin_id",
    ).select(
        "bin_id", "n_docs", "bin_tokens", "epoch_rank", "shard",
        "row_in_shard",
    )
