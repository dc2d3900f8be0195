"""Round-11 gate drafts — operators pre-staged in round 10 whose
catalog landings are deferred for gate-budget reasons (the catalog
sits AT the 100-entry / 50-row alternation ceiling: zero free rows
from round 11 on, so every new operator rides a CHANGED extension of
a query due in its landing round):

  * incremental BM25 index maintenance (``operators/retrieval.py``:
    ``bm25_index_append`` / ``bm25_index_compact`` /
    ``bm25_index_topk``) — the continuous-ingestion retrieval story:
    four manifest-txn tables (postings / doclen / df-delta-log /
    stats-delta-log), batches tokenize once and commit atomically,
    already-landed ids skip via one anti-join, query time is
    index-shaped (driver-known probe terms push into the parquet
    scans as IN-lists + manifest term-range pruning). LANDING ROUTE:
    rides q39's round-12 re-gate (q39 owns the BM25 surface and is
    r10-gated, due r12) as a third kind ('bm25_idx') whose rows must
    equal the live-scan kind's — or earlier via any due retrieval-
    adjacent query if the window allows.

  * persisted incremental IVF vector index
    (``operators/vecindex.py``: ``ivf_index_build`` /
    ``ivf_index_append`` / ``ivf_index_topk``) — the ANN twin:
    Lloyd-trained quantizer landed once, inverted lists landed
    PARTITIONED BY CLUSTER (probes prune unprobed cluster
    directories at file level), appends assign against the FROZEN
    quantizer (never retrain on ingest; refresh = explicit rebuild)
    and skip landed ids. Mechanics gate exactly (row-identity vs
    ivf_flat_topk under the same landed centroids; build+append ==
    one-shot), quality gates with recall bounds on the clustered
    fixture (the q92 rule for trained floats). LANDING ROUTE: rides
    a due ANN re-gate — q26/q34 (r8-gated, due r10... next due r12)
    or q92 (r9-gated, due r11).

Also already parity-proven and catalog-deferred from round 9 (their
drafts live in tests/test_r10_gate_drafts.py, kept green there):
``queries_curation.diversity_downsample`` (Composite #2 — rides a
due embeddings re-gate in r11: q27 or q89) and the standalone
lm/lines/selection/boilerplate-audit gates (their composites pin
them meanwhile).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

BM25_QUERIES = [
    ("q_scan", "scan column window"),
    ("q_join", "join merge hash sort"),
    ("q_miss", "zzznotaterm"),
]


def _index_from_batches(spark, docs, tmp):
    """Build the maintained index from three id-ranged batches, with
    batch 2 RE-DELIVERING half of batch 1 (the idempotence probe —
    re-delivered docs must be skipped, not double-counted)."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_append,
    )

    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    b1, b2 = mx // 3, (2 * mx) // 3
    n1 = bm25_index_append(
        spark, docs.filter(F.col("doc_id") <= b1), tmp)
    # overlap: re-delivers (b1/2, b1] along with the new (b1, b2]
    n2 = bm25_index_append(
        spark,
        docs.filter((F.col("doc_id") > b1 // 2)
                    & (F.col("doc_id") <= b2)),
        tmp,
    )
    n3 = bm25_index_append(
        spark, docs.filter(F.col("doc_id") > b2), tmp)
    total = docs.filter(F.col("doc_id").isNotNull()).count()
    assert n1 + n2 + n3 == total, (n1, n2, n3, total)
    return tmp


def test_bm25_index_equals_live_scan_and_oracle(spark, tmp_path):
    """The maintained-index path must rank row-for-row identically to
    the live-scan bm25_topk over the same landed corpus (shared
    _rank_candidates math), and both must match the DuckDB BM25
    oracle — the exact SQL the q39 gate runs."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_topk,
        bm25_topk,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = _index_from_batches(spark, docs, str(tmp_path / "bm25idx"))
    qdf = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])

    got_idx = sorted(
        tuple(r) for r in bm25_index_topk(spark, idx, qdf, k=10).collect()
    )
    got_live = sorted(
        tuple(r) for r in bm25_topk(docs, qdf, k=10).collect()
    )
    assert got_idx == got_live

    values = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)
    toks = (r"list_filter(regexp_split_to_array(trim(lower(text)), "
            r"'\s+'), x -> x <> '')")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{SF_DIR}/documents.parquet'")
    oracle = f"""
    WITH t AS (
        SELECT doc_id, {toks} AS toks FROM documents
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
        FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
        JOIN dl USING (doc_id) CROSS JOIN stats s
    ), scored AS (
        SELECT query_id, doc_id,
               CAST(count(*) AS BIGINT) AS n_terms_matched,
               sum(CAST(round(
                   (CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)
                    * CAST(44 * tf * n_tokens AS DOUBLE))
                   / (CAST(2 * df + 1 AS DOUBLE)
                      * CAST(20 * tf * n_tokens + 18 * dl * n_docs
                             + 6 * n_tokens AS DOUBLE)),
                   6) AS DECIMAL(18,6))) AS score_dec
        FROM cand GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_terms_matched,
           CAST(score_dec AS DOUBLE) AS score,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_dec DESC, doc_id
           ) AS INT) AS rank
    FROM scored QUALIFY rank <= 10
    """
    want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
    assert got_idx == want
    # non-degenerate: full pages for the real probes, none for q_miss
    from collections import Counter

    per_q = Counter(q for q, *_ in got_idx)
    assert per_q["q_scan"] == 10 and per_q["q_join"] == 10
    assert "q_miss" not in per_q


def test_bm25_index_compaction_invariant(spark, tmp_path):
    """Folding the delta logs must not change any ranking — readers
    always sum the deltas, compaction only bounds the log length."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_compact,
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.queries import load
    from formula1_data_pipeline_spark.sources.txn import read_table

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = _index_from_batches(spark, docs, str(tmp_path / "bm25idx"))
    qdf = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])
    before = sorted(
        tuple(r) for r in bm25_index_topk(spark, idx, qdf, k=10).collect()
    )
    bm25_index_compact(spark, idx)
    after = sorted(
        tuple(r) for r in bm25_index_topk(spark, idx, qdf, k=10).collect()
    )
    assert before == after
    # the df log really folded: exactly one row per term now
    dfd = read_table(spark, f"{idx}/dfdelta")
    assert dfd.count() == dfd.select("term").distinct().count()
    # ... and the stats log folded to one row
    assert read_table(spark, f"{idx}/statsdelta").count() == 1


def test_bm25_index_compact_preserves_interleaved_append(spark, tmp_path):
    """The round-10 ADVICE race, deterministically interleaved: an
    append whose dfdelta rows commit BETWEEN compaction's snapshot
    read and the fold's overwrite publish must survive the
    compaction — the overwrite's conflict retry used to republish the
    pre-append fold, silently discarding the delta rows while the
    doc-skip marking kept the lost docs from ever re-indexing. The
    repair path reads the just-superseded version and re-appends every
    attempt outside the snapshot."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        _overwrite_preserving_late,
        bm25_index_append,
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.queries import load
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = str(tmp_path / "bm25idx")
    assert bm25_index_append(
        spark, docs.filter(F.col("doc_id") < 50), idx) > 0
    dfdelta = f"{idx}/dfdelta"
    snapshot_rows = read_table(spark, dfdelta).collect()
    committed = sorted({r["attempt"] for r in snapshot_rows})

    # the fold compaction would publish (snapshot attempts only)
    fold = (
        read_table(spark, dfdelta)
        .filter(F.col("attempt").isin(committed))
        .groupBy("term")
        .agg(F.sum("df_delta").cast("long").alias("df_delta"))
        .select("*", F.lit("compact1").alias("attempt"))
    )

    # the real compact lands its marker FIRST; mirror that so the
    # folded rows stay reader-visible after the overwrite
    txn_append(
        spark,
        spark.createDataFrame([("compact1",)], "attempt string"),
        f"{idx}/commits",
    )

    # interleave: a concurrent append's delta rows land between the
    # snapshot and the overwrite publish (first hook call only — the
    # overwrite's retry then publishes on top of them)
    fired = {"n": 0}

    def hook():
        if fired["n"] == 0:
            late = spark.createDataFrame(
                [("zzz-late-term", 7, "late1")],
                "term string, df_delta long, attempt string",
            )
            txn_append(spark, late, dfdelta, stats_cols=["term"])
        fired["n"] += 1

    _overwrite_preserving_late(
        spark, fold, dfdelta, committed + ["compact1"],
        stats_cols=["term"], _pre_publish_hook=hook,
    )
    assert fired["n"] >= 2  # the interleave really forced a retry

    after = read_table(spark, dfdelta).collect()
    late_rows = [r for r in after if r["attempt"] == "late1"]
    assert late_rows and late_rows[0]["term"] == "zzz-late-term", (
        "interleaved append's delta rows were dropped by compaction"
    )
    # the fold itself landed too, and the index still answers
    assert any(r["attempt"] == "compact1" for r in after)
    qdf = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])
    assert bm25_index_topk(spark, idx, qdf, k=5).count() > 0


def test_bm25_index_topk_preserves_integer_qid(spark, tmp_path):
    """Round-10 ADVICE regression: the query frame's schema was
    hardcoded `query_id string`, so an integer qid column raised in
    createDataFrame and the empty-result schema diverged from the
    input; both paths must preserve the caller's qid type (the
    bm25_topk contract)."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = str(tmp_path / "bm25idx")
    assert bm25_index_append(spark, docs.limit(60), idx) > 0
    qdf = spark.createDataFrame(
        [(1, "scan column window")], "query_id long, query_text string")
    out = bm25_index_topk(spark, idx, qdf, k=5)
    assert out.schema["query_id"].dataType.simpleString() == "bigint"
    assert out.count() > 0
    empty = bm25_index_topk(
        spark, idx,
        spark.createDataFrame([(3, "")],
                              "query_id long, query_text string"),
        k=5,
    )
    assert empty.schema["query_id"].dataType.simpleString() == "bigint"
    assert empty.count() == 0


def test_bm25_index_query_scan_is_pruned(spark, tmp_path):
    """Query-time cost must be index-shaped: the probe terms reach
    the postings parquet scan as a pushed IN predicate (PushedFilters
    In(term, ...)), so only the probed terms' rows move."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = _index_from_batches(spark, docs, str(tmp_path / "bm25idx"))
    qdf = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])
    df = bm25_index_topk(spark, idx, qdf, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term, [" in plan, plan


def test_bm25_index_empty_queries(spark, tmp_path):
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    idx = _index_from_batches(spark, docs, str(tmp_path / "bm25idx"))
    qdf = spark.createDataFrame(
        [("q_empty", "   ")], ["query_id", "query_text"])
    assert bm25_index_topk(spark, idx, qdf, k=10).count() == 0


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_TEXTS = ["scan column window", "join merge hash", "window scan",
          "merge sort spill", "scan scan scan column", ""]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(0, len(_TEXTS) - 1), min_size=4,
                max_size=12),
       st.integers(2, 4), st.data())
def test_bm25_index_split_invariance(spark, tmp_path_factory, idxs,
                                     n_batches, data):
    """Property: however the corpus is split into append batches —
    arbitrary membership, arbitrary batch order, arbitrary
    re-deliveries — the maintained index ranks identically to the
    live scan over the full corpus."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_topk,
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [(i, _TEXTS[t]) for i, t in enumerate(idxs)],
        "doc_id long, text string",
    )
    assign = [data.draw(st.integers(0, n_batches - 1))
              for _ in idxs]
    idx = str(tmp_path_factory.mktemp("bm25prop") / "idx")
    order = data.draw(st.permutations(list(range(n_batches))))
    for b in order:
        ids = [i for i, a in enumerate(assign) if a == b]
        batch = docs.filter(docs.doc_id.isin(ids or [-1]))
        bm25_index_append(spark, batch, idx)
        if data.draw(st.booleans()):  # re-deliver: must be a no-op
            assert bm25_index_append(spark, batch, idx) == 0
    qdf = spark.createDataFrame(
        [("q1", "scan window"), ("q2", "merge")],
        ["query_id", "query_text"],
    )
    got = sorted(tuple(r) for r in
                 bm25_index_topk(spark, idx, qdf, k=5).collect())
    want = sorted(tuple(r) for r in
                  bm25_topk(docs, qdf, k=5).collect())
    assert got == want


# ---------------------------------------------------------------------------
# Persisted incremental IVF index (operators/vecindex.py) — the ANN
# twin of the BM25 index. Landing route: rides a due ANN re-gate
# (q26/q34/q92) per the CHANGELOG landing-plan rules.
# ---------------------------------------------------------------------------


def _emb(spark):
    from formula1_data_pipeline_spark.queries import load

    return load(spark, SF_DIR, "embeddings")["embeddings"]


def test_ivf_index_equals_live_ivf_given_same_centroids(spark, tmp_path):
    """Index MECHANICS gate (exact, Spark-vs-Spark): querying the
    landed index must rank row-identically to ivf_flat_topk driven by
    the SAME landed centroid table — the persisted path adds storage,
    never different math. (Trained-centroid QUALITY is bounds-gated
    separately — the q92 rule.)"""
    from formula1_data_pipeline_spark.operators.similarity import (
        ivf_flat_topk,
    )
    from formula1_data_pipeline_spark.operators.vecindex import (
        _read_centroids,
        ivf_index_build,
        ivf_index_topk,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark, emb, idx, n_centroids=8, n_iter=3)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    got = sorted(
        tuple(r)
        for r in ivf_index_topk(spark, idx, queries, k=5,
                                n_probe=3).collect()
    )
    coefs = _read_centroids(spark, idx)
    want = sorted(
        tuple(r)
        for r in ivf_flat_topk(
            emb, queries, dim=0, k=5, n_probe=3,
            centroid_coefs=coefs,
        ).collect()
    )
    assert got == want
    assert len(got) > 0


def test_ivf_index_append_equals_one_shot_build(spark, tmp_path):
    """Frozen-quantizer append policy: build on the first third, then
    append the rest in two batches (one re-delivered — must skip);
    the landed lists must equal one-shot assignment of the full
    corpus under the same centroids, so queries are identical."""
    from formula1_data_pipeline_spark.operators.vecindex import (
        _read_centroids,
        ivf_index_append,
        ivf_index_build,
        ivf_index_topk,
    )
    from formula1_data_pipeline_spark.sources.txn import read_table

    emb = _emb(spark)
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    b1, b2 = mx // 3, 2 * mx // 3
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark, emb.filter(F.col("vec_id") <= b1), idx,
                    n_centroids=8, n_iter=2)
    n2 = ivf_index_append(
        spark, emb.filter((F.col("vec_id") > b1)
                          & (F.col("vec_id") <= b2)), idx)
    # re-delivery: exact same batch again must index nothing
    assert ivf_index_append(
        spark, emb.filter((F.col("vec_id") > b1)
                          & (F.col("vec_id") <= b2)), idx) == 0
    n3 = ivf_index_append(spark, emb.filter(F.col("vec_id") > b2), idx)
    total = emb.filter(F.col("vec_id").isNotNull()).count()
    n_landed = read_table(spark, f"{idx}/lists").select("id") \
        .distinct().count()
    assert n_landed == total and n2 > 0 and n3 > 0

    # one-shot reference index under the SAME centroids
    ref = str(tmp_path / "ivfref")
    ivf_index_build(spark, emb, ref,
                    centroid_coefs=_read_centroids(spark, idx))
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    got = sorted(tuple(r) for r in
                 ivf_index_topk(spark, idx, queries, k=5,
                                n_probe=3).collect())
    want = sorted(tuple(r) for r in
                  ivf_index_topk(spark, ref, queries, k=5,
                                 n_probe=3).collect())
    assert got == want


def test_ivf_index_append_skip_scan_is_id_pruned(spark, tmp_path):
    """Append cost must track the BATCH, not the index (the BM25
    delta-log invariant, closed for the vector index in round 11):
    the landed-id skip's anti-join reads the lists table pruned to
    the batch's [min, max] id range via the manifest id stats that
    build AND append record — so under range-disjoint ingestion a
    new batch's skip scan touches ~1 segment however many are landed.
    Binding check: if either write path stopped recording id stats,
    pruning fail-opens to the full scan and the file-count assertion
    fails."""
    from formula1_data_pipeline_spark.operators.vecindex import (
        ivf_index_append,
        ivf_index_build,
    )
    from formula1_data_pipeline_spark.sources.txn import read_table

    emb = _emb(spark)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(
        spark, emb.filter(F.col("vec_id") < 100), idx,
        n_centroids=4, n_iter=2,
    )
    b2 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    b3 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    assert ivf_index_append(spark, b2, idx) > 0
    assert ivf_index_append(spark, b3, idx) > 0

    lists = f"{idx}/lists"
    full = read_table(spark, lists).inputFiles()
    pruned = read_table(
        spark, lists, prune={"id": (200, 299)}
    ).inputFiles()
    assert 0 < len(pruned) < len(full), (len(pruned), len(full))

    # idempotence holds THROUGH the pruned path: the re-delivered
    # batch anti-joins against exactly the overlapping segments
    assert ivf_index_append(spark, b3, idx) == 0
    # and a genuinely new id inside the pruned range still lands
    extra = emb.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 320))
    n_extra = extra.count()
    assert ivf_index_append(spark, extra, idx) == n_extra


def test_ivf_index_query_reads_only_probed_partitions(spark, tmp_path):
    """Index-shaped query cost: the lists table lands partitioned by
    cluster, and the probe's isin filter must prune unprobed cluster
    directories from the scan (fewer input files — the q82
    discipline)."""
    from formula1_data_pipeline_spark.operators.vecindex import (
        ivf_index_build,
        ivf_index_topk,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark, emb, idx, n_centroids=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") == 0)
    df = ivf_index_topk(spark, idx, queries, k=5, n_probe=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # the lists scan appears with a partition filter on cluster and
    # must not read all 8 cluster directories
    m = re.findall(r"PartitionFilters: \[[^\]]*cluster[^\]]*\]", plan)
    assert m, plan
    # recall sanity on the clustered-real data: the probed top-1 for
    # a member query is its own cluster content — nonempty result
    assert df.count() > 0


def test_ivf_index_recall_bound_vs_exact(spark, tmp_path):
    """Index QUALITY gate (bounds — the q92 rule for trained floats):
    top-1 recall of the landed Lloyd index vs exact cosine top-1 on
    the CLUSTERED fixture (the q92 evaluation corpus — on
    near-isotropic embeddings IVF recall is bounded by the candidate
    fraction no matter the quantizer; SCALE.md round 6) must clear
    the q92-style floor."""
    from formula1_data_pipeline_spark.evalsets import (
        clustered_embeddings,
    )
    from formula1_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )
    from formula1_data_pipeline_spark.operators.vecindex import (
        ivf_index_build,
        ivf_index_topk,
    )

    emb = clustered_embeddings(spark, n=600, dim=16, n_clusters=8)
    idx = str(tmp_path / "ivfidx")
    ivf_index_build(spark, emb, idx, n_centroids=8, n_iter=5)
    queries = emb.filter(F.col("vec_id") % 29 == 0)
    approx = {
        (r["q_id"], r["n_id"])
        for r in ivf_index_topk(spark, idx, queries, k=1,
                                n_probe=3).collect()
    }
    exact = {
        (r["q_id"], r["n_id"])
        for r in cosine_topk(emb, queries, k=1).collect()
    }
    qs = {q for q, _ in exact}
    hit = sum(1 for p in exact if p in approx)
    recall = hit / max(len(qs), 1)
    assert recall >= 0.85, recall


# --------------------------------------------------------------------
# Bloom-filter contamination prefilter (operators/bloom.py) — built in
# round 10 (late). LANDING ROUTE: rides q66_contamination_check's
# round-11 re-gate (q66 is r9-gated, due r11) as two extra columns
# (n_bloom_hits, bloom_contaminated) computed with a deliberately
# small GATE filter (2^12 bits) so deterministic false positives are
# part of the value hash — the bit-for-bit replay is the point. The
# production default stays 2^20 bits.

_BLOOM_ORACLE = r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
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
), ks AS (
    SELECT unnest(range(0, {k})) AS j
), bpos AS (
    SELECT DISTINCT
           ((h % {m}) + j * (((h >> 20) % ({m} - 1)) + 1)) % {m} AS p
    FROM bench, ks
), bwords AS (
    SELECT p // 63 AS word_idx,
           bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
    FROM bpos GROUP BY 1
), corpus AS (
    SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 97 <> 0
), cprobes AS (
    SELECT doc_id, h,
           ((h % {m}) + j * (((h >> 20) % ({m} - 1)) + 1)) % {m} AS p
    FROM corpus, ks
), chit AS (
    SELECT doc_id, h, count(*) AS nset
    FROM cprobes JOIN bwords ON cprobes.p // 63 = bwords.word_idx
    WHERE (bits & (1::BIGINT << CAST(p % 63 AS INT)))
          = (1::BIGINT << CAST(p % 63 AS INT))
    GROUP BY 1, 2
), bloomhits AS (
    SELECT doc_id, count(*) AS n_bloom_hits
    FROM chit WHERE nset = {k} GROUP BY 1
)
SELECT s.doc_id,
       COALESCE(b.n_bloom_hits, 0) AS n_bloom_hits,
       COALESCE(b.n_bloom_hits, 0) > 0 AS bloom_contaminated
FROM sh s LEFT JOIN bloomhits b USING (doc_id)
WHERE s.doc_id % 97 <> 0
"""

_BLOOM_GATE_BITS = 1 << 12  # gate-size filter: FPs must occur


def test_bloom_contamination_oracle_parity(spark):
    """Spark bloom_contamination == the DuckDB twin, bit-for-bit —
    including deterministic false positives (asserted present, so the
    gate pins the FP math, not just the happy path)."""
    from formula1_data_pipeline_spark.operators.bloom import (
        bloom_contamination,
    )
    from formula1_data_pipeline_spark.operators.text import (
        shingle_hashes_df,
    )
    from formula1_data_pipeline_spark.queries import load

    docs = load(spark, SF_DIR, "documents")["documents"]
    sh = shingle_hashes_df(docs)
    bench = sh.filter(F.col("id") % 97 == 0).select("h").distinct()
    corpus_docs = docs.filter(F.col("doc_id") % 97 != 0)
    out = bloom_contamination(
        corpus_docs, bench, n_bits=_BLOOM_GATE_BITS
    )
    got = {
        (r.doc_id, r.n_bloom_hits, r.bloom_contaminated)
        for r in out.collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    sql = _BLOOM_ORACLE.replace("{m}", str(_BLOOM_GATE_BITS)).replace(
        "{k}", "4"
    )
    exp = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == exp

    # the gate-size filter must actually exercise the FP path: bloom
    # flags strictly more than the exact check
    exact = {
        r.id
        for r in sh.filter(F.col("id") % 97 != 0)
        .join(F.broadcast(bench), "h").select("id").distinct().collect()
    }
    flagged = {d for d, n, f in got if f}
    assert exact < flagged, (len(exact), len(flagged))


def test_ivf_index_partial_rebuild_fails_loudly(spark, tmp_path):
    """A crash between ivf_index_build's three commits must make the
    index REFUSE reads, not silently probe lists partitioned under a
    different quantizer (round-10 review finding): simulate the
    crash-after-centroids state by overwriting ONLY the centroid
    table of a healthy index and assert both readers raise."""
    import pytest

    from formula1_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from formula1_data_pipeline_spark.operators.vecindex import (
        _tables,
        ivf_index_append,
        ivf_index_build,
        ivf_index_topk,
    )
    from formula1_data_pipeline_spark.sources.txn import txn_overwrite

    emb = _emb(spark)
    idx = str(tmp_path / "ivfidx_partial")
    ivf_index_build(spark, emb, idx, n_centroids=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    # healthy index reads fine
    assert ivf_index_topk(spark, idx, queries, k=3, n_probe=2).count() > 0

    # interrupted rebuild: new quantizer landed, lists/meta not yet
    other = train_ivf_centroids(emb.filter(F.col("vec_id") % 2 == 0),
                                n_centroids=4, n_iter=1)
    txn_overwrite(spark, other, _tables(idx)["centroids"],
                  auto_vacuum=True)
    with pytest.raises(RuntimeError, match="inconsistent"):
        ivf_index_topk(spark, idx, queries, k=3, n_probe=2)
    with pytest.raises(RuntimeError, match="inconsistent"):
        ivf_index_append(spark, emb, idx)


def test_bm25_index_crashed_append_is_invisible_and_retryable(
        spark, tmp_path):
    """Cross-table atomicity (round-10 review finding): simulate a
    crash that landed postings+doclen but died before dfdelta/stats/
    marker. The orphan rows must be invisible to queries AND must not
    suppress the batch's re-delivery; after the retry the index
    equals a clean build."""
    from formula1_data_pipeline_spark.operators.retrieval import (
        _index_tables,
        bm25_index_append,
        bm25_index_topk,
    )
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.sources.txn import txn_append

    docs = spark.createDataFrame(
        [(1, "scan the column"), (2, "join the window"),
         (3, "merge sort scan"), (4, "hash join probe")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [("q1", "scan join")], "query_id string, query_text string"
    )
    clean = str(tmp_path / "bm25_clean")
    assert bm25_index_append(spark, docs, clean) == 4
    want = sorted(tuple(r)
                  for r in bm25_index_topk(spark, clean, queries).collect())

    idx = str(tmp_path / "bm25_crash")
    b1 = docs.filter(F.col("doc_id") <= 2)
    b2 = docs.filter(F.col("doc_id") > 2)
    assert bm25_index_append(spark, b1, idx) == 2
    mid = sorted(tuple(r)
                 for r in bm25_index_topk(spark, idx, queries).collect())

    # crashed attempt: postings + doclen landed, NO marker
    t = _index_tables(idx)
    toks = b2.select("doc_id", F.explode(tokens(F.col("text")))
                     .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    tag = F.lit("deadbeefdeadbeef").alias("attempt")
    txn_append(spark, tf.select("*", tag), t["postings"],
               stats_cols=["term"])
    txn_append(spark, dl.select("*", tag), t["doclen"])

    # 1) orphans invisible: results unchanged from the pre-crash state
    after_crash = sorted(
        tuple(r) for r in bm25_index_topk(spark, idx, queries).collect())
    assert after_crash == mid

    # 2) re-delivery is NOT suppressed by the orphan doclen rows
    assert bm25_index_append(spark, b2, idx) == 2

    # 3) the recovered index answers exactly like the clean one
    got = sorted(tuple(r)
                 for r in bm25_index_topk(spark, idx, queries).collect())
    assert got == want


# --------------------------------------------------------------------
# No-straddle greedy packing + SFT loss-mask layout
# (operators/packing.py, round 10 late). LANDING ROUTE: rides
# q64_sequence_packing's round-11 re-gate (q64 is r9-gated, due r11)
# as a kind-discriminated extension beside the straddle-allowed
# pack_sequences rows; the oracle replays the bucket-aligned greedy
# fold with a recursive CTE.

_NOSTRADDLE_ORACLE = r"""
WITH RECURSIVE ex AS (
    SELECT doc_id AS example_id,
           len(list_filter(regexp_split_to_array(trim(lower(text)),
               '\s+'), x -> x <> '')) AS n,
           doc_id // {S} AS bkt
    FROM documents
    WHERE len(list_filter(regexp_split_to_array(trim(lower(text)),
              '\s+'), x -> x <> '')) <= {B}
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
           CASE WHEN f.fill + e.n > {B} THEN f.bin + 1 ELSE f.bin END,
           CASE WHEN f.fill + e.n > {B} THEN e.n
                ELSE f.fill + e.n END,
           e.example_id,
           CASE WHEN f.fill + e.n > {B} THEN 0 ELSE f.fill END,
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
)
SELECT r.example_id, r.n AS n_tokens,
       o.bin_off + r.bin AS bin_id, r.pos AS pack_pos
FROM rows_out r JOIN off o USING (bkt)
"""


def test_nostraddle_packing_oracle_parity(spark):
    """pack_examples_nostraddle == the recursive-CTE DuckDB twin over
    real documents (token counts as example sizes; over-budget docs
    excluded on both sides since the operator's contract is to fail
    on them)."""
    from formula1_data_pipeline_spark.operators.dedup import tokens
    from formula1_data_pipeline_spark.operators.packing import (
        pack_examples_nostraddle,
    )
    from formula1_data_pipeline_spark.queries import load

    B, S = 512, 100
    docs = load(spark, SF_DIR, "documents")["documents"]
    ex = docs.select(
        F.col("doc_id").alias("example_id"),
        F.size(tokens(F.col("text"))).alias("n"),
    ).filter(F.col("n") <= B)
    got = {
        tuple(r)
        for r in pack_examples_nostraddle(
            ex, F.col("n"), budget=B, id_col="example_id",
            bucket_size=S,
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    sql = _NOSTRADDLE_ORACLE.replace("{B}", str(B)).replace("{S}", str(S))
    exp = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == exp and len(got) > 100


# --------------------------------------------------------------------
# Unigram-LM tokenizer (operators/unigram.py, round 10 late) — the
# second major subword algorithm beside BPE. LANDING ROUTE: rides
# q98_bpe_tokenize's round-12 re-gate (q98 owns the trained-tokenizer
# surface; r10-gated, due r12) as kind='unigram'. Gate split per the
# q92 rule: the Viterbi LATTICE gates exactly under RANK-VALUED
# scores (logp := -rank(piece) — integer-valued doubles, adds-only,
# derivable entirely in SQL with no libm anywhere), while the
# EM-trained float probabilities gate with bounds
# (tests/test_unigram.py). The oracle below derives the seed vocab,
# rank scores, candidate spans, and the full DP table in DuckDB and
# must match Spark's viterbi_scores per (word, position).

_UNIGRAM_ORACLE = r"""
WITH RECURSIVE words AS (
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
                list_transform(range(i + 1, least(i + {P}, len) + 1),
                               j -> substring(w, i + 1, j - i)))
        )) AS piece
        FROM words
    )
    GROUP BY piece
), chars AS (
    SELECT piece, cnt FROM subs WHERE length(piece) = 1
), multi AS (
    SELECT piece, cnt FROM subs WHERE length(piece) > 1
    ORDER BY cnt DESC, piece
    LIMIT {V} - (SELECT count(*) FROM chars)
), vocab AS (
    SELECT piece,
           -CAST(row_number() OVER (ORDER BY cnt DESC, piece)
                 AS DOUBLE) AS logp
    FROM (SELECT * FROM chars UNION ALL SELECT * FROM multi)
), spans_all AS (
    SELECT w, i, j, substring(w, i + 1, j - i) AS piece
    FROM (
        SELECT w, len, i,
               unnest(range(i + 1, least(i + {P}, len) + 1)) AS j
        FROM (SELECT w, len, unnest(range(0, len)) AS i FROM words)
    )
), spans AS (
    SELECT s.w, s.i, s.j, v.logp
    FROM spans_all s JOIN vocab v USING (piece)
    UNION ALL
    SELECT s.w, s.i, s.j, {UNK}::DOUBLE AS logp
    FROM spans_all s ANTI JOIN vocab v USING (piece)
    WHERE s.j = s.i + 1
), dp AS (
    SELECT w, len, 0 AS j, [CAST(0 AS DOUBLE)] AS best FROM words
    UNION ALL
    SELECT d.w, d.len, d.j + 1,
           list_append(d.best,
               COALESCE(MAX(d.best[sp.i + 1] + sp.logp), -1e300))
    FROM dp d LEFT JOIN spans sp
         ON sp.w = d.w AND sp.j = d.j + 1
    WHERE d.j < d.len
    GROUP BY d.w, d.len, d.j, d.best
), final AS (
    SELECT w, len, best FROM dp WHERE j = len
)
SELECT w, CAST(j AS INT) AS j, best[j + 1] AS best
FROM (SELECT w, len, best, unnest(range(1, len + 1)) AS j FROM final)
"""


def test_unigram_viterbi_lattice_oracle_parity(spark):
    """Spark viterbi_scores under the rank-valued seed vocab == the
    DuckDB recursive-CTE DP, per (word, position), over real corpus
    words — integer-valued scores, adds-only, exact equality."""
    from formula1_data_pipeline_spark.operators import unigram as U
    from formula1_data_pipeline_spark.queries import load

    # V below the corpus's distinct-piece count (262 at sf0.001) so
    # the top-multi LIMIT and the (cnt desc, piece) rank ties BIND
    P, V = U.MAX_PIECE_LEN, 120
    docs = load(spark, SF_DIR, "documents")["documents"]
    # word derivation matches the oracle's words CTE exactly:
    # lower/trim/whitespace-split, nonempty, len <= MAX_WORD_LEN
    # (NOT bpe.word_freqs — its GPT-2 pre-tokenizer keeps case and
    # leading spaces, which no plain-SQL oracle can reproduce; the
    # q98 rider embeds this same split in its oracle)
    words = (
        docs.select(F.explode(
            F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= U.MAX_WORD_LEN))
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    seed = U.seed_pieces(words, V, max_piece_len=P)
    # rank-valued scores: logp := -rank by (count desc, piece) — the
    # adds-only mechanics gate; trained floats stay bounds-gated
    from pyspark.sql import Window
    rank_w = Window.orderBy(F.col("count").desc(), F.col("piece"))
    vocab = seed.select(
        "piece",
        (-F.row_number().over(rank_w)).cast("double").alias("logp"),
    )
    got = {
        (r.w, r.j): r.best
        for r in U.viterbi_scores(words, vocab,
                                  max_piece_len=P).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    sql = (_UNIGRAM_ORACLE
           .replace("{P}", str(P))
           .replace("{V}", str(V))
           .replace("{UNK}", str(U.UNK_LOGP)))
    exp = {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    # every (word, position) cell of the DP table, exact equality
    # (~138 cells: the sf0.001 synthetic corpus has 31 distinct words)
    assert len(got) > 100
    assert got == exp


# --------------------------------------------------------------------
# Count-Min sketch heavy-hitter n-grams (operators/sketch.py, round 10
# late) — the bounded-memory frequency tier beside the Bloom
# membership tier. LANDING ROUTE: rides q65_repetition_filter's r11
# re-gate (q65 owns the corpus n-gram surface; r9-gated, due r11) as
# corpus-level kind='heavy' rows beside the per-doc repetition rows.
# Everything is integer math on md5_hash60 under salts cms0..cms3, so
# the oracle replays the counter table — collisions and overestimates
# included — and the gate is a full value hash (the bloom rule).
# w_bits=8 / T=40 are gate-sized: at sf0.001 the output has 58
# exactly-heavy rows and ~750 collision-inflated near-misses, so both
# verdict paths sit under the hash.

_CMS_SALTS = ["cms0", "cms1", "cms2", "cms3"]

_CMS_ORACLE = r"""
WITH t AS (
    SELECT list_filter(regexp_split_to_array(trim(lower(text)),
                       '\s+'), x -> x <> '') AS toks
    FROM documents
), g AS (
    SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        list_transform(range(0, len(toks) - 1),
                       i -> toks[i + 1] || ' ' || toks[i + 2])
        ELSE [] END) AS gram
    FROM t
), h AS (
    SELECT gram,
           CAST(('0x' || substr(md5(gram || '|' || 'cms0'), 1, 15))
                AS BIGINT) % {W} AS b0,
           CAST(('0x' || substr(md5(gram || '|' || 'cms1'), 1, 15))
                AS BIGINT) % {W} AS b1,
           CAST(('0x' || substr(md5(gram || '|' || 'cms2'), 1, 15))
                AS BIGINT) % {W} AS b2,
           CAST(('0x' || substr(md5(gram || '|' || 'cms3'), 1, 15))
                AS BIGINT) % {W} AS b3
    FROM g
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
)
SELECT dg.gram,
       dg.n AS n_occurrences,
       least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) AS est_count,
       dg.n >= {T} AS is_heavy
FROM dg
JOIN c0 ON dg.b0 = c0.k JOIN c1 ON dg.b1 = c1.k
JOIN c2 ON dg.b2 = c2.k JOIN c3 ON dg.b3 = c3.k
WHERE least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) >= {T}
"""


def _cms_parity(spark, sf_dir):
    from formula1_data_pipeline_spark.operators import sketch as S

    W_BITS, T = 8, 40
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["gram"]: (r["n_occurrences"], r["est_count"], r["is_heavy"])
        for r in S.corpus_heavy_ngrams(
            docs, n=2, threshold=T, w_bits=W_BITS).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = (_CMS_ORACLE
           .replace("{W}", str(1 << W_BITS))
           .replace("{T}", str(T)))
    exp = {r[0]: (r[1], r[2], r[3])
           for r in con.execute(sql).fetchall()}
    assert got == exp
    # both verdict paths under the hash: exact heavies AND
    # collision-born near-misses
    assert sum(1 for (_, _, hv) in got.values() if hv) > 10
    assert sum(1 for (_, _, hv) in got.values() if not hv) > 10


def test_cms_heavy_ngrams_oracle_parity(spark):
    _cms_parity(spark, SF_DIR)


def test_cms_heavy_ngrams_oracle_parity_sf001(spark):
    _cms_parity(spark, "/root/testdata/sf0.01")


# --------------------------------------------------------------------
# Tokenizer evaluation scorecard (unigram.segmentation_stats /
# tokenizer_eval, round 10 late) — the vocabulary-quality surface:
# min-token fertility / compression / UNK rate / coverage under the
# UNIFORM weighting (piece = -1, UNK = -1024), where any optimal
# segmentation has the same (n_pieces, n_unk) because the score's
# decomposition -score = n_pieces + 1023*n_unk is unique below
# n_pieces = 1023 — so the eval surface value-hash-gates with NO
# trained floats anywhere. LANDING ROUTE: rides q98's r12 re-gate
# beside the kind='unigram' lattice leg (one scorecard row per vocab
# kind: bpe vs unigram-seed vs unigram-trained).

_UNIGRAM_EVAL_ORACLE = r"""
WITH RECURSIVE words AS (
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
                list_transform(range(i + 1, least(i + {P}, len) + 1),
                               j -> substring(w, i + 1, j - i)))
        )) AS piece
        FROM words
    )
    GROUP BY piece
), chars AS (
    SELECT piece, cnt FROM subs WHERE length(piece) = 1
), multi AS (
    SELECT piece, cnt FROM subs WHERE length(piece) > 1
    ORDER BY cnt DESC, piece
    LIMIT {V} - (SELECT count(*) FROM chars)
), vocab AS (
    SELECT piece, CAST(-1 AS DOUBLE) AS logp
    FROM (SELECT * FROM chars UNION ALL SELECT * FROM multi)
), spans_all AS (
    SELECT w, i, j, substring(w, i + 1, j - i) AS piece
    FROM (
        SELECT w, len, i,
               unnest(range(i + 1, least(i + {P}, len) + 1)) AS j
        FROM (SELECT w, len, unnest(range(0, len)) AS i FROM words)
    )
), spans AS (
    SELECT s.w, s.i, s.j, v.logp
    FROM spans_all s JOIN vocab v USING (piece)
    UNION ALL
    SELECT s.w, s.i, s.j, CAST(-1024 AS DOUBLE) AS logp
    FROM spans_all s ANTI JOIN vocab v USING (piece)
    WHERE s.j = s.i + 1
), dp AS (
    SELECT w, len, 0 AS j, [CAST(0 AS DOUBLE)] AS best FROM words
    UNION ALL
    SELECT d.w, d.len, d.j + 1,
           list_append(d.best,
               COALESCE(MAX(d.best[sp.i + 1] + sp.logp), -1e300))
    FROM dp d LEFT JOIN spans sp
         ON sp.w = d.w AND sp.j = d.j + 1
    WHERE d.j < d.len
    GROUP BY d.w, d.len, d.j, d.best
), stats AS (
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
SELECT n_words, n_tokens, n_chars, n_unk, n_covered,
       round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
       round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token,
       round(CAST(n_unk AS DOUBLE) / n_tokens, 6) AS unk_rate,
       round(CAST(n_covered AS DOUBLE) / n_words, 6) AS coverage
FROM agg
"""


def test_tokenizer_eval_oracle_parity(spark):
    """tokenizer_eval under the sf0.001 corpus seed vocab == the
    DuckDB DP twin at uniform weights — exact counts AND the
    round-6 ratios."""
    from formula1_data_pipeline_spark.operators import unigram as U
    from formula1_data_pipeline_spark.queries import load

    P, V = U.MAX_PIECE_LEN, 120
    docs = load(spark, SF_DIR, "documents")["documents"]
    words = (
        docs.select(F.explode(
            F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= U.MAX_WORD_LEN))
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    seed = U.seed_pieces(words, V, max_piece_len=P).select("piece")
    [got] = U.tokenizer_eval(words, seed, max_piece_len=P).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    sql = (_UNIGRAM_EVAL_ORACLE
           .replace("{P}", str(P))
           .replace("{V}", str(V)))
    cols = ["n_words", "n_tokens", "n_chars", "n_unk", "n_covered",
            "fertility", "chars_per_token", "unk_rate", "coverage"]
    [exp] = con.execute(sql).fetchall()
    assert tuple(got[c] for c in cols) == exp
    assert got["n_tokens"] > 0 and got["fertility"] >= 1.0


# --------------------------------------------------------------------
# Systematic weighted sampling (sampling.py::systematic_sample, round
# 10 late) — the missing cell of the sampling matrix: exact-size AND
# weighted (resample_by_weight is weighted/Bernoulli,
# stratified_topn is exact-size/uniform). LANDING ROUTE: rides
# q18_importance_resample's r11 re-gate (q18 owns the weighted-
# selection surface; r9-gated, due r11) as a second kind beside the
# Bernoulli rows — the same DSIR importance weights feed both. All
# integer math (scaled weights, exact BIGINT cumsum over the md5
# order, HUGEINT/DECIMAL(38,0) grid quotients), so the gate is a
# full value hash.

_SYS_ORACLE = r"""
WITH s AS (
    SELECT doc_id,
           CAST(round(CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT)
               AS w,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                || '|' || 'syssample-v1'), 1, 15)) AS BIGINT) AS h
    FROM documents
), c AS (
    SELECT doc_id, w,
           COALESCE(SUM(w) OVER (ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cb,
           SUM(w) OVER () AS tot
    FROM s
)
SELECT doc_id,
       CAST(CAST(cb + w AS HUGEINT) * {N} // tot
            - CAST(cb AS HUGEINT) * {N} // tot AS BIGINT) AS n_hits,
       (CAST(cb + w AS HUGEINT) * {N} // tot
            - CAST(cb AS HUGEINT) * {N} // tot) > 0 AS sampled
FROM c
"""


def test_systematic_sample_oracle_parity(spark):
    from formula1_data_pipeline_spark.operators.sampling import (
        systematic_sample,
    )

    N = 100
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_hits"], r["sampled"])
        for r in systematic_sample(
            docs, F.col("n_chars").cast("double"), N,
        ).select("doc_id", "n_hits", "sampled").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    exp = {r[0]: (r[1], r[2])
           for r in con.execute(
               _SYS_ORACLE.replace("{N}", str(N))).fetchall()}
    assert got == exp
    assert sum(h for h, _ in got.values()) == N
    assert 0 < sum(1 for _, s in got.values() if s) <= N


# --------------------------------------------------------------------
# Z-order layout (operators/zorder.py, round 10 late) — the
# table-layout side of data skipping: Morton-interleave k integral
# columns so a box predicate on ANY of them prunes manifest segments
# (a single-column sort leaves every other column blind). LANDING
# ROUTE: rides q82_stats_pruned_read's r12 re-gate (q82 owns the
# data-skipping surface; in the r10 window, due r12) as a z-layout
# leg with the same in-query fewer-input-files assertion, on BOTH
# columns. All integer math (exact DECIMAL/HUGEINT scaling quotients,
# shift/AND interleave, exact-rank prefix sum) — full value hash.

def _morton_terms_sql(ca, cb, bits):
    # the Morton definition: bit i of column j lands at i*k + j.
    # Every term fully parenthesized: DuckDB (PostgreSQL precedence)
    # binds `+` TIGHTER than `<<`, so an unwrapped `a << 5 + b << 7`
    # parses as a << (5 + (b << 7)) and overflows
    return " + ".join(
        f"(((({c}) >> {i}) & 1) << {i * 2 + j})"
        for i in range(bits) for j, c in enumerate((ca, cb))
    )


_ZORDER_ORACLE_TMPL = r"""
WITH m AS (
    SELECT min(o_orderkey) AS mnx, max(o_orderkey) AS mxx,
           min(o_custkey)  AS mny, max(o_custkey)  AS mxy
    FROM orders
), s AS (
    SELECT o_orderkey AS id,
           CAST(CAST(o_orderkey - mnx AS HUGEINT) * {TOP}
                // CAST(greatest(1, mxx - mnx) AS HUGEINT)
                AS BIGINT) AS sx,
           CAST(CAST(o_custkey - mny AS HUGEINT) * {TOP}
                // CAST(greatest(1, mxy - mny) AS HUGEINT)
                AS BIGINT) AS sy
    FROM orders, m
), z AS (
    SELECT id, {MORTON} AS zvalue FROM s
), r AS (
    SELECT id, zvalue,
           row_number() OVER (ORDER BY zvalue, id) - 1 AS rnk,
           count(*) OVER () AS n
    FROM z
)
SELECT id, zvalue,
       CAST(CAST(rnk AS HUGEINT) * {NF} // n AS BIGINT) AS file_id
FROM r
"""


def test_zorder_assignment_oracle_parity(spark):
    from formula1_data_pipeline_spark.operators import zorder as Z

    BITS, NF = 16, 8
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    got = {
        r["o_orderkey"]: (r["zvalue"], r["file_id"])
        for r in Z.zorder_assignment(
            orders, ["o_orderkey", "o_custkey"], NF,
            "o_orderkey", bits=BITS).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/orders.parquet')"
    )
    sql = (_ZORDER_ORACLE_TMPL
           .replace("{TOP}", str((1 << BITS) - 1))
           .replace("{NF}", str(NF))
           .replace("{MORTON}", _morton_terms_sql("sx", "sy", BITS)))
    exp = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == exp
    # equal-count cut within 1 row per segment
    sizes = {}
    for _, fid in got.values():
        sizes[fid] = sizes.get(fid, 0) + 1
    assert set(sizes) == set(range(NF))
    assert max(sizes.values()) - min(sizes.values()) <= 1


# --------------------------------------------------------------------
# Mergeable quantile histogram (quality.quantile_histogram /
# histogram_quantiles, round 10 late) — closes grouped_quantiles'
# documented scale seam: per-group state capped at ~2*63*2^sub_bits
# buckets however many distinct values the group holds, batch
# histograms merge by summing. LANDING ROUTE: rides q78_stat_moments'
# r12 re-gate (q78 owns the distribution-summary surface; r10-gated,
# due r12) as p*_approx columns beside the exact picks. All integer
# bucket math (scaled values, bin()-length msb — verified identical
# across engines — shift/AND mantissa, DECIMAL ranks): full value
# hash, histogram rows AND rank picks.

_HIST_ORACLE = r"""
WITH s AS (
    SELECT event_type,
           CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
               AS vs
    FROM events WHERE value IS NOT NULL
), b AS (
    SELECT event_type,
           CASE WHEN vs > 0 THEN 1 WHEN vs < 0 THEN -1 ELSE 0 END
               AS cls,
           abs(vs) AS mag
    FROM s
), m AS (
    SELECT event_type, cls, mag,
           CAST(CASE WHEN mag > 0 THEN length(bin(mag)) - 1
                ELSE 0 END AS INT) AS msb
    FROM b
), k AS (
    SELECT event_type, cls, msb,
           (mag >> greatest(0, msb - 3)) AS sub,
           cls * ((mag >> greatest(0, msb - 3))
                  << greatest(0, msb - 3)) AS rep
    FROM m
), hist AS (
    SELECT event_type, cls, msb, sub, rep,
           CAST(count(*) AS BIGINT) AS cnt
    FROM k GROUP BY ALL
), r AS (
    SELECT event_type, rep,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY rep
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS tot
    FROM hist
)
SELECT event_type,
       MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DECIMAL(20,12)) * tot)
           THEN rep END) AS p50_approx,
       MIN(CASE WHEN cum >= ceil(CAST(0.95 AS DECIMAL(20,12)) * tot)
           THEN rep END) AS p95_approx,
       MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DECIMAL(20,12)) * tot)
           THEN rep END) AS p99_approx
FROM r GROUP BY event_type
"""


def test_quantile_histogram_oracle_parity(spark):
    from formula1_data_pipeline_spark.operators import quality as Q
    from formula1_data_pipeline_spark.queries import load

    ev = load(spark, SF_DIR, "events")["events"]
    hist = Q.quantile_histogram(ev, "value", ["event_type"])
    got = {
        r["event_type"]: (r["p50_approx"], r["p95_approx"],
                          r["p99_approx"])
        for r in Q.histogram_quantiles(
            hist, ["event_type"], [0.5, 0.95, 0.99]).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    exp = {r[0]: (r[1], r[2], r[3])
           for r in con.execute(_HIST_ORACLE).fetchall()}
    assert got == exp and len(got) >= 3


# --------------------------------------------------------------------
# Temporal split with embargo + entity-straddle leakage report
# (sampling.py::temporal_split/temporal_leakage_report, round 10
# late) — the TIME-axis complement of q85's cluster-keyed split:
# train <= cutoff < embargo band <= cutoff+gap < test, embargo rows
# LABELED not dropped, and the report that says whether entities
# straddle the boundary. LANDING ROUTE: rides q85's r11 re-gate as a
# kind='temporal' leg beside the cluster rows (q85 owns the
# leakage-safe-split surface; r9-gated, due r11). Exact-microsecond
# arithmetic + the type-1 quantile cutoff: full value hash.

_TSPLIT_ORACLE = r"""
WITH c AS (
    SELECT ts, count(*) AS cnt FROM events
    WHERE ts IS NOT NULL GROUP BY ts
), r AS (
    SELECT ts,
           SUM(cnt) OVER (ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(cnt) OVER () AS tot
    FROM c
), cut AS (
    SELECT min(ts) AS cutoff FROM r
    WHERE cum >= ceil(CAST(0.8 AS DECIMAL(20,12)) * tot)
), lab AS (
    SELECT e.event_id, e.user_id,
           CASE WHEN e.ts IS NULL THEN NULL
                WHEN epoch_us(e.ts) <= epoch_us(cutoff) THEN 'train'
                WHEN epoch_us(e.ts) <= epoch_us(cutoff) + 86400000000
                    THEN 'embargo'
                ELSE 'test' END AS split
    FROM events e CROSS JOIN cut
), per_entity AS (
    SELECT user_id,
           max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS in_train,
           max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
    FROM lab WHERE split IN ('train', 'test')
    GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(CASE WHEN in_train = 1 AND in_test = 0 THEN 1
                ELSE 0 END) AS BIGINT) AS n_train_only,
       CAST(sum(CASE WHEN in_train = 0 AND in_test = 1 THEN 1
                ELSE 0 END) AS BIGINT) AS n_test_only,
       CAST(sum(CASE WHEN in_train = 1 AND in_test = 1 THEN 1
                ELSE 0 END) AS BIGINT) AS n_straddling,
       round(CAST(sum(CASE WHEN in_train = 1 AND in_test = 1 THEN 1
                ELSE 0 END) AS DOUBLE) / count(*), 6)
           AS straddle_fraction
FROM per_entity
"""

_TSPLIT_ROWS_ORACLE = r"""
WITH c AS (
    SELECT ts, count(*) AS cnt FROM events
    WHERE ts IS NOT NULL GROUP BY ts
), r AS (
    SELECT ts,
           SUM(cnt) OVER (ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(cnt) OVER () AS tot
    FROM c
), cut AS (
    SELECT min(ts) AS cutoff FROM r
    WHERE cum >= ceil(CAST(0.8 AS DECIMAL(20,12)) * tot)
)
SELECT e.event_id,
       CASE WHEN e.ts IS NULL THEN NULL
            WHEN epoch_us(e.ts) <= epoch_us(cutoff) THEN 'train'
            WHEN epoch_us(e.ts) <= epoch_us(cutoff) + 86400000000
                THEN 'embargo'
            ELSE 'test' END AS split
FROM events e CROSS JOIN cut
"""


def test_temporal_split_oracle_parity(spark):
    from formula1_data_pipeline_spark.operators.sampling import (
        temporal_leakage_report,
        temporal_split,
    )
    from formula1_data_pipeline_spark.queries import load

    ev = load(spark, SF_DIR, "events")["events"]
    split = temporal_split(ev, "ts", train_frac=0.8,
                           embargo_seconds=86400)
    got_rows = {r["event_id"]: r["split"]
                for r in split.select("event_id", "split").collect()}
    [got_rep] = temporal_leakage_report(split, "user_id").collect()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    exp_rows = {r[0]: r[1]
                for r in con.execute(_TSPLIT_ROWS_ORACLE).fetchall()}
    assert got_rows == exp_rows
    [exp_rep] = con.execute(_TSPLIT_ORACLE).fetchall()
    cols = ["n_entities", "n_train_only", "n_test_only",
            "n_straddling", "straddle_fraction"]
    assert tuple(got_rep[c] for c in cols) == exp_rep
    # all three bands populated at this sf
    from collections import Counter

    bands = Counter(v for v in got_rows.values() if v)
    assert bands["train"] > 0 and bands["test"] > 0
    assert bands["embargo"] > 0


