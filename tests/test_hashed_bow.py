"""Hashed bag-of-words features + fastText-style trained filter
(`operators/classify.py` round-9 additions). Cross-engine parity for
the intended round-10 gate lives in ``test_r10_gate_drafts.py``."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.classify import (
    hashed_bow_dense,
    hashed_bow_long,
    score_hashed_bow,
)


def _bucket(term: str, salt: str, n: int) -> int:
    h = hashlib.md5(f"{term}|{salt}".encode()).hexdigest()[:15]
    return int(h, 16) % n


def test_hashed_bow_long_matches_reference_hash(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "Cat  CAT cat"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["bucket"]): r["cnt"]
        for r in hashed_bow_long(docs, n_features=16,
                                 salt="t1").collect()
    }
    want: dict[tuple[int, int], int] = {}
    for doc_id, text in [(1, "the cat sat on the mat"),
                         (2, "cat cat cat"), (3, "")]:
        for t in text.split():
            k = (doc_id, _bucket(t, "t1", 16))
            want[k] = want.get(k, 0) + 1
    assert got == want
    # the empty doc contributes no long-form rows
    assert not any(d == 3 for d, _ in got)


def test_hashed_bow_dense_shape_and_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["features"]
            for r in hashed_bow_dense(docs, n_features=8,
                                      salt="t2").collect()}
    # every input doc keeps a row, term-less docs all-zero
    assert set(rows) == {1, 2, 3}
    assert all(len(v) == 8 for v in rows.values())
    assert rows[2] == [0.0] * 8 and rows[3] == [0.0] * 8
    assert abs(sum(rows[1]) - 1.0) < 1e-12
    # 'a' appears twice of 4 terms -> its bucket holds 0.5
    assert rows[1][_bucket("a", "t2", 8)] == 0.5


def test_hashed_bow_bigrams_extend_the_term_stream(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "solo")], "doc_id long, text string"
    )
    plain = hashed_bow_long(docs, n_features=32, salt="t3")
    with_bi = hashed_bow_long(docs, n_features=32, salt="t3",
                              include_bigrams=True)
    n1 = {r["doc_id"]: r["n"] for r in
          plain.groupBy("doc_id").agg(F.sum("cnt").alias("n")).collect()}
    n2 = {r["doc_id"]: r["n"] for r in
          with_bi.groupBy("doc_id").agg(F.sum("cnt").alias("n")).collect()}
    # doc 1: 3 tokens + 2 bigrams; doc 2: 1 token + 0 bigrams
    assert n1 == {1: 3, 2: 1}
    assert n2 == {1: 5, 2: 1}
    # the bigram terms hash like their "w1_w2" strings
    got = {(r["doc_id"], r["bucket"]): r["cnt"]
           for r in with_bi.collect()}
    want: dict[tuple[int, int], int] = {}
    for doc_id, terms in [(1, ["x", "y", "z", "x_y", "y_z"]),
                          (2, ["solo"])]:
        for t in terms:
            k = (doc_id, _bucket(t, "t3", 32))
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_score_hashed_bow_is_shuffle_bounded(spark):
    """Scale contract: scoring = the feature build's one explode +
    one (doc,bucket) groupBy + the doc-keyed dense assembly — the
    model itself adds NO exchange (weights are plan literals)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(50)],
        "doc_id long, text string",
    )
    out = score_hashed_bow(docs, [0.1] * 8, -0.05)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exchanges: the groupBy(doc,bucket) pair + the doc-keyed
    # aggregation/join — no exchange keyed on anything model-side
    assert "p_keep" in out.columns
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 4, f"{n_exchanges} exchanges:\n{plan[:2000]}"
