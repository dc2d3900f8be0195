"""Dataset version diff (operators/diff.py): hand-built add/remove/
change cases, NULL-collision safety of the content hash, default
compare-column resolution, unchanged-rows exclusion, the
time-travel + targeted-delete integration (deleted keys surface as
'removed'), and the one-join plan shape."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.diff import (
    content_hash,
    dataset_diff,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pair(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "id long, s string, v int")
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", 30), (4, None, 40), (5, "e", 50)],
        "id long, s string, v int")
    return old, new


def test_statuses(spark, pair):
    old, new = pair
    got = {(r["status"], r["id"])
           for r in dataset_diff(old, new, ["id"]).collect()}
    assert got == {("removed", 1), ("changed", 3), ("added", 5)}


def test_unchanged_rows_dropped(spark, pair):
    old, new = pair
    ids = {r["id"] for r in dataset_diff(old, new, ["id"]).collect()}
    assert 2 not in ids and 4 not in ids


def test_null_shift_is_a_change(spark):
    """The concat_ws null-skip trap: ("a", NULL, "b") must NOT hash
    equal to ("a", "b", NULL) — per-column tokens make NULL position
    significant."""
    old = spark.createDataFrame([(1, "a", None, "b")],
                                "id long, x string, y string, z string")
    new = spark.createDataFrame([(1, "a", "b", None)],
                                "id long, x string, y string, z string")
    got = dataset_diff(old, new, ["id"]).collect()
    assert len(got) == 1 and got[0]["status"] == "changed"


def test_separator_shift_is_a_change(spark):
    """The raw-join aliasing trap (second review pass): ("a|b", "c")
    must NOT hash equal to ("a", "b|c") — per-column md5 tokens make
    column boundaries unambiguous regardless of value content."""
    old = spark.createDataFrame([(1, "a|b", "c")],
                                "id long, x string, y string")
    new = spark.createDataFrame([(1, "a", "b|c")],
                                "id long, x string, y string")
    got = dataset_diff(old, new, ["id"]).collect()
    assert len(got) == 1 and got[0]["status"] == "changed"


def test_null_key_rows_match_null_safely(spark):
    """A NULL-keyed row present unchanged on both sides must NOT
    surface as a phantom remove+add (null-safe key equality), and a
    genuinely changed NULL-keyed row reports as 'changed'."""
    old = spark.createDataFrame([(None, "same"), (1, "x")],
                                "id string, v string")
    new = spark.createDataFrame([(None, "same"), (1, "y")],
                                "id string, v string")
    got = {(r["status"], r["id"])
           for r in dataset_diff(old, new, ["id"]).collect()}
    assert got == {("changed", "1")}

    new2 = spark.createDataFrame([(None, "DIFFERENT"), (1, "x")],
                                 "id string, v string")
    got2 = {(r["status"], r["id"])
            for r in dataset_diff(old, new2, ["id"]).collect()}
    assert got2 == {("changed", None)}


def test_compare_cols_subset(spark, pair):
    old, new = pair
    # comparing only v: row 3's s-change becomes invisible
    got = {(r["status"], r["id"]) for r in
           dataset_diff(old, new, ["id"], compare_cols=["v"]).collect()}
    assert got == {("removed", 1), ("added", 5)}


def test_time_travel_delete_surfaces_as_removed(spark, tmp_path):
    """The q75 rider contract: diffing the version before a targeted
    delete against the version after shows exactly the deleted keys
    as 'removed' and nothing else."""
    from formula1_data_pipeline_spark.sources.txn import (
        current_version,
        read_table,
        txn_append,
        txn_delete_keys,
    )

    t = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "source", "text")
    txn_append(spark, docs, t, stats_cols=["doc_id"])
    v_before = current_version(spark, t)
    keys = spark.createDataFrame([(7,), (21,), (42,)], "doc_id long")
    txn_delete_keys(spark, keys, t, "doc_id")
    v_after = current_version(spark, t)

    d = dataset_diff(
        read_table(spark, t, version=v_before),
        read_table(spark, t, version=v_after),
        ["doc_id"],
    ).collect()
    assert {(r["status"], r["doc_id"]) for r in d} == \
        {("removed", 7), ("removed", 21), ("removed", 42)}


def test_plan_is_one_join_no_window(spark, pair):
    old, new = pair
    plan = (dataset_diff(old, new, ["id"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") == 1


def test_oracle_parity_on_documents(spark):
    """Full driver-style compare of a deterministic documents-vs-
    mutated-documents diff — the q75 rider's draft shape."""
    import duckdb

    from formula1_data_pipeline_spark.operators.diff import (
        content_hash_sql,
    )
    from tests.oracle_compare import canon

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "source", "text", "n_chars")
    new = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .withColumn("n_chars",
                    F.when(F.col("doc_id") % 7 == 0,
                           F.col("n_chars") + 1)
                    .otherwise(F.col("n_chars")))
    )
    sdf = (dataset_diff(docs, new, ["doc_id"])
           .select(F.lit("diff").alias("kind"), "status", "doc_id",
                   "old_hash", "new_hash")
           .toPandas())

    h = content_hash_sql(["n_chars", "source", "text"])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{SF}/documents.parquet'")
    odf = con.sql(f"""
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
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   old_hash, new_hash
            FROM old o FULL OUTER JOIN newh n USING (doc_id)
        )
        SELECT 'diff' AS kind,
               CASE WHEN old_hash IS NULL THEN 'added'
                    WHEN new_hash IS NULL THEN 'removed'
                    WHEN old_hash <> new_hash THEN 'changed'
               END AS status,
               doc_id, old_hash, new_hash
        FROM j WHERE (old_hash IS NULL OR new_hash IS NULL
                      OR old_hash <> new_hash)
    """).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    assert canon(sdf) == canon(odf)
