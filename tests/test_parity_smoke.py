"""Always-on oracle parity for three operator families of the catalog.

Streaming: each query replays a bounded stream through
``streaming/scaffold`` (memory sink: q31, q35, q54, q62; foreachBatch:
q36, q54, q69). Txn/ingest: each query commits through
``sources/txn`` — replace and merge (q14), overwrite (q73), append,
targeted delete and time travel (q75), incremental replace (q76),
concurrent appends to the aggregate mart (q79) and stats-pruned reads
(q82). Vector: the hash-sample IVF with its persisted-index leg (q34),
and the Lloyd-trained quantizer's recall, persisted-index and sq8 rows
(q92) and trained semantic dedup (q96). Every query must match its
DuckDB oracle at sf0.001 — the catalog's oracle gate in miniature.
The full catalog stays behind ``ORACLE_PARITY=1`` in
``test_oracle_parity.py``.

The vector queries also pin how many Spark jobs they run, counted by
job group (``concurrency.overlap`` legs inherit the caller's group).
Each ceiling is the count measured when it was set; a change that adds
actions to the query fails here instead of passing silently. Jobs are
pinned, not codegen compiles: compile counts do not repeat run to run
on unchanged code.
"""

from __future__ import annotations

import pytest

from tests.oracle_compare import compare_query

SF_DIR = "/root/testdata/sf0.001"

STREAMING = [
    "q31_stream_windowed_agg",
    "q35_stream_stateful_dedup",
    "q36_stream_merge_upsert",
    "q54_stream_static_join",
    "q62_stream_stream_join",
    "q69_stream_rest_ingest",
]

TXN_INGEST = [
    "q14_ingest_write_path",
    "q73_materialized_chain",
    "q75_time_travel",
    "q76_incremental_load",
    "q79_table_profile",
    "q82_stats_pruned_read",
]


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_matches_oracle(spark, name):
    res = compare_query(spark, name, SF_DIR)
    assert res["ok"], f"{name}: {res['detail']}"


@pytest.mark.parametrize("name", TXN_INGEST)
def test_txn_ingest_query_matches_oracle(spark, name):
    res = compare_query(spark, name, SF_DIR)
    assert res["ok"], f"{name}: {res['detail']}"


# query -> ceiling on its Spark jobs (build + collect) at sf0.001, or
# None where no ceiling is pinned
VECTOR = {
    "q34_ivf_flat_topk": None,
    "q92_ann_recall_clustered": 81,
    "q96_semantic_dedup_trained": 29,
}


@pytest.mark.parametrize("name", sorted(VECTOR))
def test_vector_query_matches_oracle(spark, name):
    sc = spark.sparkContext
    group = f"parity smoke: {name}"
    sc.setJobGroup(group, name)
    try:
        res = compare_query(spark, name, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    assert res["ok"], f"{name}: {res['detail']}"
    ceiling = VECTOR[name]
    if ceiling is not None:
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= ceiling, f"{name} ran {jobs} jobs > {ceiling}"
