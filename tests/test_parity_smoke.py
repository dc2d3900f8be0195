"""Always-on oracle parity for two operator families of the catalog.

Streaming: each query replays a bounded stream through
``streaming/scaffold`` (memory sink: q31, q35, q54, q62; foreachBatch:
q36, q54, q69). Txn/ingest: each query commits through
``sources/txn`` — replace and merge (q14), overwrite (q73), append,
targeted delete and time travel (q75), incremental replace (q76),
concurrent appends to the aggregate mart (q79) and stats-pruned reads
(q82). Every query must match its DuckDB oracle at sf0.001 — the
catalog's oracle gate in miniature. The full catalog stays behind
``ORACLE_PARITY=1`` in ``test_oracle_parity.py``.
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
