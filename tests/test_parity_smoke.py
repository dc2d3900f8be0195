"""Always-on oracle parity for the streaming catalog queries.

Each query below replays a bounded stream through ``streaming/scaffold``
(memory sink: q31, q35, q54, q62; foreachBatch: q36, q54, q69) and must
match its DuckDB oracle at sf0.001 — the driver's gate in miniature.
The full catalog stays behind ``ORACLE_PARITY=1`` in
``test_oracle_parity.py``.
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


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_matches_oracle(spark, name):
    res = compare_query(spark, name, SF_DIR)
    assert res["ok"], f"{name}: {res['detail']}"
