"""Ingest-layer (S1-S8, O1-O3, F10-F17) and streaming tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.sources import (
    RecordedClient,
    append_raw,
    ingest_session_endpoints,
    merge_upsert,
    read_table,
    records_to_raw_df,
    replace_by_key,
    select_latest_session,
    session_window_filter,
    skip_loaded,
)

LAP_RECORDS = [
    {"session_key": 9165, "driver_number": 1, "lap_number": 1,
     "lap_duration": 92.5, "segments_sector_1": [2048, 2049],
     "is_pit_out_lap": False},
    {"session_key": 9165, "driver_number": 1, "lap_number": 2,
     "lap_duration": "None", "gap_to_leader": "+1 LAP"},
    {"session_key": 9165, "driver_number": 4, "lap_number": 1},
]

SESSIONS = [
    {"session_key": 9165, "meeting_key": 1219, "session_name": "Race",
     "date_end": "2023-11-26T16:00:00"},
    {"session_key": 9160, "meeting_key": 1219, "session_name": "Qualifying",
     "date_end": "2023-11-25T16:00:00"},
    {"session_key": 9150, "meeting_key": 1218, "session_name": "Practice",
     "date_end": "2023-11-24T16:00:00"},
    {"session_key": 9100, "meeting_key": 1210, "session_name": "Race",
     "date_end": "2023-06-01T16:00:00"},
]


def test_records_to_raw_df_all_string_json_sentinels(spark):
    df = records_to_raw_df(spark, LAP_RECORDS)
    # union of keys = columns, all strings
    assert set(df.columns) == {
        "session_key", "driver_number", "lap_number", "lap_duration",
        "segments_sector_1", "is_pit_out_lap", "gap_to_leader",
    }
    assert all(t == "string" for _, t in df.dtypes)
    rows = {(r["driver_number"], r["lap_number"]): r for r in df.collect()}
    assert rows[("1", "1")]["segments_sector_1"] == "[2048, 2049]"  # F11 json
    assert rows[("1", "1")]["is_pit_out_lap"] == "False"            # F12 str()
    assert rows[("1", "2")]["lap_duration"] is None                 # F10 sentinel
    assert rows[("1", "2")]["gap_to_leader"] == "+1 LAP"
    assert rows[("1", "1")]["gap_to_leader"] is None                # missing key


def test_records_to_raw_df_empty_short_circuit(spark):
    assert records_to_raw_df(spark, []) is None


def test_ingest_injects_keys(spark):
    client = RecordedClient({"laps": LAP_RECORDS, "position": []})
    out = ingest_session_endpoints(
        spark, client, session_key=9165, meeting_key=1219, year=2023,
        endpoints=("laps", "position"),
    )
    assert set(out) == {"laps"}  # empty endpoint omitted
    row = out["laps"].filter(F.col("driver_number") == "4").first()
    assert row["meeting_key"] == "1219" and row["year"] == "2023"


def test_normalize_intervals_and_sessions(spark):
    from formula1_data_pipeline_spark.sources import (
        normalize_intervals,
        normalize_sessions,
    )

    iv = records_to_raw_df(spark, [
        {"driver_number": "44.0", "gap_to_leader": "+1 LAP"},
        {"driver_number": " 16 ", "gap_to_leader": "2.456"},
        {"driver_number": "x", "gap_to_leader": "garbage"},
    ])
    rows = normalize_intervals(iv).collect()
    assert [(r["driver_number"], r["gap_to_leader"]) for r in rows] == [
        ("44", "1"), ("16", "2.456"), (None, None),
    ]

    sess = records_to_raw_df(spark, [
        {"session_key": 1, "date_end": "2023-11-26T16:00:00",
         "meeting_name": "Abu Dhabi GP", "session_name": "Race"},
        {"session_key": 2, "date_end": "not-a-date",
         "meeting_name": None, "session_name": None},
    ])
    got = {r["session_key"]: r for r in normalize_sessions(sess).collect()}
    assert got["1"]["meeting_name"] == "Abu Dhabi GP"
    assert got["2"]["meeting_name"] == "Unknown GP"      # F16 default
    assert got["2"]["session_name"] == "Unknown"
    assert got["2"]["date_end"] is None                  # F15 coerce
    assert got["1"]["date_end"] is not None


def test_session_window_and_latest_selection(spark):
    sess = records_to_raw_df(spark, SESSIONS).withColumn(
        "date_end", F.col("date_end").cast("timestamp")
    ).withColumn("session_key", F.col("session_key").cast("int"))
    latest = select_latest_session(sess).collect()
    assert len(latest) == 1 and latest[0]["session_key"] == 9165  # O1: Race+newest
    windowed = session_window_filter(
        sess, cutoff="2023-08-01", now="2023-12-01",
        exclude_session_key=9165,
    )
    keys = {r["session_key"] for r in windowed.collect()}
    # Practice filtered (P6), June race outside window (P5), latest excluded (P7)
    assert keys == {9160}


def test_append_replace_merge_skip(spark, tmp_path):
    path = str(tmp_path / "raw_laps")
    df = records_to_raw_df(spark, LAP_RECORDS)

    append_raw(df, path, partition_by=["session_key"])
    assert spark.read.parquet(path).count() == 3
    append_raw(df, path, partition_by=["session_key"])
    assert spark.read.parquet(path).count() == 6  # S5 append

    # S6: dynamic overwrite replaces only session 9165's partition
    other = records_to_raw_df(
        spark, [{"session_key": 9200, "driver_number": 63, "lap_number": 1,
                 "lap_duration": 95.0}])
    append_raw(other, path, partition_by=["session_key"])
    refreshed = records_to_raw_df(
        spark, [{"session_key": 9165, "driver_number": 1, "lap_number": 1,
                 "lap_duration": 91.0}])
    replace_by_key(refreshed, path, key="session_key")
    got = read_table(spark, path)
    assert got.filter(F.col("session_key") == 9165).count() == 1
    assert got.filter(F.col("session_key") == 9200).count() == 1

    # S8: anti-join skip
    loaded = read_table(spark, path).select("session_key")
    cand = records_to_raw_df(
        spark, [{"session_key": 9165}, {"session_key": 9300}])
    remaining = skip_loaded(cand, loaded).collect()
    assert [r["session_key"] for r in remaining] == ["9300"]


def test_merge_upsert_last_write_wins_schema_drift(spark, tmp_path):
    path = str(tmp_path / "merged")
    v1 = records_to_raw_df(
        spark, [{"session_key": 1, "lap_number": 1, "lap_duration": 90.0},
                {"session_key": 1, "lap_number": 2, "lap_duration": 91.0}])
    merge_upsert(spark, v1, path, keys=["session_key", "lap_number"],
                 order=[F.col("loaded_at").desc_nulls_last()],
                 order_cols=["loaded_at"])
    # v2 updates lap 1 and brings a NEW column (S7 drift, non-destructive)
    # — including in the ORDER column itself, which v1 never carried
    v2 = records_to_raw_df(
        spark, [{"session_key": 1, "lap_number": 1, "lap_duration": 89.0,
                 "loaded_at": "2"}])
    merge_upsert(spark, v2, path, keys=["session_key", "lap_number"],
                 order=[F.col("loaded_at").desc_nulls_last()],
                 order_cols=["loaded_at"])
    got = {r["lap_number"]: r for r in read_table(spark, path).collect()}
    assert len(got) == 2
    assert got["1"]["lap_duration"] == "89.0"   # last write won
    assert got["2"]["lap_duration"] == "91.0"   # old row survived drift
    assert got["2"]["loaded_at"] is None        # drift column null-filled
    # the commit must leave exactly the live table behind — no
    # staged/debris dirs outside it and no half-written mix
    assert sorted(p.name for p in tmp_path.iterdir()) == ["merged"]


def test_stream_windowed_agg_matches_batch(spark):
    """Streaming leg (§2.10): append-mode result == batch agg restricted
    to watermark-closed windows."""
    from formula1_data_pipeline_spark.queries import load
    from formula1_data_pipeline_spark.streaming import stream_windowed_agg

    sf_dir = "/root/testdata/sf0.001"
    out = stream_windowed_agg(spark, f"{sf_dir}/events.parquet").collect()

    ev = load(spark, sf_dir, "events")["events"]
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.end").alias("window_end"), "event_type",
                "n_events")
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr(
            "INTERVAL 10 MINUTES"))
    )
    assert len(out) == batch.count() > 0


def test_stateful_first_seen_matches_batch(spark, tmp_path):
    """applyInPandasWithState custom operator: streaming first-seen
    dedup == batch row_number()==1 over the same data."""
    import os
    import pathlib

    from pyspark.sql import Window

    from formula1_data_pipeline_spark.functions.timestamps import (
        normalize_event_ts,
    )
    from formula1_data_pipeline_spark.queries import load
    from formula1_data_pipeline_spark.streaming import (
        scaffold,
        stateful_first_seen,
    )

    sf_dir = "/root/testdata/sf0.001"
    src = tmp_path / "stream_src"
    src.mkdir()
    os.symlink(pathlib.Path(f"{sf_dir}/events.parquet"),
               src / "events.parquet")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(
        spark.readStream.schema(raw_schema).format("parquet").load(str(src))
    )
    deduped = stateful_first_seen(stream)
    got = {
        (r["user_id"], r["event_type"], r["event_id"])
        for r in scaffold.run(deduped, "first_seen", base=tmp_path).collect()
    }

    ev = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    expected = {
        (r["user_id"], r["event_type"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).collect()
    }
    assert got == expected and len(got) > 0


@pytest.mark.parametrize("media_type", ["image/png", "audio/wav"])
def test_multimodal_codec_stub_raises(media_type):
    from formula1_data_pipeline_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", media_type)


def test_stream_merge_upsert_batch_split_invariant(spark):
    """foreachBatch -> merge_upsert converges to the same landed state
    (latest event per user/type) regardless of micro-batch split,
    because the merge priority is intrinsic to the rows."""
    from formula1_data_pipeline_spark.streaming import stream_merge_upsert

    path = "/root/testdata/sf0.001/events.parquet"

    def canon(df):
        return sorted(
            (r.user_id, r.event_type, r.event_id)
            for r in df.select("user_id", "event_type", "event_id").collect()
        )

    one = canon(stream_merge_upsert(spark, path, n_source_files=1))
    four = canon(stream_merge_upsert(spark, path, n_source_files=4))
    assert one == four
    # one row per key, and keys are unique
    keys = {(u, t) for u, t, _ in four}
    assert len(keys) == len(four) > 0


def test_replay_timeout_stops_query_and_raises(spark, monkeypatch):
    """A replay that outlives the timeout must stop its query and
    raise, on the foreachBatch path (merge-upsert) and on the
    memory-sink path (windowed agg) alike — never return a partly
    landed table with the query still writing behind the reader."""
    from formula1_data_pipeline_spark.streaming import (
        confs,
        stream_merge_upsert,
        stream_windowed_agg,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    monkeypatch.setattr(confs, "TIMEOUT_SEC", 0.01)
    for replay in (stream_merge_upsert, stream_windowed_agg):
        with pytest.raises(TimeoutError, match=replay.__name__):
            replay(spark, path)
        assert spark.streams.active == []


def test_records_to_raw_df_restores_arrow_conf(spark):
    """The eager pandas->LocalRelation conversion needs Arrow on, but
    an externally supplied session must get its own conf value back —
    pre-fix the 'true' leaked for the session's remaining lifetime."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        df = records_to_raw_df(spark, LAP_RECORDS)
        assert df.count() > 0
        assert spark.conf.get(key) == "false"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
