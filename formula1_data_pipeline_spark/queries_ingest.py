"""q14 — the ingest write path (S4-S8) under the oracle gate.

Round 1 proved the sink functions by pytest only; this entry puts the
*observable landed state* under the driver's value-hash gate. It runs
the real sinks (``sources.sinks``) against a per-invocation temp
directory, reads the landed parquet back, and emits one probe row per
landed record; the oracle replays the same upsert sequence in ANSI SQL
over the source tables.

Sequence (mirrors reference ``dags/open_f1_historical.py:111-152`` and
``dags/open_f1_realtime.py:108-170``):

1. **S4/S5 append_raw** — two disjoint customer batches land
   append-only, all-string (F12 stringify).
2. **S6 replace_by_key** — full customer load partitioned by
   c_mktsegment, then a reload of the BUILDING segment with adjusted
   balances; the manifest-committed partition replace must replace
   exactly that segment and leave the rest untouched.
3. **S6-alt/S7 merge_upsert** — supplier last-write-wins merge where
   the incoming batch carries a new column (schema drift): old rows
   keep NULL in the drifted column (F16-style tolerance), updated rows
   win by batch priority.
4. **S8 skip_loaded** — candidate keys anti-joined against the step-1
   landed keys.

Determinism: doubles are emitted by casting the landed *string* back to
double — double→string formatting differs across engines (Java vs Ryu
shortest-repr) but the round-trip is exact, so both sides compare the
original double values. Temp dirs live for the session (the returned
DataFrame reads them lazily).
"""

from __future__ import annotations

from formula1_data_pipeline_spark.scratch import scratch_dir

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.queries import load, register


def _probe(df: DataFrame, step: str, key: str, val: str,
           tag: Column) -> DataFrame:
    return df.select(
        F.lit(step).alias("step"),
        F.col(key).cast("long").alias("key"),
        F.col(val).cast("double").alias("val"),
        tag.cast("string").alias("tag"),
    )


@register(
    "q14_ingest_write_path",
    """
    WITH appended AS (
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_custkey % 3 IN (0, 1)
    ), replaced AS (
        SELECT c_custkey,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
               c_mktsegment
        FROM customer
    ), merged AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 5 = 0
                    THEN s_acctbal + 500.0 ELSE s_acctbal END AS s_acctbal,
               CASE WHEN s_suppkey % 5 = 0 THEN 'rt' END AS source_tag
        FROM supplier
    ), skipped AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 2
    )
    SELECT 'append' AS step, c_custkey AS key, c_acctbal AS val,
           CAST(NULL AS VARCHAR) AS tag
    FROM appended
    UNION ALL
    SELECT 'replace', c_custkey, c_acctbal, c_mktsegment FROM replaced
    UNION ALL
    SELECT 'merge', s_suppkey, s_acctbal, source_tag FROM merged
    UNION ALL
    SELECT 'skip', c_custkey, c_acctbal, CAST(NULL AS VARCHAR) FROM skipped
    """,
    doc="Ingest write path under the gate (S4-S8): append_raw x2 -> "
        "replace_by_key full-load + segment reload (manifest-committed "
        "partition replace) -> merge_upsert with schema drift -> skip_loaded "
        "anti-join; landed parquet read back and probed row-by-row, "
        "oracle replays the sequence in SQL",
)
def q14_ingest_write_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.sinks import (
        append_raw,
        merge_upsert,
        replace_by_key,
        skip_loaded,
    )
    from formula1_data_pipeline_spark.sources.txn import read_table

    t = load(spark, sf_dir, "customer", "supplier")
    cust, supp = t["customer"], t["supplier"]
    base = scratch_dir(prefix="q14_ingest_")

    # 1. S4/S5: two disjoint append-only batches into the landing table
    hist = f"{base}/raw_customer"
    append_raw(cust.filter(F.col("c_custkey") % 3 == 0), hist)
    append_raw(cust.filter(F.col("c_custkey") % 3 == 1), hist)
    appended = spark.read.parquet(hist)

    # 2. S6: full load partitioned by segment, then reload one segment
    seg = f"{base}/customer_by_segment"
    replace_by_key(cust, seg, key="c_mktsegment")
    reload_df = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    replace_by_key(reload_df, seg, key="c_mktsegment")
    replaced = read_table(spark, seg)

    # 3. S6-alt/S7: last-write-wins merge; incoming batch drifts schema
    mrg = f"{base}/supplier_merged"
    merge_upsert(
        spark, supp.withColumn("batch", F.lit("1")), mrg,
        keys=["s_suppkey"], order=[F.col("batch").desc()],
    )
    incoming = (
        supp.filter(F.col("s_suppkey") % 5 == 0)
        .withColumn("s_acctbal", F.col("s_acctbal") + 500.0)
        .withColumn("batch", F.lit("2"))
        .withColumn("source_tag", F.lit("rt"))
    )
    merge_upsert(
        spark, incoming, mrg,
        keys=["s_suppkey"], order=[F.col("batch").desc()],
    )
    merged = read_table(spark, mrg)

    # 4. S8: drop candidates whose key already landed in step 1
    candidates = cust.select(
        F.col("c_custkey").cast("string").alias("c_custkey"), "c_acctbal"
    )
    skipped = skip_loaded(candidates, appended, key="c_custkey")

    return (
        _probe(appended, "append", "c_custkey", "c_acctbal", F.lit(None))
        .unionByName(_probe(replaced, "replace", "c_custkey", "c_acctbal",
                            F.col("c_mktsegment")))
        .unionByName(_probe(merged, "merge", "s_suppkey", "s_acctbal",
                            F.col("source_tag")))
        .unionByName(_probe(skipped, "skip", "c_custkey", "c_acctbal",
                            F.lit(None)))
    )


@register(
    "q15_csv_jsonl_roundtrip",
    """
    WITH agg AS (
        SELECT l_returnflag,
               count(*) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_price,
               min(l_shipdate) AS min_ship,
               max(l_shipdate) AS max_ship
        FROM lineitem
        GROUP BY 1
    )
    SELECT 'csv' AS fmt, * FROM agg
    UNION ALL
    SELECT 'jsonl', * FROM agg
    """,
    doc="CSV + JSON-lines source/sink faithfulness: lineitem written "
        "to each format and read back with an explicit schema "
        "(microsecond timestampFormat, shortest-round-trip doubles), "
        "then aggregated; the oracle aggregates the original table — "
        "any value lost or altered by either format breaks the hash",
)
def q15_csv_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.files import (
        read_csv,
        read_jsonl,
        write_csv,
        write_jsonl,
    )

    li = load(spark, sf_dir, "lineitem")["lineitem"]
    base = scratch_dir(prefix="q15_roundtrip_")
    write_csv(li, f"{base}/csv")
    write_jsonl(li, f"{base}/jsonl")

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").alias("sum_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        ).select(F.lit(fmt).alias("fmt"), "*")

    back_csv = read_csv(spark, f"{base}/csv", li.schema)
    back_jsonl = read_jsonl(spark, f"{base}/jsonl", li.schema)
    return agg(back_csv, "csv").unionByName(agg(back_jsonl, "jsonl"))


def _synth_session_window(spark: SparkSession, nation: DataFrame) -> DataFrame:
    """The recorded "sessions" payload shared by q63 and q72, derived
    from nation rows so the oracle can rebuild it: one garbage date
    (F15), some records with meeting_name absent (F16 default), three
    session types (P6) — normalized and window-filtered (P5-P7)."""
    from formula1_data_pipeline_spark.sources.openf1 import (
        normalize_sessions,
        records_to_raw_df,
        session_window_filter,
    )

    nat = nation.select("n_nationkey", "n_name").collect()
    sessions_payload = []
    for r in nat:
        k = r.n_nationkey
        rec: dict[str, object] = {
            "session_key": k,
            "session_name": ("Race", "Qualifying", "Practice")[k % 3],
            "date_end": (
                "not-a-date" if k == 13
                else f"2024-01-{(k % 28) + 1:02d}T12:00:00"
            ),
        }
        if k % 5 != 0:
            rec["meeting_name"] = f"GP {r.n_name}"
        sessions_payload.append(rec)

    sessions = normalize_sessions(records_to_raw_df(spark, sessions_payload))
    return session_window_filter(
        sessions, cutoff="2024-01-03", now="2024-01-20"
    )


@register(
    "q63_rest_ingest_path",
    """
    WITH sess AS (
        SELECT n_nationkey AS k,
               CASE n_nationkey % 3 WHEN 0 THEN 'Race'
                    WHEN 1 THEN 'Qualifying' ELSE 'Practice' END
                   AS session_name,
               CASE WHEN n_nationkey = 13 THEN NULL
                    ELSE CAST('2024-01-'
                         || lpad(CAST((n_nationkey % 28) + 1 AS VARCHAR),
                                 2, '0')
                         || ' 12:00:00' AS TIMESTAMP) END AS date_end,
               CASE WHEN n_nationkey % 5 = 0 THEN 'Unknown GP'
                    ELSE 'GP ' || n_name END AS meeting_name
        FROM nation
    ), filt AS (
        SELECT * FROM sess
        WHERE date_end >= TIMESTAMP '2024-01-03'
          AND date_end <= TIMESTAMP '2024-01-20'
          AND session_name IN ('Race', 'Qualifying')
    ), latest AS (
        SELECT * FROM filt
        ORDER BY (session_name = 'Race') DESC, date_end DESC,
                 CAST(k AS VARCHAR) DESC
        LIMIT 1
    ), sup AS (
        SELECT s_suppkey AS j, s_nationkey FROM supplier
        WHERE s_suppkey <= 20
    )
    SELECT 'sessions' AS step, CAST(k AS VARCHAR) AS key,
           session_name AS s1, meeting_name AS s2,
           CAST(NULL AS VARCHAR) AS s3, CAST(NULL AS DOUBLE) AS d1,
           date_end AS ts1
    FROM filt
    UNION ALL
    SELECT 'latest', CAST(k AS VARCHAR), session_name, meeting_name,
           NULL, NULL, date_end
    FROM latest
    UNION ALL
    SELECT 'laps', CAST(j AS VARCHAR),
           '[' || j || ', ' || s_nationkey || ']',
           (CASE WHEN j % 2 = 0 THEN 'True' ELSE 'False' END)
               || ':' || (SELECT CAST(k AS VARCHAR) FROM latest)
               || ':2024',
           CASE WHEN j % 5 = 0 THEN NULL ELSE 'OK' END,
           CAST(j AS DOUBLE) / 4 + 60.0, NULL
    FROM sup
    UNION ALL
    SELECT 'intervals',
           CASE WHEN j % 7 = 0 THEN NULL ELSE CAST(j AS VARCHAR) END,
           CASE j % 4 WHEN 0 THEN '1' WHEN 1 THEN '2' WHEN 2 THEN NULL
                ELSE CAST(CAST(j AS DOUBLE) / 4 AS VARCHAR) END,
           NULL, NULL, NULL, NULL
    FROM sup
    """,
    doc="REST ingest edge under the gate (S1-S3, F11-F17, O1/O2, "
        "P5-P7): recorded OpenF1-shaped payloads (built from nation/"
        "supplier rows so the oracle can recompute them) run the full "
        "driver-side path — records_to_raw_df (all-string landing + "
        "null-sentinel scrub + nested-JSON encode), normalize_sessions "
        "(F15 try_cast date, F16 meeting-name default), "
        "session_window_filter (P5-P7), select_latest_session (O1/O2 "
        "Race-beats-Qualifying), ingest_session_endpoints (S1 "
        "param-keyed fetch + F17 key injection + F13/F14 intervals "
        "normalization), append_raw landing — then probes the landed "
        "state row-by-row. Closes the last pytest-only core rows",
)
def q63_rest_ingest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.sources.openf1 import (
        RecordedClient,
        ingest_session_endpoints,
        select_latest_session,
    )
    from formula1_data_pipeline_spark.sources.sinks import append_raw

    t = load(spark, sf_dir, "nation", "supplier")
    sup = (
        t["supplier"].filter(F.col("s_suppkey") <= 20)
        .select("s_suppkey", "s_nationkey").collect()
    )

    filt = _synth_session_window(spark, t["nation"])
    latest = select_latest_session(filt)
    chosen = latest.select("session_key").collect()[0][0]
    skey = int(chosen)

    # --- per-session endpoint payloads for the chosen session, keyed
    # by querystring (S1 param passing); supplier-derived so the
    # oracle replays them. laps exercises F11 (nested list -> JSON),
    # F12 (bool str), F10 (sentinel scrub); intervals exercises F13
    # (int-or-null driver number) and F14 (lap-gap parse).
    laps_recs: list[dict] = []
    intervals_recs: list[dict] = []
    for r in sup:
        j = r.s_suppkey
        laps_recs.append({
            "driver_number": j,
            "lap_duration": j / 4 + 60.0,
            "is_pit_out_lap": j % 2 == 0,
            "segments_sector_1": [j, r.s_nationkey],
            "status": "None" if j % 5 == 0 else "OK",
        })
        intervals_recs.append({
            "driver_number": "x" if j % 7 == 0 else f"{j}.0",
            "gap_to_leader": (
                "+1 LAP" if j % 4 == 0
                else "2 LAPS" if j % 4 == 1
                else "None" if j % 4 == 2
                else str(j / 4)
            ),
        })
    client = RecordedClient({
        f"laps?session_key={skey}": laps_recs,
        f"intervals?session_key={skey}": intervals_recs,
        # position / race_control: no recordings -> empty fetch -> the
        # S3 empty-payload short-circuit omits them
    })
    raw = ingest_session_endpoints(
        spark, client, session_key=skey, year=2024
    )

    base = scratch_dir(prefix="q63_rest_")
    append_raw(raw["laps"], f"{base}/raw_laps")
    append_raw(raw["intervals"], f"{base}/raw_intervals")
    laps = spark.read.parquet(f"{base}/raw_laps")
    intervals = spark.read.parquet(f"{base}/raw_intervals")

    def probe(df, step, key, s1, s2, s3, d1, ts1):
        return df.select(
            F.lit(step).alias("step"), key.alias("key"),
            s1.alias("s1"), s2.alias("s2"), s3.alias("s3"),
            d1.cast("double").alias("d1"),
            ts1.cast("timestamp").alias("ts1"),
        )

    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_t = F.lit(None).cast("timestamp")
    return (
        probe(filt, "sessions", F.col("session_key"),
              F.col("session_name"), F.col("meeting_name"), null_s,
              null_d, F.col("date_end"))
        .unionByName(probe(
            latest, "latest", F.col("session_key"),
            F.col("session_name"), F.col("meeting_name"), null_s,
            null_d, F.col("date_end")))
        .unionByName(probe(
            laps, "laps", F.col("driver_number"),
            F.col("segments_sector_1"),
            F.concat_ws(":", F.col("is_pit_out_lap"),
                        F.col("session_key"), F.col("year")),
            F.col("status"), F.col("lap_duration"), null_t))
        .unionByName(probe(
            intervals, "intervals", F.col("driver_number"),
            F.col("gap_to_leader"), null_s, null_s, null_d, null_t))
    )


@register(
    "q72_session_chronology",
    """
    WITH sess AS (
        SELECT n_nationkey AS k,
               CASE n_nationkey % 3 WHEN 0 THEN 'Race'
                    WHEN 1 THEN 'Qualifying' ELSE 'Practice' END
                   AS session_name,
               CASE WHEN n_nationkey = 13 THEN NULL
                    ELSE CAST('2024-01-'
                         || lpad(CAST((n_nationkey % 28) + 1 AS VARCHAR),
                                 2, '0')
                         || ' 12:00:00' AS TIMESTAMP) END AS date_end
        FROM nation
    ), filt AS (
        SELECT * FROM sess
        WHERE date_end >= TIMESTAMP '2024-01-03'
          AND date_end <= TIMESTAMP '2024-01-20'
          AND session_name IN ('Race', 'Qualifying')
    )
    SELECT CAST(k AS VARCHAR) AS session_key, session_name, date_end,
           CAST(row_number() OVER (
               ORDER BY date_end, CAST(k AS VARCHAR)
           ) AS INT) AS chrono_rank
    FROM filt
    """,
    doc="O3 chronological session ordering under the gate (ref "
        "dags/open_f1_historical.py processes the windowed session "
        "catalog oldest-first): the q63 session window ranked by "
        "(date_end, session_key). The catalog is metadata-sized (P5-P7 "
        "filtered), so the total-order window is bounded by sessions "
        "per load window, never data volume — closes the last "
        "pytest-only O-row",
)
def q72_session_chronology(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    filt = _synth_session_window(
        spark, load(spark, sf_dir, "nation")["nation"]
    )
    w = Window.orderBy("date_end", "session_key")
    return filt.select(
        "session_key", "session_name", "date_end",
        F.row_number().over(w).cast("int").alias("chrono_rank"),
    )


def _q75_sql() -> str:
    from formula1_data_pipeline_spark.operators.diff import (
        content_hash_sql,
    )

    h = content_hash_sql(["n_chars", "source", "text"])
    return f"""
    WITH sup AS (
        SELECT s_suppkey, s_acctbal FROM supplier WHERE s_suppkey <= 30
    ), v1 AS (
        SELECT s_suppkey, s_acctbal FROM sup
    ), v2 AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
                    ELSE s_acctbal END AS s_acctbal
        FROM sup
    ), m AS (
        SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS half FROM orders
    ), dold AS (
        SELECT doc_id, {h} AS old_hash FROM documents
    ), dnew_side AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN n_chars + 1
                    ELSE n_chars END AS n_chars,
               source, text
        FROM documents WHERE doc_id % 11 <> 0
    ), dnewh AS (
        SELECT doc_id, {h} AS new_hash FROM dnew_side
    ), dj AS (
        SELECT doc_id, old_hash, new_hash
        FROM dold FULL OUTER JOIN dnewh USING (doc_id)
    )
    SELECT 'travel' AS kind, CAST(s_suppkey AS VARCHAR) AS key,
           CAST(1 AS BIGINT) AS ver, s_acctbal AS val,
           CAST(NULL AS VARCHAR) AS status,
           CAST(NULL AS VARCHAR) AS old_hash,
           CAST(NULL AS VARCHAR) AS new_hash
    FROM v1
    UNION ALL
    SELECT 'travel', CAST(s_suppkey AS VARCHAR), 2, s_acctbal,
           NULL, NULL, NULL
    FROM v2
    UNION ALL
    SELECT 'del_after', CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS BIGINT),
           CAST(o_totalprice AS DOUBLE), NULL, NULL, NULL
    FROM orders, m
    WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey <= m.half)
    UNION ALL
    SELECT 'del_before', 'snapshot', CAST(count(*) AS BIGINT),
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
           NULL, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'diff', CAST(doc_id AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE),
           CASE WHEN old_hash IS NULL THEN 'added'
                WHEN new_hash IS NULL THEN 'removed'
                WHEN old_hash <> new_hash THEN 'changed'
           END,
           old_hash, new_hash
    FROM dj WHERE (old_hash IS NULL OR new_hash IS NULL
                   OR old_hash <> new_hash)
    """


@register(
    "q75_time_travel",
    _q75_sql(),
    doc="Manifest-table versioned-read surface, four legs under one "
        "(kind, key, ver, val, status, old_hash, new_hash) shape. "
        "kind='travel': two merge_upsert commits build versions 1 "
        "and 2 of a landed table; read_table(version=1) must still "
        "serve the pre-merge state byte-exactly AFTER version 2 is "
        "live (immutable data dirs + pinned manifest — the property "
        "object-store readers rely on for consistent scans), while "
        "the default read serves version 2 (sources/txn.py; the r4 "
        "transactional-commit protocol). "
        "kind='del_after'/'del_before' (round 12, txn_delete_keys): "
        "the right-to-be-forgotten path — delete keys concentrated "
        "in the LOW o_orderkey half rewrite ONLY the segments whose "
        "[min,max] key stats can intersect the delete set (the "
        "untouched high segment must carry into the new manifest BY "
        "REFERENCE — asserted in-query on segment dirs; at 100 TB "
        "this is rewriting a handful of segments, not the table), "
        "del_after pins the surviving rows against the plain "
        "anti-join oracle, and del_before proves the PRE-delete "
        "version still reads complete (vacuum, not delete, is what "
        "destroys rows — the retention clock). "
        "kind='diff' (round 12, operators/diff.py::dataset_diff): "
        "the readable face of time travel — added/removed/changed "
        "between the corpus and a deterministic mutation (doc_id%11 "
        "removed, %7 changed) via ONE null-safe hash-compare full "
        "outer join; output is |changes|-sized, never corpus-sized",
)
def q75_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.diff import dataset_diff
    from formula1_data_pipeline_spark.sources import txn
    from formula1_data_pipeline_spark.sources.sinks import merge_upsert
    from formula1_data_pipeline_spark.sources.txn import read_table

    sup = (
        load(spark, sf_dir, "supplier")["supplier"]
        .filter(F.col("s_suppkey") <= 30)
        .select("s_suppkey", "s_acctbal")
    )
    path = scratch_dir(prefix="q75_travel_") + "/t"
    merge_upsert(spark, sup, path, keys=["s_suppkey"],
                 order=[F.col("s_acctbal").desc_nulls_last()])
    update = sup.filter(F.col("s_suppkey") % 3 == 0).withColumn(
        "s_acctbal", F.col("s_acctbal") + 100.0
    ).withColumn("batch", F.lit("2"))
    merge_upsert(spark, update, path, keys=["s_suppkey"],
                 order=[F.col("batch").desc_nulls_last()],
                 order_cols=["batch"])

    nul_s = F.lit(None).cast("string")

    def probe(df: DataFrame, version: int) -> DataFrame:
        return df.select(
            F.lit("travel").alias("kind"),
            F.col("s_suppkey").alias("key"),
            F.lit(version).cast("bigint").alias("ver"),
            F.col("s_acctbal").cast("double").alias("val"),
            nul_s.alias("status"),
            nul_s.alias("old_hash"),
            nul_s.alias("new_hash"),
        )

    travel = probe(read_table(spark, path, version=1), 1).unionByName(
        probe(read_table(spark, path), 2)
    )

    # targeted-delete legs: two stats-carrying commits, delete keys
    # concentrated in the low half, stats-pruned segment rewrite
    orders = load(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    half = mx // 2
    dpath = scratch_dir(prefix="q75_delete_") + "/t"
    txn.txn_append(spark, orders.filter(F.col("o_orderkey") <= half),
                   dpath, stats_cols=["o_orderkey"],
                   compact_threshold=None)
    txn.txn_append(spark, orders.filter(F.col("o_orderkey") > half),
                   dpath, compact_threshold=None)
    keys = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") <= half)
    ).select("o_orderkey")
    before = [s["dir"] for s in txn._read_manifest(
        spark, dpath, txn.current_version(spark, dpath))["segments"]]
    v = txn.txn_delete_keys(spark, keys, dpath, "o_orderkey")
    after = [s["dir"] for s in txn._read_manifest(
        spark, dpath, v)["segments"]]
    if before[1] not in after or before[0] in after:
        raise AssertionError(
            "txn_delete_keys did not prune the rewrite to the "
            "intersecting segment — stats-pruned delete regressed"
        )
    del_after = read_table(spark, dpath).select(
        F.lit("del_after").alias("kind"),
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_custkey").cast("bigint").alias("ver"),
        F.col("o_totalprice").cast("double").alias("val"),
        nul_s.alias("status"),
        nul_s.alias("old_hash"),
        nul_s.alias("new_hash"),
    )
    del_before = read_table(spark, dpath, version=v - 1).agg(
        F.count("*").cast("bigint").alias("ver"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double").alias("val"),
    ).select(
        F.lit("del_before").alias("kind"),
        F.lit("snapshot").alias("key"),
        "ver", "val",
        nul_s.alias("status"),
        nul_s.alias("old_hash"),
        nul_s.alias("new_hash"),
    )

    # diff leg: the corpus vs a deterministic mutation
    docs = load(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "source", "text", "n_chars"
    )
    new = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 1)
            .otherwise(F.col("n_chars")),
        )
    )
    diff = dataset_diff(docs, new, ["doc_id"]).select(
        F.lit("diff").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("bigint").alias("ver"),
        F.lit(None).cast("double").alias("val"),
        "status",
        "old_hash",
        "new_hash",
    )
    return (travel.unionByName(del_after).unionByName(del_before)
            .unionByName(diff))


def _morton_terms_duck(ca: str, cb: str, bits: int) -> str:
    """DuckDB twin of operators/zorder.py::morton_sql for two
    columns: bit i of column j lands at i*2 + j. Every term fully
    parenthesized — DuckDB (PostgreSQL precedence) binds ``+``
    TIGHTER than ``<<``, so an unwrapped ``a << 5 + b << 7`` parses
    as ``a << (5 + (b << 7))`` and overflows (round-10 lesson)."""
    return " + ".join(
        f"(((({c}) >> {i}) & 1) << {i * 2 + j})"
        for i in range(bits) for j, c in enumerate((ca, cb))
    )


_Z_BITS, _Z_NF = 16, 8

#: DuckDB replay of zorder_assignment over orders (o_orderkey,
#: o_custkey): exact HUGEINT min-max scaling quotients, the Morton
#: interleave, and the equal-count cut by exact rank
_Z_ASSIGN_SQL = f"""
        SELECT id, zvalue,
               CAST(CAST(rnk AS HUGEINT) * {_Z_NF} // n AS BIGINT)
                   AS file_id
        FROM (
            SELECT id, zvalue,
                   row_number() OVER (ORDER BY zvalue, id) - 1 AS rnk,
                   count(*) OVER () AS n
            FROM (
                SELECT id,
                       {_morton_terms_duck("sx", "sy", _Z_BITS)}
                           AS zvalue
                FROM (
                    SELECT o_orderkey AS id,
                           CAST(CAST(o_orderkey - mnx AS HUGEINT)
                                * {(1 << _Z_BITS) - 1}
                                // CAST(greatest(1, mxx - mnx)
                                        AS HUGEINT) AS BIGINT) AS sx,
                           CAST(CAST(o_custkey - mny AS HUGEINT)
                                * {(1 << _Z_BITS) - 1}
                                // CAST(greatest(1, mxy - mny)
                                        AS HUGEINT) AS BIGINT) AS sy
                    FROM orders, (
                        SELECT min(o_orderkey) AS mnx,
                               max(o_orderkey) AS mxx,
                               min(o_custkey)  AS mny,
                               max(o_custkey)  AS mxy
                        FROM orders
                    ) m
                ) s
            ) z
        ) r
"""


@register(
    "q82_stats_pruned_read",
    f"""
    WITH b AS (
        SELECT CAST(floor(max(o_orderkey) * 3.0 / 4.0) AS BIGINT) AS lo,
               CAST(floor(max(o_custkey) / 4.0) AS BIGINT) AS chi
        FROM orders
    )
    SELECT 'stats' AS kind, o.o_orderstatus AS key,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price
    FROM orders o, b
    WHERE o.o_orderkey >= b.lo
    GROUP BY 1, 2
    UNION ALL
    SELECT 'zorder', CAST(file_id AS VARCHAR), count(*),
           CAST(sum(zvalue) AS DOUBLE)
    FROM ({_Z_ASSIGN_SQL}) za
    GROUP BY 1, 2
    UNION ALL
    SELECT 'zprune_okey', 'box', count(*),
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders o, b
    WHERE o.o_orderkey >= b.lo
    UNION ALL
    SELECT 'zprune_ckey', 'box', count(*),
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders o, b
    WHERE o.o_custkey <= b.chi
    """,
    doc="Manifest-level data skipping under the gate (sources/txn.py "
        "stats). kind='stats': orders lands in two txn commits "
        "(low/high o_orderkey halves) with per-segment min/max "
        "stats; read_table(prune={o_orderkey: (3/4*max, inf)}) must "
        "plan strictly fewer input files than the full read "
        "(asserted in-query — the low half's segments are skipped "
        "from the manifest alone, before Spark lists a file), and "
        "the pruned scan + real filter must agree with the oracle's "
        "plain WHERE over the source table (superset contract: "
        "pruning drops only segments that cannot match). "
        "kind='zorder' (round 12, operators/zorder.py): the Morton "
        "multi-column layout — orders interleaved on (o_orderkey, "
        "o_custkey) at 16 bits, cut into 8 equal-count z-runs; the "
        "per-file (count, sum(zvalue)) rows pin the scaling "
        "quotients, the interleave, and the exact-rank cut "
        "bit-for-bit (all integer math, no RNG/libm). "
        "kind='zprune_okey'/'zprune_ckey': the layout's POINT — "
        "after zorder_land, a box prune on EITHER interleaved "
        "column must plan strictly fewer input files than the full "
        "landed read (both asserted in-query; a single-column sort "
        "leaves the second column's ranges useless), and each "
        "pruned+filtered aggregate must equal the oracle's plain "
        "WHERE over the source",
)
def q82_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.zorder import (
        zorder_assignment,
        zorder_land,
    )
    from formula1_data_pipeline_spark.sources.txn import (
        read_table,
        txn_append,
    )

    orders = load(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    agg = orders.agg(
        F.max("o_orderkey").alias("mx"), F.max("o_custkey").alias("mc")
    ).collect()[0]
    mx, lo, half = agg["mx"], agg["mx"] * 3 // 4, agg["mx"] // 2
    chi = agg["mc"] // 4
    from formula1_data_pipeline_spark.concurrency import overlap

    price_sum = (F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                 .cast("double").alias("total_price"))

    def stats_build():
        path = scratch_dir(prefix="q82_stats_") + "/t"
        txn_append(spark, orders.drop("o_custkey")
                   .filter(F.col("o_orderkey") <= half), path,
                   key="o_orderstatus", stats_cols=["o_orderkey"],
                   compact_threshold=None)
        # second commit inherits the table's recorded stats columns
        txn_append(spark, orders.drop("o_custkey")
                   .filter(F.col("o_orderkey") > half), path,
                   key="o_orderstatus", compact_threshold=None)
        full = read_table(spark, path)
        pruned = read_table(spark, path,
                            prune={"o_orderkey": (lo, None)})
        if not len(pruned.inputFiles()) < len(full.inputFiles()):
            raise AssertionError(
                "manifest stats pruned no segments — data skipping "
                "regressed"
            )
        return pruned

    def zorder_build():
        # z-order leg: land the same orders as 8 Morton-ordered
        # segments with stats on BOTH interleaved columns, assert a
        # box on EITHER column prunes files, and pin the layout
        # function itself
        zpath = scratch_dir(prefix="q82_zorder_") + "/z"
        zorder_land(spark, orders, ["o_orderkey", "o_custkey"], _Z_NF,
                    zpath, "o_orderkey", bits=_Z_BITS)
        zfull = read_table(spark, zpath)
        n_all = len(zfull.inputFiles())
        z_ok = read_table(spark, zpath,
                          prune={"o_orderkey": (lo, None)})
        z_ck = read_table(spark, zpath,
                          prune={"o_custkey": (None, chi)})
        if not (len(z_ok.inputFiles()) < n_all
                and len(z_ck.inputFiles()) < n_all):
            raise AssertionError(
                "z-order layout pruned no segments on one of the "
                "interleaved columns — multi-column skipping regressed"
            )
        return z_ok, z_ck

    # the two landed layouts are disjoint scratch tables built from
    # the same source frame — overlap their write/commit chains
    # (guide §2.6; r14 optimization)
    pruned, (z_ok, z_ck) = overlap(spark, [
        ("q82: stats-pruned table", stats_build),
        ("q82: z-ordered table", zorder_build),
    ])
    zcols = ["o_orderkey", "o_custkey"]
    stats_leg = (
        pruned.filter(F.col("o_orderkey") >= lo)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), price_sum)
        .select(F.lit("stats").alias("kind"),
                F.col("o_orderstatus").alias("key"),
                "n_orders", "total_price")
    )
    za = zorder_assignment(orders, zcols, _Z_NF, "o_orderkey",
                           bits=_Z_BITS)
    z_leg = (
        za.groupBy("file_id")
        .agg(F.count("*").alias("n_orders"),
             F.sum("zvalue").cast("double").alias("total_price"))
        .select(F.lit("zorder").alias("kind"),
                F.col("file_id").cast("string").alias("key"),
                "n_orders", "total_price")
    )
    zp_ok = (
        z_ok.filter(F.col("o_orderkey") >= lo)
        .agg(F.count("*").alias("n_orders"), price_sum)
        .select(F.lit("zprune_okey").alias("kind"),
                F.lit("box").alias("key"), "n_orders", "total_price")
    )
    zp_ck = (
        z_ck.filter(F.col("o_custkey") <= chi)
        .agg(F.count("*").alias("n_orders"), price_sum)
        .select(F.lit("zprune_ckey").alias("kind"),
                F.lit("box").alias("key"), "n_orders", "total_price")
    )
    return (stats_leg.unionByName(z_leg)
            .unionByName(zp_ok).unionByName(zp_ck))


@register(
    "q77_bucketed_join",
    """
    SELECT o.o_custkey,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_spend,
           max(c.c_mktsegment) AS c_mktsegment
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    doc="Bucketed-layout join under the gate: orders and customer are "
        "written as co-bucketed managed tables (bucketBy+sortBy on the "
        "join key — the write-time shuffle), then joined and "
        "aggregated; the physical plan has NO Exchange on either join "
        "side (asserted in-query, the test_bucketing invariant), so "
        "the values prove the co-located read path end-to-end. At "
        "100 TB this is the layout for the session-grain joins "
        "(SURVEY §4: the reference declared no clustering keys; our "
        "choice)",
)
def q77_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from formula1_data_pipeline_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    t = load(spark, sf_dir, "orders", "customer")
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"q77_orders_{tag}", f"q77_customer_{tag}"
    write_bucketed(t["orders"].select("o_custkey", "o_totalprice"),
                   lt, ["o_custkey"], n_buckets=16)
    write_bucketed(t["customer"].select("c_custkey", "c_mktsegment")
                   .withColumnRenamed("c_custkey", "o_custkey"),
                   rt, ["o_custkey"], n_buckets=16)
    # pin the co-located sort-merge path (a broadcast of the small sf
    # dim would also be shuffle-free but wouldn't prove the bucketed
    # layout); restore the conf so other queries keep broadcasting
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, lt, rt, on=["o_custkey"])
        # the whole point is the shuffle-free join — enforce it here so
        # a bucketing regression fails the gate, not just a plan test
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError("bucketed join plan contains an Exchange")
        out = (
            joined.groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double").alias("total_spend"),
                F.max("c_mktsegment").alias("c_mktsegment"),
            )
            # the gate materializes lazily after this function returns —
            # the plan must not depend on the scoped conf, so force the
            # join result now via localCheckpoint (tiny: one row per
            # customer at gate scale)
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for tbl in (lt, rt):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return out
