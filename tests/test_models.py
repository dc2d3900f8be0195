"""Semantic tests of the 15-model chain against the reference's
documented behavior (SURVEY.md §2, FIXTURES.md §A.6 scenarios)."""

from __future__ import annotations

from pyspark.sql import functions as F

from formula1_data_pipeline_spark.plans.assertions import run_assertions


def test_staging_drops_null_grain(built_models):
    stg = built_models["stg_openf1_laps_historical"]
    assert stg.filter(
        F.col("meeting_key").isNull() | F.col("session_key").isNull()
    ).count() == 0
    # lap 99/98 rows (null-key dirt) must be gone
    assert stg.filter(F.col("lap_number").isin(98, 99)).count() == 0


def test_staging_types(built_models):
    stg = built_models["stg_openf1_laps_historical"]
    types = dict(stg.dtypes)
    assert types["meeting_key"] == "int"
    assert types["lap_time"] == "double"
    assert types["lap_start_time"] == "timestamp"
    assert types["is_pit_out_lap"] == "boolean"
    assert types["segments_sector_1"] == "string"  # JSON kept untyped


def test_realtime_staging_dedups_latest(built_models):
    stg = built_models["stg_openf1_laps_realtime"]
    rows = stg.filter(
        (F.col("driver_number") == 44) & (F.col("lap_number") == 10)
    ).collect()
    assert len(rows) == 1
    # dup=1 has the later date_start and lap_duration 86.000
    assert rows[0]["lap_time"] == 86.0


def test_union_dedup_realtime_wins(built_models):
    alll = built_models["int_openf1_laps_all"]
    rows = alll.filter(
        (F.col("session_key") == 9165)
        & (F.col("driver_number") == 44)
        & (F.col("lap_number") == 10)
    ).collect()
    assert len(rows) == 1
    assert rows[0]["is_realtime"] is True
    assert rows[0]["lap_time"] == 86.0
    # non-overlapping laps stay historical
    hist = alll.filter(
        (F.col("driver_number") == 44) & (F.col("lap_number") == 1)
    ).first()
    assert hist["is_realtime"] is False


def test_asof_join_null_preservation(built_models):
    sdl = built_models["int_session_driver_laps"]
    # driver 16 has no position events at all -> rows retained, NULL position
    d16 = sdl.filter(F.col("driver_number") == 16)
    assert d16.count() == 12
    assert d16.filter(F.col("race_position").isNotNull()).count() == 0
    # driver 44 lap 1: only position sample is AFTER lap start -> NULL
    r = sdl.filter(
        (F.col("driver_number") == 44) & (F.col("lap_number") == 1)
        & (F.col("session_key") == 9165)
    ).first()
    assert r["race_position"] is None
    # later laps have a position
    r5 = sdl.filter(
        (F.col("driver_number") == 44) & (F.col("lap_number") == 5)
        & (F.col("session_key") == 9165)
    ).first()
    assert r5["race_position"] is not None
    assert r5["position_timestamp"] <= r5["lap_start_time"]


def test_asof_strategies_agree(built_models, spark):
    from formula1_data_pipeline_spark.operators.asof import asof_join

    laps = built_models["int_openf1_laps_all"].select(
        "meeting_key", "session_key", "driver_number", "lap_number",
        "lap_start_time",
    )
    pos = built_models["int_openf1_position_all"].select(
        "meeting_key", "session_key", "driver_number",
        "event_timestamp", "race_position",
    )
    kw = dict(on=["meeting_key", "session_key", "driver_number"],
              left_ts="lap_start_time", right_ts="event_timestamp",
              payload=["race_position"])
    a = asof_join(laps, pos, strategy="sorted", **kw)
    b = asof_join(laps, pos, strategy="reference", **kw)
    key = ["meeting_key", "session_key", "driver_number", "lap_number"]
    diff = a.select(*key, "race_position", "event_timestamp_asof").exceptAll(
        b.select(*key, "race_position", "event_timestamp_asof")
    )
    assert diff.count() == 0
    assert a.count() == b.count() == laps.count()


def test_asof_strategies_agree_on_null_right_ts(spark):
    """A right row with a NULL timestamp can never match the reference
    predicate (r.ts <= l.ts is NULL); the sorted strategy must not
    forward-fill its payload either (ADVICE r1: asc_nulls_first sorted
    it first, so pos=99 leaked into every left row)."""
    from formula1_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10.0), (1, 20.0)], "k int, lts double"
    )
    right = spark.createDataFrame(
        [(1, None, 99), (1, 15.0, 7)], "k int, rts double, pos int"
    )
    kw = dict(on=["k"], left_ts="lts", right_ts="rts", payload=["pos"])
    a = asof_join(left, right, strategy="sorted", **kw)
    b = asof_join(left, right, strategy="reference", **kw)
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b == {(1, 10.0, None, None), (1, 20.0, 15.0, 7)}


def test_features_window_semantics(built_models):
    feats = built_models["int_driver_lap_features"]
    one = feats.filter(
        (F.col("session_key") == 9165) & (F.col("driver_number") == 44)
    ).orderBy("lap_number").collect()
    # lag/lead
    assert one[0]["prev_lap_time"] is None
    assert one[1]["prev_lap_time"] == one[0]["lap_time"]
    assert one[0]["next_lap_time"] == one[1]["lap_time"]
    # rolling avg over first row == own lap_time
    assert abs(one[0]["rolling_avg_5_laps"] - one[0]["lap_time"]) < 1e-9
    # stddev_samp with n=1 -> NULL (Snowflake parity)
    assert one[0]["rolling_stddev_5_laps"] is None
    # best lap over partition
    best = min(r["lap_time"] for r in one)
    assert all(r["best_lap_time_driver"] == best for r in one)
    # count distinct over session == 6 drivers in 9165
    assert one[0]["driver_count_in_session"] == 6


def test_single_lap_driver_and_zero_lap_guard(built_models):
    feats = built_models["int_driver_lap_features"]
    solo = feats.filter(F.col("session_key") == 9300).collect()
    assert len(solo) == 1
    assert solo[0]["driver_count_in_session"] == 1
    assert solo[0]["rolling_stddev_5_laps"] is None  # stddev_samp n=1
    assert solo[0]["pace_momentum"] is None  # no prev lap
    # zero lap_time: nullif guard -> pace component coalesces to 0
    zero = feats.filter(
        (F.col("driver_number") == 55) & (F.col("lap_number") == 3)
        & (F.col("session_key") == 9165)
    ).first()
    assert zero["lap_time"] == 0.0
    assert zero["performance_score_raw"] is not None


def test_labels(built_models):
    feats = built_models["int_driver_lap_features"]
    labels = feats.select("pace_state", "tyre_state", "performance_rating",
                          "track_position_state").distinct().collect()
    valid_pace = {"ATTACKING_PACE", "HIGH_TYRE_DEGRADATION",
                  "HIGHLY_CONSISTENT_PACE", "BASELINE_RACE_PACE"}
    assert {r["pace_state"] for r in labels} <= valid_pace
    ratings = {r["performance_rating"] for r in labels}
    assert ratings <= {"Excellent", "Good", "Average", "Poor"}


def test_race_summary(built_models):
    summ = built_models["fct_driver_race_summary"]
    r = summ.filter(
        (F.col("session_key") == 9165) & (F.col("driver_number") == 44)
    ).first()
    assert r["first_lap"] == 1 and r["last_lap"] == 12
    assert r["pit_stop_count"] == 1  # lap 1 pit-out only
    assert r["best_lap_time"] <= r["avg_lap_time"]


def test_final_f1_detail_plus_summary(built_models):
    final = built_models["final_f1"]
    feats = built_models["int_driver_lap_features"]
    assert final.count() == feats.count()
    r = final.filter(
        (F.col("session_key") == 9165) & (F.col("driver_number") == 44)
        & (F.col("lap_number") == 12)
    ).first()
    assert r["first_lap"] == 1 and r["last_lap"] == 12
    assert r["avg_lap_time"] is not None


def test_race_control_chain(built_models):
    rc = built_models["int_openf1_race_control_all"]
    # dropped null-session row gone; dup message deduped with rt winning
    assert rc.filter(F.col("message") == "DROPPED ROW").count() == 0
    sc = rc.filter(F.col("message") == "SAFETY CAR DEPLOYED").collect()
    assert len(sc) == 1 and sc[0]["is_realtime"] is True
    # sector dirty strings cleaned
    blue = rc.filter(F.col("message") == "BLUE FLAG FOR CAR 44").first()
    assert blue["sector"] is None
    yellow = rc.filter(F.col("message").startswith("YELLOW")).first()
    assert yellow["sector"] == 7.0
    assert yellow["driver_number"] is None  # 'None' -> NULL


def test_assertions_pass(built_models):
    failures = run_assertions(built_models)
    assert failures == [], failures


def test_assertions_report_matches_run_assertions(spark):
    """The one-job assertions_report must agree with the per-check
    run_assertions on both a clean chain and a corrupted one."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.plans.assertions import (
        assertions_report,
        run_assertions,
    )
    from formula1_data_pipeline_spark.plans.models import REGISTRY
    from tests.fixtures_openf1 import build_raw_tables

    built = REGISTRY.run(spark, build_raw_tables(spark))
    report = {(r["model"], r["kind"]): r["passed"]
              for r in assertions_report(built).collect()}
    failures = {(f.model, f.kind) for f in run_assertions(built)}
    assert all(report.values()) and not failures

    # corrupt one model: null out a tested column and duplicate grain
    bad = dict(built)
    bad["int_openf1_laps_all"] = (
        built["int_openf1_laps_all"]
        .withColumn("driver_number", F.lit(None).cast("int"))
    )
    report_bad = {(r["model"], r["kind"]): r["passed"]
                  for r in assertions_report(bad).collect()}
    failures_bad = {(f.model, f.kind) for f in run_assertions(bad)}
    assert report_bad[("int_openf1_laps_all", "not_null")] is False
    assert ("int_openf1_laps_all", "not_null") in failures_bad
    # agreement on every (model, kind)
    for key, passed in report_bad.items():
        assert passed == (key not in failures_bad), key


def test_incremental_model_converges_to_full_rebuild(spark, tmp_path):
    """materialized='incremental' (r4): two overlapping windowed loads
    through txn_replace equal the one-shot full build, and reloading a
    window is idempotent (delete+insert strategy)."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.plans.registry import ModelRegistry

    inc = ModelRegistry()

    @inc.register("agg_inc", sources=("src",), materialized="incremental",
                  incremental_key="part")
    def agg_inc(deps):
        return deps["src"].groupBy("part", "k").agg(
            F.sum("v").alias("total")
        )

    full = spark.createDataFrame(
        [("p1", "a", 1), ("p1", "a", 2), ("p2", "b", 5), ("p3", "c", 7)],
        "part string, k string, v long",
    )
    target = str(tmp_path)
    for window in (["p1", "p2"], ["p2", "p3"], ["p3"]):  # p2, p3 reloaded
        out = inc.run(
            spark, {"src": full.filter(F.col("part").isin(window))},
            materialize_to=target,
        )["agg_inc"]
    got = {(r["part"], r["k"]): r["total"] for r in out.collect()}
    assert got == {("p1", "a"): 3, ("p2", "b"): 5, ("p3", "c"): 7}

    # without materialize_to the model stays lazy (test mode)
    lazy = inc.run(spark, {"src": full})["agg_inc"]
    assert {(r["part"], r["k"]): r["total"] for r in lazy.collect()} == got


def test_table_marts_partitioned_by_season_with_pruned_reads(
        spark, tmp_path):
    """SURVEY §4 partitioning choice + round-6 txn routing:
    season_year-bearing table marts materialize season-partitioned
    THROUGH the manifest protocol (atomic publish: a reader never sees
    a half-rebuilt mart), a season-filtered read-back prunes to one
    partition (PartitionFilters in the scan, not a full-table scan), a
    season-bounded ``read_table(prune=...)`` drops the other seasons'
    segments from the scan entirely (fewer input files), and the
    read-back schema/values equal the lazy build's (read-back must not
    reorder or retype columns) — for the unpartitioned
    fct_driver_race_summary mart too."""
    from formula1_data_pipeline_spark.plans.models import REGISTRY
    from formula1_data_pipeline_spark.sources.txn import (
        is_txn_table,
        read_table,
    )
    from tests.fixtures_openf1 import build_raw_tables

    raw = build_raw_tables(spark)
    lazy = REGISTRY.run(spark, raw)
    mat = REGISTRY.run(spark, raw, materialize_to=str(tmp_path))

    for name in ("final_f1", "fct_driver_laps", "fct_driver_race_summary"):
        assert is_txn_table(spark, str(tmp_path / name)), name
        if name != "fct_driver_race_summary":
            years = sorted({
                d.name for staged in (tmp_path / name).glob("d-*")
                for d in staged.iterdir()
                if d.name.startswith("season_year=")
            })
            assert years, f"{name} not season-partitioned: {years}"
        assert lazy[name].columns == mat[name].columns
        assert dict(lazy[name].dtypes) == dict(mat[name].dtypes), name
        a = sorted(map(tuple, lazy[name].na.fill(0).collect()))
        b = sorted(map(tuple, mat[name].na.fill(0).collect()))
        assert a == b, f"{name} changed through partitioned storage"

    year = years[0].split("=")[1]
    mart = str(tmp_path / "final_f1")
    scan = read_table(spark, mart).filter(F.col("season_year") == year)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "season_year" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0], plan
    # manifest-level data skipping: land NEXT season's rows the way
    # production does (a season-keyed txn_replace onto the same mart),
    # then a season-bounded read must list only that season's segments
    # — fewer files before any filter runs
    from formula1_data_pipeline_spark.sources.txn import txn_replace

    nxt = str(int(year) + 1)
    txn_replace(
        spark,
        mat["final_f1"].withColumn(
            "season_year", F.lit(int(nxt)).cast("int")),
        mart, key="season_year",
    )
    expect = sorted(map(tuple, scan.na.fill(0).collect()))
    full_files = set(read_table(spark, mart).inputFiles())
    pruned = read_table(spark, mart, prune={"season_year": (year, year)})
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < full_files, (len(pruned_files), len(full_files))
    assert sorted(map(tuple, pruned.filter(
        F.col("season_year") == year).na.fill(0).collect())) == expect
    # summary mart has no season column at its grain -> unpartitioned
    # txn table (single unkeyed segment per rebuild)
    assert is_txn_table(spark, str(tmp_path / "fct_driver_race_summary"))
    assert not any(
        d.name.startswith("season_year=")
        for staged in (tmp_path / "fct_driver_race_summary").glob("d-*")
        for d in staged.iterdir()
    )


def test_mart_rebuild_into_same_dir_is_atomic_republish(spark, tmp_path):
    """Round-6 txn routing: re-running the DAG into the SAME
    materialize_to (the production rebuild pattern) must republish each
    mart as a NEW manifest version with identical values — a reader
    resolving mid-rebuild sees old or new in full, and time travel to
    the pre-rebuild version still reads the old snapshot."""
    from formula1_data_pipeline_spark.plans.models import REGISTRY
    from formula1_data_pipeline_spark.sources.txn import (
        current_version,
        read_table,
    )
    from tests.fixtures_openf1 import build_raw_tables

    raw = build_raw_tables(spark)
    first = REGISTRY.run(spark, raw, materialize_to=str(tmp_path))
    mart = str(tmp_path / "fct_driver_race_summary")
    v1 = current_version(spark, mart)
    snap1 = sorted(map(tuple,
                       first["fct_driver_race_summary"]
                       .na.fill(0).collect()))
    second = REGISTRY.run(spark, raw, materialize_to=str(tmp_path))
    v2 = current_version(spark, mart)
    assert v2 > v1
    snap2 = sorted(map(tuple,
                       second["fct_driver_race_summary"]
                       .na.fill(0).collect()))
    assert snap1 == snap2
    assert sorted(
        map(tuple, read_table(spark, mart, version=v1)
            .na.fill(0).collect())
    ) == snap1  # pre-rebuild snapshot still resolves

    # round-6 review finding: a rebuild must equal the build EXACTLY —
    # partitions the new build no longer produces must not survive
    # from prior versions (txn_replace semantics would keep them).
    # Plant a bogus extra season on the keyed mart, re-run, assert gone.
    from formula1_data_pipeline_spark.sources.txn import txn_replace

    keyed = str(tmp_path / "final_f1")
    bogus = second["final_f1"].withColumn(
        "season_year",
        (F.col("season_year").cast("int") + 99).cast("int"))
    txn_replace(spark, bogus, keyed, key="season_year")
    assert read_table(spark, keyed).filter(
        F.col("season_year").cast("int")
        >= bogus.select(F.min("season_year")).collect()[0][0]
    ).count() > 0  # planted season is live before the rebuild
    third = REGISTRY.run(spark, raw, materialize_to=str(tmp_path))
    years_after = {
        r["season_year"]
        for r in read_table(spark, keyed)
        .select("season_year").distinct().collect()
    }
    real_years = {
        str(r["season_year"])
        for r in third["final_f1"].select("season_year")
        .distinct().collect()
    }
    assert {str(y) for y in years_after} == real_years, years_after


def test_assertion_runner_failure_paths_flip_report_rows(spark):
    """q74 gates the all-pass report; this guards the failure
    semantics the reference's dbt-test stage relies on
    (dags/formula1_elt_dag.py:46-50): a planted null-grain row flips
    the model's not_null report row to failed, and a planted duplicate
    grain flips its unique row — both in assertions_report AND
    run_assertions, which must agree."""
    from formula1_data_pipeline_spark.plans.assertions import (
        assertions_report,
        run_assertions,
    )

    clean = spark.createDataFrame(
        [(1219, 9165, 44, 1), (1219, 9165, 44, 2)],
        ["meeting_key", "session_key", "driver_number", "lap_number"],
    )
    # null lap_number breaks not_null; grain still unique
    nulled = clean.unionByName(spark.createDataFrame(
        [(1219, 9165, 44, None)], clean.schema))
    # duplicated (meeting, session, driver, lap) breaks unique only
    duped = clean.unionByName(clean.limit(1))

    built = {"int_session_driver_laps": nulled, "fct_driver_laps": duped}
    report = {(r["model"], r["kind"]): r["passed"]
              for r in assertions_report(built).collect()}
    assert report[("int_session_driver_laps", "not_null")] is False
    assert report[("int_session_driver_laps", "unique")] is True
    assert report[("fct_driver_laps", "not_null")] is True
    # fct_driver_laps has no unique assertion declared; the planted dup
    # must surface via its not_null-only rows staying green while the
    # grain model catches its own failure kind:
    assert ("fct_driver_laps", "unique") not in report

    failures = run_assertions(built)
    assert {(f.model, f.kind) for f in failures} == {
        ("int_session_driver_laps", "not_null"),
    }

    # duplicate-grain failure on a model that declares uniqueness
    built2 = {"int_session_driver_laps": duped}
    report2 = {(r["model"], r["kind"]): r["passed"]
               for r in assertions_report(built2).collect()}
    assert report2[("int_session_driver_laps", "unique")] is False
    assert report2[("int_session_driver_laps", "not_null")] is True
    failures2 = run_assertions(built2)
    assert {(f.model, f.kind) for f in failures2} == {
        ("int_session_driver_laps", "unique"),
    }
    assert "duplicate grain" in failures2[0].detail
