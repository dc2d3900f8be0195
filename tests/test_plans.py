"""Physical-plan regression tests — lock in the SCALE.md audit claims
so future changes can't silently reintroduce shuffles or lose
pushdown/broadcast properties."""

from __future__ import annotations

from formula1_data_pipeline_spark.queries import CATALOG

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return (
        CATALOG[name].fn(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )


def test_flagship_single_shuffle(spark):
    plan = plan_of(spark, "q40_flagship_pipeline")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_agg_back_join_broadcasts(spark):
    plan = plan_of(spark, "q06_agg_back_join")
    assert "BroadcastHashJoin" in plan
    # the detail stream must not shuffle
    assert "Exchange hashpartitioning" not in plan.split(
        "BroadcastExchange"
    )[0], plan


def test_anti_join_broadcasts(spark):
    plan = plan_of(spark, "q07_anti_join")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_top1_no_global_sort(spark):
    plan = plan_of(spark, "q08_top1_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q12_window_filter")
    # predicates reach the parquet scan
    assert "PushedFilters: [IsNotNull" in plan, plan
    # column pruning: o_comment-like unused columns absent from ReadSchema
    scan = plan[plan.index("FileScan"):]
    assert "o_totalprice" in scan.split("ReadSchema")[0]


def test_groupby_partial_aggregation(spark):
    plan = plan_of(spark, "q05_groupby_summary")
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_hash_split_shuffle_free(spark):
    # q38 is a pure projection: no exchange of any kind
    plan = plan_of(spark, "q38_hash_split")
    assert "Exchange" not in plan, plan


def test_pii_redaction_shuffle_free(spark):
    plan = plan_of(spark, "q44_pii_redaction")
    assert "Exchange" not in plan, plan


def test_unpivot_expands_without_shuffle(spark):
    # q49: Expand node (or per-measure projection union), no exchange
    plan = plan_of(spark, "q49_unpivot")
    assert "Exchange" not in plan, plan


def test_pivot_is_one_pass(spark):
    # explicit value list => conditional aggregates over ONE shuffle,
    # no distinct-scan job to discover pivot columns
    plan = plan_of(spark, "q47_pivot")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan


def test_rollup_single_shuffle_with_partials(spark):
    plan = plan_of(spark, "q48_rollup")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Expand" in plan and "partial_sum" in plan, plan


def test_rank_family_single_shuffle_two_sorts(spark):
    # same partition key for both windows: one exchange, two sorts
    plan = plan_of(spark, "q50_rank_family")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tfidf_broadcasts_corpus_count(spark):
    # n_docs joins in as a broadcast, not a shuffle
    plan = plan_of(spark, "q39_tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_range_join_is_equi_join_not_nlj(spark):
    # bin bucketing must turn the range predicate into an equi-join
    plan = plan_of(spark, "q17_range_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert any(j in plan for j in
               ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")), plan


def test_packing_prefix_sum_shape(spark):
    """q64's distributed prefix sums: exactly ONE single-partition
    exchange PER LEG — each is the tiny bucket-offset window over
    per-bucket TOTALS (bucket-count-sized rows), never the data path.
    Three legs since round 11 (straddle + nostraddle + sft), so
    exactly three; a fourth would mean a global sort leaked onto a
    data-sized frame."""
    plan = plan_of(spark, "q64_sequence_packing")
    assert plan.count("Exchange SinglePartition") == 3, plan


def test_contamination_broadcasts_benchmark(spark):
    """q66's benchmark shingle set must broadcast — the corpus side
    never shuffles for the membership join."""
    plan = plan_of(spark, "q66_contamination_check")
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_single_shuffle(spark):
    """q67's windows and island aggregate all reuse the user_id
    partitioning — exactly one hash exchange in the whole plan."""
    plan = plan_of(spark, "q67_scd2_history")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_concurrent_materialization_overlaps_independent_branches(
        spark, tmp_path):
    """dbt threads:4 parity (reference dbt/profiles.yml:13): with a
    materializing run, independent models build concurrently — their
    (start, end) wall-time intervals overlap — and the materialized
    tables match the lazy run's."""
    import time

    from formula1_data_pipeline_spark.plans.registry import ModelRegistry

    reg = ModelRegistry()
    spans: dict[str, tuple[float, float]] = {}

    def slow_model(name):
        def fn(deps):
            t0 = time.monotonic()
            time.sleep(0.6)  # long enough to observe overlap reliably
            df = deps["src"].withColumnRenamed("v", f"v_{name}")
            spans[name] = (t0, time.monotonic())
            return df
        return fn

    for n in ("left_mart", "right_mart"):
        reg.register(n, sources=("src",), materialized="table")(
            slow_model(n))

    src = spark.range(10).withColumnRenamed("id", "v")
    out = reg.run(spark, {"src": src}, materialize_to=str(tmp_path))
    (a0, a1), (b0, b1) = spans["left_mart"], spans["right_mart"]
    assert max(a0, b0) < min(a1, b1), f"no overlap: {spans}"
    assert sorted(r[0] for r in out["left_mart"].collect()) == list(range(10))

    lazy = reg.run(spark, {"src": src})
    for n in ("left_mart", "right_mart"):
        assert out[n].columns == lazy[n].columns, n
        assert sorted(map(tuple, out[n].collect())) == \
            sorted(map(tuple, lazy[n].collect())), n


def test_salted_band_join_partitioning_follows_shuffle_conf(spark):
    """The salted band join must partition at max(n_salts,
    spark.sql.shuffle.partitions) — pinning the review fix that a
    64-core or cluster deployment is not capped at the 32-salt count
    (the explicit repartition deliberately opts out of AQE coalescing,
    so the count has to ride the session's own shuffle sizing)."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.operators.dedup import (
        _salted_band_join,
    )

    banded = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id: long, band: long")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for conf_parts, expect in (("64", 64), ("4", 32)):
            spark.conf.set("spark.sql.shuffle.partitions", conf_parts)
            plan = (
                _salted_band_join(banded, banded, n_salts=32)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert f"hashpartitioning(band#" in plan, plan
            assert f", {expect})" in plan, (conf_parts, plan)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_q39_legs_share_the_tf_exchange(spark):
    """Round 10: the tfidf and bm25 legs must consume ONE (doc, term)
    tf aggregate — the corpus is tokenized and shuffled once, the tf
    exchange is reused by the dfreq/dl/candidate branches (AQE
    ReusedExchange in the final adaptive plan)."""
    from formula1_data_pipeline_spark.queries import CATALOG

    df = CATALOG["q39_tfidf_top_terms"].fn(
        spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan
