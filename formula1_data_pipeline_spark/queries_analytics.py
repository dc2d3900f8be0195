"""q46-q50, q53 — analytic operators beyond the reference surface.

The reference's aggregation surface stops at plain GROUP BY
(SURVEY.md §2.4: "No grouping sets / cube / rollup"); an engine users
switch to still needs the standard analytic extensions. Three gated
additions:

- q46: **exact group quantiles** — type-1 (lower) quantiles via
  row_number against ceil(p·n), no interpolation, so the result is an
  actual data value and the cross-engine hash is exact (built-in
  percentile_cont interpolates with engine-specific float folds).
- q47: **pivot** — event counts per user pivoted to one column per
  event type (explicit value list: deterministic output schema, and
  the one-pass conditional-aggregate plan Spark compiles pivot into).
- q48: **rollup** — subtotal + grand-total grouping sets with
  decimal-exact sums.

Plus q49 (unpivot/melt), q50 (rank/dense_rank/percent_rank/ntile),
and q53 (approximate sketches gated by accuracy bounds against exact
answers). All single-shuffle (or shuffle-free) plans; q46 adds a
per-group sort inside the window (the unavoidable cost of exact
quantiles — q53's approx_percentile is the mergeable 100 TB
alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.queries import _dec_sum, load, register
from formula1_data_pipeline_spark.session import local_frame

_QUANTILES = {"p50": 0.5, "p90": 0.9, "p99": 0.99}

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_case_sql(name: str, p: float) -> str:
    return (
        f"max(CASE WHEN rn = greatest(1, CAST(ceil({p} * n) AS BIGINT)) "
        f"THEN l_quantity END) AS {name}"
    )


@register(
    "q46_group_quantiles",
    f"""
    WITH r AS (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY l_quantity
               ) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag, max(n) AS n_rows,
           min(l_quantity) AS min_qty,
           {_q_case_sql('p50', 0.5)},
           {_q_case_sql('p90', 0.9)},
           {_q_case_sql('p99', 0.99)},
           max(l_quantity) AS max_qty
    FROM r
    GROUP BY 1
    """,
    doc="Exact per-group quantiles (type-1/lower: element at rank "
        "ceil(p*n), no interpolation => an actual data value, exact "
        "across engines): one shuffle on the group key with an "
        "in-partition sort. At 100 TB prefer approx_percentile's "
        "mergeable t-digest-style sketch (map-side partials, no full "
        "sort) when 1%-ish rank error is acceptable; this is the exact "
        "path",
)
def q46_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    r = li.select("l_returnflag", "l_quantity").select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    q_aggs = [
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n"))),
                F.col("l_quantity"),
            )
        ).alias(name)
        for name, p in _QUANTILES.items()
    ]
    return r.groupBy("l_returnflag").agg(
        F.max("n").alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        *q_aggs,
        F.max("l_quantity").alias("max_qty"),
    )


@register(
    "q47_pivot",
    f"""
    SELECT user_id,
           {', '.join(
               f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    """,
    doc="Pivot (long->wide): per-user event counts, one column per "
        "event type, spelled as conditional aggregates. The built-in "
        "df.pivot() compiles to TWO shuffles (pre-aggregate on "
        "(user, type), then pivotfirst on user) — the conditional-agg "
        "formulation is the same result in ONE shuffle with map-side "
        "partials, the plan you want at scale when the value list is "
        "known (locked by tests/test_plans.py)",
)
def q47_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")["events"]
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in _EVENT_TYPES
        ]
    )


@register(
    "q48_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty,
           count(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Rollup grouping sets (flag, status) -> (flag) -> (): subtotals "
        "and grand total in one pass — Spark expands the sets and "
        "aggregates with map-side partials, one shuffle; decimal sums "
        "keep the doubles order-independent",
)
def q48_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n_items"),
    )


@register(
    "q49_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem
    """,
    doc="Unpivot/melt (wide->long): three measure columns to "
        "(key, measure, value) rows via the built-in unpivot — a "
        "narrow scan-local expansion (Spark Expand node, no shuffle, "
        "3x rows out); oracle spells it as the equivalent UNION ALL",
)
def q49_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "q50_rank_family",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(rank() OVER w_price AS INT) AS price_rank,
           CAST(dense_rank() OVER w_price AS INT) AS price_dense_rank,
           percent_rank() OVER w_price AS price_pct_rank,
           CAST(ntile(10) OVER w_total AS INT) AS decile
    FROM orders
    WINDOW w_price AS (PARTITION BY o_orderpriority ORDER BY o_totalprice),
           w_total AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Ranking family the reference never uses (SURVEY.md §2.5 'no "
        "rank/dense_rank/ntile'): rank/dense_rank/percent_rank are "
        "deterministic on the bare price ordering (tie rows share "
        "values); ntile needs the total (price, key) ordering because "
        "its value depends on row position among ties. Same partition "
        "key for both windows -> one shuffle, two in-partition sorts",
)
def q50_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")["orders"]
    w_price = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    w_total = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w_price).cast("int").alias("price_rank"),
        F.dense_rank().over(w_price).cast("int").alias("price_dense_rank"),
        F.percent_rank().over(w_price).alias("price_pct_rank"),
        F.ntile(10).over(w_total).cast("int").alias("decile"),
    )


@register(
    "q53_approx_sketches",
    """
    SELECT 'sketch' AS kind, event_type AS grp,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS ok1, true AS ok2
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'hll_idx', source,
           CAST(count(DISTINCT doc_id) AS BIGINT),
           TRUE, CAST(NULL AS BOOLEAN)
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'hll_idx', '_total',
           CAST(count(DISTINCT doc_id) AS BIGINT),
           TRUE, CAST(NULL AS BOOLEAN)
    FROM documents
    """,
    doc="Approximate-sketch surface, two kinds in one frame. "
        "kind='sketch': approx_count_distinct (HyperLogLog++) and "
        "approx_percentile (mergeable quantile sketch) are the "
        "100 TB path for distinct counts and quantiles "
        "(map-side-mergeable, no per-group sort). Their values can't "
        "be replayed in another engine, so the gate checks "
        "deterministic BOUNDS: ok1/ok2 assert the sketches land "
        "within 15%/10% of the exact answers computed in the same "
        "query — a drift in either sketch breaks the hash. "
        "kind='hll_idx' (round 13, operators/hll.py): the PERSISTED "
        "mergeable HLL sketch table — incremental distinct counting "
        "that never rescans landed data. The gate builds the index "
        "from three id-ranged batches, RE-DELIVERS one (value-level "
        "idempotence: inserting a represented value is a register "
        "no-op, so estimates cannot inflate), lease-compacts the "
        "delta rows, then reads per-source estimates AND the "
        "grand-total rollup (coarser groups union the finer landed "
        "sketches — the incremental rollup exact counts can never "
        "do). Rows carry the EXACT counts plus est-within-bound "
        "booleans (the q53/q79 HLL++ discipline: estimates are "
        "bounds-gated, never value-hashed)",
)
def q53_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.hll import (
        hll_distinct_estimates,
        hll_sketch_append,
        hll_sketch_compact,
    )
    from formula1_data_pipeline_spark.scratch import scratch_dir

    ev = load(spark, sf_dir, "events")["events"]
    sketch = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.expr("percentile(value, 0.5)").alias("exact_p50"),
            F.expr("approx_percentile(value, 0.5, 1000)").alias("ap50"),
        )
        .select(
            F.lit("sketch").alias("kind"),
            F.col("event_type").alias("grp"),
            "n_exact",
            (
                F.abs(F.col("approx_users") - F.col("n_exact"))
                <= 0.15 * F.col("n_exact")
            ).alias("ok1"),
            (
                F.abs(F.col("ap50") - F.col("exact_p50"))
                <= 0.10 * F.abs(F.col("exact_p50"))
            ).alias("ok2"),
        )
    )

    from formula1_data_pipeline_spark.concurrency import overlap

    docs = load(spark, sf_dir, "documents")["documents"]
    idx = scratch_dir(prefix="q53_hllidx_") + "/idx"
    mx = docs.agg(F.max("doc_id")).collect()[0][0]

    def build_index() -> int:
        for lo, hi in ((-1, mx // 3), (mx // 3, (2 * mx) // 3),
                       ((2 * mx) // 3, mx)):
            hll_sketch_append(
                spark,
                docs.filter(
                    (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
                idx, ["source"], "doc_id")
        # re-delivery: a register no-op for every represented value —
        # the estimates below are unchanged, which the bound rows pin
        hll_sketch_append(
            spark, docs.filter(F.col("doc_id") <= mx // 3),
            idx, ["source"], "doc_id")
        # lease-serialized compaction folds the delta rows to one per
        # group; register union keeps every estimate invariant
        hll_sketch_compact(spark, idx)
        return hll_distinct_estimates(spark, idx, []) \
            .collect()[0].n_distinct_est

    # the exact-count job is independent of the sketch index — let it
    # back-fill the append chain (guide §2.6; r14 optimization)
    tot_est, tot_exact = overlap(spark, [
        ("q53: hll index build", build_index),
        ("q53: exact distinct count",
         lambda: docs.select("doc_id").distinct().count()),
    ])
    est = hll_distinct_estimates(spark, idx, ["source"])
    exact = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_exact"))
    bound = F.greatest(
        F.lit(2.0), F.col("n_exact").cast("double") * 0.05)
    nul_b = F.lit(None).cast("boolean")
    per_src = exact.join(est, "source").select(
        F.lit("hll_idx").alias("kind"),
        F.col("source").alias("grp"),
        "n_exact",
        (F.abs(
            F.col("n_distinct_est").cast("double")
            - F.col("n_exact").cast("double")
        ) <= bound).alias("ok1"),
        nul_b.alias("ok2"),
    )
    total = local_frame(
        spark,
        [("hll_idx", "_total", tot_exact,
          abs(tot_est - tot_exact) <= max(2.0, 0.05 * tot_exact),
          None)],
        "kind string, grp string, n_exact long, ok1 boolean, "
        "ok2 boolean",
    )
    return sketch.unionByName(per_src).unionByName(total)


@register(
    "q56_range_frame_window",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d,
           count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS n_orders_30d
    FROM orders
    """,
    doc="RANGE window frame (absent from the reference, SURVEY.md §2.5 "
        "'no RANGE frames'): per-customer trailing-30-day spend — the "
        "frame is bounded by the ORDER value (event time), not row "
        "position, so ties and gaps behave correctly for event-time "
        "rollups; one shuffle on the partition key, decimal sums for "
        "cross-engine exactness",
)
def q56_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")["orders"]
    # rangeBetween needs a numeric ordering: seconds since epoch; the
    # 30-day bound is inclusive on both ends, matching SQL RANGE
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w).cast("double").alias("spend_30d"),
        F.count("*").over(w).alias("n_orders_30d"),
    )


@register(
    "q57_cube_grouping",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty,
           count(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="Cube grouping sets with GROUPING() indicators (rollup's q48 "
        "sibling): all four aggregation levels in one pass — Expand + "
        "single shuffle with map-side partials; grouping() "
        "disambiguates a real NULL group key from a subtotal row, the "
        "standard OLAP idiom the reference never reaches",
)
def q57_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")["lineitem"]
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n_items"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status",
        "sum_qty", "n_items",
    )


@register(
    "q58_set_ops",
    """
    WITH recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ), high_value AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    SELECT 'both' AS bucket, o_custkey
    FROM (SELECT o_custkey FROM recent
          INTERSECT SELECT o_custkey FROM high_value)
    UNION ALL
    SELECT 'recent_only', o_custkey
    FROM (SELECT o_custkey FROM recent
          EXCEPT SELECT o_custkey FROM high_value)
    """,
    doc="INTERSECT / EXCEPT set operations (absent from the reference, "
        "SURVEY.md §2.7): distinct-semantics set algebra — Spark plans "
        "both as aggregate-style joins (left-semi / left-anti over "
        "distinct inputs), one shuffle each side",
)
def q58_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")["orders"]
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select("o_custkey")
    high = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    both = recent.intersect(high).select(
        F.lit("both").alias("bucket"), "o_custkey"
    )
    only = recent.distinct().exceptAll(high.distinct()).select(
        F.lit("recent_only").alias("bucket"), "o_custkey"
    )
    return both.unionByName(only)


@register(
    "q59_subquery_surface",
    """
    SELECT c_custkey, c_mktsegment,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
    doc="SQL-surface breadth (q13's sibling): correlated EXISTS + "
        "correlated scalar subquery through spark.sql — Catalyst "
        "de-correlates both into joins (left-semi for EXISTS, "
        "aggregate + left-outer for the scalar), so the executed plan "
        "is join-shaped, never a per-row re-execution",
)
def q59_subquery_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "customer", "orders")
    t["customer"].createOrReplaceTempView("q59_customer")
    t["orders"].createOrReplaceTempView("q59_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               (SELECT count(*) FROM q59_orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM q59_customer c
        WHERE EXISTS (
            SELECT 1 FROM q59_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        """
    )


@register(
    "q78_stat_moments",
    """
    WITH ev AS (
        SELECT event_type, value,
               (CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
                - CAST(epoch_us(TIMESTAMP '2024-01-01') AS DOUBLE))
               / 1e6 AS t
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ), m AS (
        SELECT event_type,
               count(*) AS n,
               avg(value) AS mean,
               avg(value * value) - avg(value) * avg(value) AS m2,
               avg(value * value * value)
                 - 3 * avg(value * value) * avg(value)
                 + 2 * avg(value) * avg(value) * avg(value) AS m3,
               avg(value * value * value * value)
                 - 4 * avg(value * value * value) * avg(value)
                 + 6 * avg(value * value) * avg(value) * avg(value)
                 - 3 * avg(value) * avg(value) * avg(value) * avg(value)
                   AS m4,
               corr(value, t) AS corr_vt,
               covar_samp(value, t) AS covar_vt
        FROM ev
        GROUP BY 1
    ), counts AS (
        SELECT event_type, value, count(*) AS c
        FROM ev GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, value,
               sum(c) OVER (
                   PARTITION BY event_type ORDER BY value
               ) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS tot
        FROM counts
    ), q AS (
        SELECT event_type,
               min(CASE WHEN cum >= ceil(0.25 * tot) THEN value END) AS p25,
               min(CASE WHEN cum >= ceil(0.5  * tot) THEN value END) AS p50,
               min(CASE WHEN cum >= ceil(0.75 * tot) THEN value END) AS p75,
               min(CASE WHEN cum >= ceil(0.95 * tot) THEN value END) AS p95,
               min(CASE WHEN cum >= ceil(0.99 * tot) THEN value END) AS p99
        FROM ranked GROUP BY 1
    ), hs AS (
        SELECT event_type,
               CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
                   AS vs
        FROM ev
    ), hb AS (
        SELECT event_type,
               CASE WHEN vs > 0 THEN 1 WHEN vs < 0 THEN -1 ELSE 0 END
                   AS cls,
               abs(vs) AS mag
        FROM hs
    ), hm AS (
        SELECT event_type, cls, mag,
               CAST(CASE WHEN mag > 0 THEN length(bin(mag)) - 1
                    ELSE 0 END AS INT) AS msb
        FROM hb
    ), hhist AS (
        SELECT event_type,
               cls * ((mag >> greatest(0, msb - 3))
                      << greatest(0, msb - 3)) AS rep,
               CAST(count(*) AS BIGINT) AS cnt
        FROM hm GROUP BY ALL
    ), hr AS (
        SELECT event_type, rep,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY rep
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS tot
        FROM hhist
    ), hq AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DECIMAL(20,12))
                   * tot) THEN rep END) AS p50_approx,
               MIN(CASE WHEN cum >= ceil(CAST(0.95 AS DECIMAL(20,12))
                   * tot) THEN rep END) AS p95_approx,
               MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DECIMAL(20,12))
                   * tot) THEN rep END) AS p99_approx
        FROM hr GROUP BY event_type
    )
    SELECT m.event_type, n,
           round(mean, 6) AS mean,
           round(m2 * n / (n - 1), 6) AS var_samp,
           round(m3 / (m2 ^ 1.5), 6) AS skewness,
           round(m4 / (m2 ^ 2) - 3, 6) AS kurtosis,
           round(corr_vt, 6) AS corr_vt,
           round(covar_vt, 4) AS covar_vt,
           p25, p50, p75, p95, p99,
           p50_approx, p95_approx, p99_approx
    FROM m JOIN q ON m.event_type = q.event_type
    JOIN hq ON m.event_type = hq.event_type
    """,
    doc="Statistical-moment aggregate family (map-side-mergeable, the "
        "100 TB path for distribution diagnostics): var_samp, skewness "
        "(population g1 = m3/m2^1.5, Spark's definition), kurtosis "
        "(excess, m4/m2^2 - 3), Pearson corr and covar_samp of value "
        "vs event time. The oracle recomputes every moment from raw "
        "power sums rather than trusting DuckDB's own skewness/"
        "kurtosis (different estimator definitions) — both engines "
        "then agree to far below the 6-dp rounding. Round 10 adds the "
        "EXACT per-group quantile columns p25/p50/p75/p95/p99 "
        "(quality.grouped_quantiles — type-1 value at rank ceil(p*n): "
        "rows collapse to (group, value) counts before the per-group "
        "ordered pass, and each quantile is a picked input double, no "
        "arithmetic, so the hash needs no rounding discipline). "
        "Round 12 adds p50/p95/p99_approx from the MERGEABLE quantile "
        "histogram (quality.quantile_histogram — the 100 TB closure "
        "of grouped_quantiles' single-huge-group seam: per-group "
        "state capped at ~2*63*2^3 DDSketch-style buckets however "
        "many distinct values the group holds, batch histograms "
        "merge by summing counts). All integer bucket math (1e6 "
        "scaling, bin()-length msb, shift/AND mantissa truncation, "
        "DECIMAL rank arithmetic) so the approx picks sit under the "
        "full value hash too",
)
def q78_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.quality import (
        grouped_quantiles,
        histogram_quantiles,
        quantile_histogram,
    )

    ev = (
        load(spark, sf_dir, "events")["events"]
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type", "value",
            (
                (F.unix_micros("ts")
                 - F.unix_micros(F.lit("2024-01-01").cast("timestamp")))
                .cast("double") / 1e6
            ).alias("t"),
        )
    )
    moments = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.var_samp("value"), 6).alias("var_samp"),
            F.round(F.skewness("value"), 6).alias("skewness"),
            F.round(F.kurtosis("value"), 6).alias("kurtosis"),
            F.round(F.corr("value", "t"), 6).alias("corr_vt"),
            F.round(F.covar_samp("value", "t"), 4).alias("covar_vt"),
        )
    )
    quants = grouped_quantiles(
        ev, "value", ["event_type"], [0.25, 0.5, 0.75, 0.95, 0.99]
    )
    approx = histogram_quantiles(
        quantile_histogram(ev, "value", ["event_type"]),
        ["event_type"], [0.5, 0.95, 0.99],
    )
    return moments.join(quants, "event_type").join(approx, "event_type")


@register(
    "q79_table_profile",
    """
    WITH prof AS (
        SELECT 'c_custkey' AS "column", count(*) AS n_rows,
               count(*) - count(c_custkey) AS n_nulls,
               count(DISTINCT c_custkey) AS n_distinct,
               CAST(min(c_custkey) AS VARCHAR) AS min_value,
               CAST(max(c_custkey) AS VARCHAR) AS max_value,
               true AS approx_ok
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
               count(DISTINCT c_mktsegment),
               CAST(min(c_mktsegment) AS VARCHAR),
               CAST(max(c_mktsegment) AS VARCHAR), true
        FROM customer
        UNION ALL
        SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
               count(DISTINCT c_nationkey),
               CAST(min(c_nationkey) AS VARCHAR),
               CAST(max(c_nationkey) AS VARCHAR), true
        FROM customer
    ), o AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    n AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    oc AS (
        SELECT "column", value, count(*) AS cnt_old FROM (
            SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS value
            FROM o
            UNION ALL
            SELECT 'source', CAST(source AS VARCHAR) FROM o
        ) GROUP BY 1, 2
    ), nc AS (
        SELECT "column", value, count(*) AS cnt_new FROM (
            SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS value
            FROM n
            UNION ALL
            SELECT 'source', CAST(source AS VARCHAR) FROM n
        ) GROUP BY 1, 2
    ), tot AS (
        SELECT (SELECT count(*) FROM o) AS n1,
               (SELECT count(*) FROM n) AS n2
    ), rep AS (
        SELECT coalesce(oc."column", nc."column") AS "column",
               coalesce(oc.value, nc.value) AS value,
               CAST(coalesce(cnt_old, 0) AS BIGINT) AS cnt_old,
               CAST(coalesce(cnt_new, 0) AS BIGINT) AS cnt_new,
               round(coalesce(cnt_old, 0) / CAST(t.n1 AS DOUBLE), 6)
                   AS share_old,
               round(coalesce(cnt_new, 0) / CAST(t.n2 AS DOUBLE), 6)
                   AS share_new
        FROM oc FULL OUTER JOIN nc
          ON oc."column" = nc."column"
          AND oc.value IS NOT DISTINCT FROM nc.value
        CROSS JOIN tot t
    ), rep2 AS (
        SELECT "column", value, cnt_old, cnt_new, share_old,
               share_new,
               round(abs(share_old - share_new), 6) AS abs_delta
        FROM rep
    )
    , am AS (
        SELECT source,
               CAST(count(n_chars) AS BIGINT) AS n,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
               CAST(min(n_chars) AS BIGINT) AS mn,
               CAST(max(n_chars) AS BIGINT) AS mx,
               CAST(sum(CAST(n_chars AS BIGINT)
                        * CAST(n_chars AS BIGINT)) AS BIGINT) AS ssq
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY GROUPING SETS ((source), ())
    )
    SELECT 'profile' AS kind, "column", n_rows, n_nulls, n_distinct,
           min_value, max_value, approx_ok,
           CAST(NULL AS VARCHAR) AS value,
           CAST(NULL AS BIGINT) AS cnt_old,
           CAST(NULL AS BIGINT) AS cnt_new,
           CAST(NULL AS DOUBLE) AS share_old,
           CAST(NULL AS DOUBLE) AS share_new,
           CAST(NULL AS DOUBLE) AS abs_delta,
           CAST(NULL AS BIGINT) AS n_values,
           CAST(NULL AS DOUBLE) AS tv_distance,
           CAST(NULL AS BIGINT) AS sum_value,
           CAST(NULL AS BIGINT) AS min_value_num,
           CAST(NULL AS BIGINT) AS max_value_num,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS var_pop,
           CAST(NULL AS DOUBLE) AS stddev_pop
    FROM prof
    UNION ALL
    SELECT 'drift', "column", NULL, NULL, NULL, NULL, NULL, NULL,
           value, cnt_old, cnt_new, share_old, share_new, abs_delta,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM rep2
    UNION ALL
    SELECT 'drift_tv', "column", NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL,
           count(*),
           CAST(sum(CAST(abs_delta AS DECIMAL(18,6))) AS DOUBLE) / 2.0,
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM rep2 GROUP BY "column"
    UNION ALL
    SELECT 'aggmart', COALESCE(source, '_total'), n,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL,
           s, mn, mx,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
           greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0),
           sqrt(greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
    FROM am
    """,
    doc="Table reconnaissance surface, three kinds in one long frame "
        "(§2.12 monitoring tier). kind='profile': one-pass per-column "
        "profile (ANALYZE / dbt-docs) — n_rows, nulls, distinct, "
        "min/max for three customer columns in a single aggregate "
        "scan; exact stats hash-checked, the HyperLogLog++ "
        "approx-distinct (the 100 TB path) pinned by the q53 bound "
        "pattern (within 15% of exact, asserted in-query). "
        "kind='drift' / 'drift_tv': two-snapshot distribution drift "
        "(operators/quality.py::drift_report/drift_summary) between "
        "deterministic doc_id halves of documents over lang+source — "
        "per-value count/share deltas (6-dp IEEE divides, NULL-safe "
        "bucket join so the missingness bucket stays one row) and "
        "per-column total-variation distance (decimal sum of rounded "
        "deltas, one final divide). Scale: two single-pass "
        "exploded-pairs counts + one value-cardinality-sized outer "
        "join — scan cost independent of how many columns are "
        "monitored. kind='aggmart' (round 12, operators/aggmart.py): "
        "the PERSISTED incremental profile — documents arrive as "
        "three batches of mergeable partial aggregates (n, sum, min, "
        "max, sumsq per source), one batch deliberately RE-DELIVERED "
        "(the batch-id exactly-once skip must no-op, asserted "
        "in-query), then read back at (source) grain plus the grand "
        "total with derived mean/var_pop/stddev_pop — landed data is "
        "never rescanned, so a 100 TB corpus profiles at "
        "delta-log cost",
)
def q79_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from formula1_data_pipeline_spark.operators.aggmart import (
        agg_mart_append,
        agg_mart_stats,
    )
    from formula1_data_pipeline_spark.operators.quality import (
        drift_report,
        drift_summary,
        profile_table,
    )
    from formula1_data_pipeline_spark.scratch import scratch_dir

    cust = load(spark, sf_dir, "customer")["customer"]
    prof = profile_table(
        cust, ["c_custkey", "c_mktsegment", "c_nationkey"],
        distinct_mode="both",
    ).select(F.lit("profile").alias("kind"), "*")

    docs = load(spark, sf_dir, "documents")["documents"]
    rep = drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        ["lang", "source"],
    )
    drift = rep.select(F.lit("drift").alias("kind"), "*")
    tv = drift_summary(rep).select(F.lit("drift_tv").alias("kind"), "*")

    mart = scratch_dir(prefix="q79_aggmart_") + "/m"
    # the three batches are INDEPENDENT appends of distinct batch_ids
    # to one mart — txn appends are optimistic-concurrency-safe by
    # contract (test_txn's concurrent-commit suite), so the three
    # marker-probe/aggregate/commit chains overlap from driver threads
    # (guide §2.6; r15). The re-delivery assertion stays strictly
    # AFTER the overlap settles: it needs gate-1's marker committed.
    from formula1_data_pipeline_spark.concurrency import overlap

    overlap(spark, [
        (f"q79 aggmart append gate-{b}",
         lambda b=b: agg_mart_append(
             spark, docs.filter(F.col("doc_id") % 3 == b),
             mart, ["source"], "n_chars", f"gate-{b}"))
        for b in range(3)
    ])
    if agg_mart_append(
            spark, docs.filter(F.col("doc_id") % 3 == 1),
            mart, ["source"], "n_chars", "gate-1") != 0:
        raise AssertionError(
            "agg_mart_append re-delivery was not a no-op — "
            "exactly-once regressed"
        )
    by_source = agg_mart_stats(spark, mart, ["source"])
    total = agg_mart_stats(spark, mart, []).select(
        F.lit("_total").alias("source"), "n_rows", "sum_value",
        "min_value", "max_value", "mean_value", "var_pop",
        "stddev_pop",
    )
    am = by_source.unionByName(total).select(
        F.lit("aggmart").alias("kind"),
        F.col("source").alias("column"),
        "n_rows",
        F.col("sum_value").cast("long").alias("sum_value"),
        F.col("min_value").alias("min_value_num"),
        F.col("max_value").alias("max_value_num"),
        "mean_value", "var_pop", "stddev_pop",
    )
    return (
        prof.unionByName(drift, allowMissingColumns=True)
        .unionByName(tv, allowMissingColumns=True)
        .unionByName(am, allowMissingColumns=True)
    )


@register(
    "q81_null_safe_join",
    """
    WITH l AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_custkey % 100 END AS k,
               o_totalprice
        FROM orders
    ), r AS (
        SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                    ELSE CAST(n_nationkey AS BIGINT) END AS k,
               n_name
        FROM nation
    )
    SELECT coalesce(CAST(l.k AS VARCHAR), '<null>') AS k,
           count(*) AS n_pairs,
           count(DISTINCT r.n_name) AS n_names,
           CAST(sum(CAST(l.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1
    """,
    doc="Null-safe equality join (Spark `<=>` == SQL IS NOT DISTINCT "
        "FROM): NULL keys on both sides match each other — the "
        "dimension-join semantic for 'unknown' buckets that a plain "
        "equi-join silently drops. Still a hash-partitionable equi "
        "join (NULL hashes to one key), so the plan is a normal "
        "shuffled join, not a nested loop; skewed NULL buckets are the "
        "documented salting case",
)
def q81_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders", "nation")
    left = t["orders"].select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 100).alias("k"),
        "o_totalprice",
    )
    right = t["nation"].select(
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("n_nationkey").cast("long")).alias("k"),
        "n_name",
    )
    return (
        left.join(right, left["k"].eqNullSafe(right["k"]))
        .groupBy(
            F.coalesce(left["k"].cast("string"), F.lit("<null>"))
            .alias("k")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("n_name").alias("n_names"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("total_price"),
        )
    )
