"""Token-budget selection (`operators/selection.py`) — semantics,
determinism, and scale-shape tests. Cross-engine oracle parity for
the intended round-10 gate lives in ``test_r10_gate_drafts.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from formula1_data_pipeline_spark.operators.selection import (
    quantize6,
    select_token_budget,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, score double, n_tokens long"
    )


def _naive(rows, budget):
    """Reference semantics: one global (score DESC, id ASC) walk."""
    q = lambda s: int(round(s * 1_000_000))  # noqa: E731
    ordered = sorted(rows, key=lambda r: (-q(r[1]), r[0]))
    out, cum = [], 0
    for doc_id, score, n in ordered:
        if cum < budget:
            out.append((doc_id, q(score), n, cum))
        cum += n
    return sorted(out)


def _got(df):
    return sorted(
        (r["doc_id"], r["score_q"], r["n_tokens"], r["cum_before"])
        for r in df.collect()
    )


def test_select_token_budget_matches_naive_walk(spark):
    # score ties (i % 7), a hot score value, and uneven token counts
    rows = [
        (i, float(i % 7) / 4.0, (i % 13) + 1)
        for i in range(500)
    ]
    df = _mkdocs(spark, rows)
    for budget in (1, 37, 400, 10_000):
        got = _got(
            select_token_budget(
                df, F.col("score"), F.col("n_tokens"), budget,
                bucket_size=50,
            )
        )
        assert got == _naive(rows, budget), f"budget={budget}"


def test_select_token_budget_bucket_size_invariant(spark):
    rows = [(i, float((i * 31) % 5), (i % 11) + 1) for i in range(300)]
    df = _mkdocs(spark, rows)
    want = _naive(rows, 200)
    for bs in (1, 17, 1000, 10**6):
        got = _got(
            select_token_budget(
                df, F.col("score"), F.col("n_tokens"), 200,
                bucket_size=bs,
            )
        )
        assert got == want, f"bucket_size={bs}"


def test_select_token_budget_partitioning_invariant(spark):
    rows = [(i, float(i % 3), (i % 5) + 1) for i in range(200)]
    df = _mkdocs(spark, rows)
    base = _got(
        select_token_budget(df, F.col("score"), F.col("n_tokens"), 150)
    )
    for parts in (1, 7):
        got = _got(
            select_token_budget(
                df.repartition(parts),
                F.col("score"), F.col("n_tokens"), 150,
            )
        )
        assert got == base, f"parts={parts}"


def test_select_token_budget_edges(spark):
    rows = [(1, 0.9, 100), (2, 0.5, 100), (3, 0.1, 100)]
    df = _mkdocs(spark, rows)
    # budget=1: only the best doc starts before offset 1 (and may
    # straddle the boundary — the pack_sequences start-offset rule)
    assert _got(
        select_token_budget(df, F.col("score"), F.col("n_tokens"), 1)
    ) == [(1, 900_000, 100, 0)]
    # budget >= total keeps everything
    assert len(_got(
        select_token_budget(df, F.col("score"), F.col("n_tokens"), 300)
    )) == 3
    # exact boundary: doc 3 starts AT 200 == budget -> excluded
    assert [r[0] for r in _got(
        select_token_budget(df, F.col("score"), F.col("n_tokens"), 200)
    )] == [1, 2]
    import pytest

    with pytest.raises(ValueError):
        select_token_budget(df, F.col("score"), F.col("n_tokens"), 0)
    with pytest.raises(TypeError):
        select_token_budget(
            df.withColumn("doc_id", F.col("doc_id").cast("string")),
            F.col("score"), F.col("n_tokens"), 10,
        )


def test_select_token_budget_prunes_dead_buckets(spark):
    """Scale contract: the budget filter on bucket offsets sits
    UPSTREAM of the per-bucket ranking window, so the window's input
    is ~budget tokens of rows however large the corpus."""
    df = _mkdocs(
        spark, [(i, float(i % 2), 10) for i in range(1000)]
    )
    out = select_token_budget(
        df, F.col("score"), F.col("n_tokens"), 50, bucket_size=10
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # two Window nodes: the bucket-offset one and the in-bucket one;
    # the _offset < 50 pruning filter must appear between them
    # (below the LAST Window in plan text = above it in dataflow)
    last_win = plan.rfind("Window")
    first_win = plan.find("Window")
    assert first_win != -1 and last_win != first_win
    assert "_offset" in plan and "50" in plan
    # the pruned offset table joins back as a BROADCAST (its size is
    # budget-bounded, never corpus-bounded)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys and "SortMergeJoin" not in phys
    kept = out.count()
    assert kept == 5  # 50 budget / 10 tokens, ties by id


def test_quantize6_exact(spark):
    df = spark.range(1).select(
        quantize6(F.lit(0.8125)).alias("a"),
        quantize6(F.lit(0.1)).alias("b"),
        quantize6(F.lit(123.456789)).alias("c"),
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"]) == (812_500, 100_000, 123_456_789)


def test_select_token_budget_null_contracts(spark):
    """NULL score -> sorts strictly last (min-bigint coalesce, the
    cross-engine NULL-ordering hazard closed explicitly); NULL token
    count -> counts 0 (never corrupts later offsets via sum()'s
    NULL-skip)."""
    rows = [(1, 0.9, 10), (2, None, 10), (3, 0.1, None), (4, 0.5, 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, score double, n_tokens long"
    )
    got = _got(select_token_budget(
        df, F.col("score"), F.col("n_tokens"), 1_000))
    by_id = {r[0]: r for r in got}
    # everything kept (budget ample), NULL-score doc present and LAST
    assert set(by_id) == {1, 2, 3, 4}
    assert by_id[2][1] == -(2 ** 63) + 1
    assert by_id[2][3] == max(r[3] for r in got)  # largest cum_before
    # NULL n_tokens counts zero and doesn't shift followers
    assert by_id[3][2] == 0
    # selection order 0.9, 0.5, 0.1, NULL; doc 3 contributes 0
    # tokens, so doc 2 starts at the same offset 20
    assert {r[0]: r[3] for r in got} == {1: 0, 4: 10, 3: 20, 2: 20}


from hypothesis import given, settings, strategies as st  # noqa: E402

_ROW = st.tuples(
    st.floats(min_value=0.0, max_value=99.0,
              allow_nan=False, allow_infinity=False,
              width=32),                       # score (float32-exact)
    st.integers(min_value=0, max_value=40),    # n_tokens
)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=1, max_size=60),
    budget=st.integers(min_value=1, max_value=400),
    bucket_size=st.sampled_from([1, 3, 50]),
)
def test_select_token_budget_property(spark, rows, budget, bucket_size):
    """Random scores (incl. heavy ties from the coarse float32 grid),
    zero token counts, and arbitrary budgets: always exactly the
    naive greedy walk."""
    data = [(i, float(s), int(n)) for i, (s, n) in enumerate(rows)]
    df = _mkdocs(spark, data)
    got = _got(select_token_budget(
        df, F.col("score"), F.col("n_tokens"), budget,
        bucket_size=bucket_size,
    ))
    assert got == _naive(data, budget)


# ------------------------------------------------- per-group budgets --


def _mkgdocs(spark, rows):
    return spark.createDataFrame(
        rows, "source string, doc_id long, score double, n_tokens long"
    )


def _naive_grouped(rows, budgets, default=None):
    """Reference semantics: an independent budget walk per group."""
    q = lambda s: int(round(s * 1_000_000))  # noqa: E731
    out = []
    groups = {r[0] for r in rows}
    for g in groups:
        b = budgets.get(g, default)
        if b is None:
            continue
        cum = 0
        for src, doc_id, score, n in sorted(
                (r for r in rows if r[0] == g),
                key=lambda r: (-q(r[2]), r[1])):
            if cum < b:
                out.append((src, doc_id, q(score), n, cum))
            cum += n
    return sorted(out)


def test_group_budget_matches_naive_per_group_walk(spark):
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    rows = [
        ("web", 1, 0.9, 40), ("web", 2, 0.8, 40), ("web", 3, 0.95, 50),
        ("code", 10, 0.5, 30), ("code", 11, 0.7, 30),
        ("math", 20, 0.99, 10), ("math", 21, 0.2, 10),
    ]
    budgets = {"web": 60, "code": 30}
    got = sorted(
        tuple(r) for r in select_token_budget_by_group(
            _mkgdocs(spark, rows), F.col("score"), F.col("n_tokens"),
            "source", budgets, default_budget=15,
        ).collect()
    )
    assert got == _naive_grouped(rows, budgets, default=15)
    # each group fills its OWN budget from its own ranking: web keeps
    # its top docs even though code's best scores are lower
    kept = {(g, i) for g, i, *_ in got}
    assert ("web", 3) in kept and ("web", 1) in kept
    assert ("code", 11) in kept and ("code", 10) not in kept
    assert ("math", 20) in kept  # via the default budget
    # mixture semantics: the budgeted group keeps more tokens than the
    # default-budget one
    tokens = {}
    for g, _, _, n, _ in got:
        tokens[g] = tokens.get(g, 0) + n
    assert tokens["web"] > tokens["math"]


def test_group_without_budget_is_dropped_when_no_default(spark):
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    rows = [("web", 1, 0.9, 10), ("junk", 2, 1.0, 10)]
    got = select_token_budget_by_group(
        _mkgdocs(spark, rows), F.col("score"), F.col("n_tokens"),
        "source", {"web": 100}, default_budget=None,
    ).collect()
    assert {r["source"] for r in got} == {"web"}


def test_group_budget_partitioning_invariant(spark):
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    rows = [
        (["web", "code", "math"][i % 3], i,
         (i * 37 % 100) / 100.0, 5 + i % 7)
        for i in range(300)
    ]
    budgets = {"web": 120, "code": 80, "math": 50}
    want = _naive_grouped(rows, budgets)
    for parts in (1, 7):
        got = sorted(
            tuple(r) for r in select_token_budget_by_group(
                _mkgdocs(spark, rows).repartition(parts),
                F.col("score"), F.col("n_tokens"),
                "source", budgets, bucket_size=13,
            ).collect()
        )
        assert got == want


def test_null_group_gets_default_budget(spark):
    """Round-13 ADVICE (low): rows with a NULL group were granted
    default_budget by the left-join coalesce and then silently
    dropped by the inner equi-join (NULL keys never match). NULL is
    one group like any other now: it fills default_budget from its
    own ranking, or an explicit None key in ``budgets``."""
    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    rows = [
        ("web", 1, 0.9, 10), (None, 2, 0.8, 10), (None, 3, 0.95, 10),
        (None, 4, 0.5, 10),
    ]
    key = lambda t: (t[0] is not None, t[0] or "", t[1])  # noqa: E731
    got = sorted(
        ((r["source"], r["doc_id"])
         for r in select_token_budget_by_group(
             _mkgdocs(spark, rows), F.col("score"), F.col("n_tokens"),
             "source", {"web": 100}, default_budget=20,
         ).collect()), key=key,
    )
    # NULL group keeps its own top-2 by score (budget 20 / 10 tokens)
    assert got == [(None, 2), (None, 3), ("web", 1)]

    # explicit None key in budgets addresses the NULL group directly
    got2 = sorted(
        ((r["source"], r["doc_id"])
         for r in select_token_budget_by_group(
             _mkgdocs(spark, rows), F.col("score"), F.col("n_tokens"),
             "source", {"web": 100, None: 10}, default_budget=None,
         ).collect()), key=key,
    )
    assert got2 == [(None, 3), ("web", 1)]

    # and with no default and no None key, NULL groups drop entirely
    got3 = select_token_budget_by_group(
        _mkgdocs(spark, rows), F.col("score"), F.col("n_tokens"),
        "source", {"web": 100}, default_budget=None,
    ).collect()
    assert {r["source"] for r in got3} == {"web"}


def test_group_budget_validation(spark):
    import pytest

    from formula1_data_pipeline_spark.operators.selection import (
        select_token_budget_by_group,
    )

    with pytest.raises(ValueError, match="must be >= 1"):
        select_token_budget_by_group(
            _mkgdocs(spark, [("a", 1, 0.5, 5)]), F.col("score"),
            F.col("n_tokens"), "source", {"a": 0})
