"""``session.local_frame``: every driver-side frame the package builds
is a JVM local relation.

A list handed to ``spark.createDataFrame`` plans as a Python RDD, and
every job over that frame pays a Python-worker leg. The helper builds
a ``pyarrow.Table`` instead, which plans as ``LocalTableScan``. These
tests pin that plan shape for each column type the call sites use,
the list path's type checks, the refusal of naive datetimes, that
concurrent queries over one frame each read its own rows, and that the
helper is the package's only ``createDataFrame`` site.
"""

from __future__ import annotations

import ast
import datetime
import pathlib
import subprocess
import sys

import pytest

from formula1_data_pipeline_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent \
    / "formula1_data_pipeline_spark"

# (column type, a non-NULL value of it) — every type a call site uses
TYPES = [
    ("long", 7),
    ("int", 3),
    ("double", 1.5),
    ("string", "x"),
    ("boolean", True),
    ("array<float>", [1.0, None, 2.5]),
    ("array<double>", [0.1, 2.0]),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "PythonRDD" not in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("ddl,value", TYPES, ids=[t for t, _ in TYPES])
def test_each_type_plans_as_local_table_scan(spark, ddl, value):
    rows = [(0, value), (1, None)]
    schema = f"k int, v {ddl}"
    df = local_frame(spark, rows, schema)
    _assert_local(df)
    # same rows and schema as the list path it replaces
    want = spark.createDataFrame(rows, schema)
    assert df.schema == want.schema
    assert sorted(df.collect()) == sorted(want.collect())


def test_empty_rows_plan_as_local_table_scan(spark):
    df = local_frame(spark, [], "a long, b array<float>, c string")
    _assert_local(df)
    assert df.collect() == []
    assert df.columns == ["a", "b", "c"]


@pytest.mark.parametrize("ddl,value", [
    ("long", 1.5),
    ("int", "3"),
    ("double", 1),
    ("string", 7),
    ("boolean", 1),
    ("array<float>", ["x"]),
])
def test_wrong_value_type_raises(spark, ddl, value):
    with pytest.raises(TypeError):
        local_frame(spark, [(value,)], f"v {ddl}")


def test_naive_datetime_is_refused(spark):
    naive = datetime.datetime(2024, 5, 1, 12, 30)
    with pytest.raises(ValueError, match="naive datetime"):
        local_frame(spark, [(naive,)], "t timestamp")
    aware = naive.replace(tzinfo=datetime.timezone.utc)
    df = local_frame(spark, [(aware,)], "t timestamp")
    # the session pins UTC, so the instant reads back unshifted
    assert df.collect()[0]["t"] == naive


def test_concurrent_lambda_queries_over_one_frame_read_its_rows(spark):
    """Overlapped queries that share a local frame and a lambda
    projection must each read the frame's rows. Folded into the local
    relation on the driver, the projection's lambda variable is one
    object the queries race on, and rows come back mixing elements of
    other rows (ivf_index_build landed such vectors). The session
    keeps the projection in the plan, where tasks evaluate it."""
    from pyspark.sql import functions as F

    from formula1_data_pipeline_spark.concurrency import overlap

    n, dim = 600, 16
    rows = [(i, [float(i * dim + d) for d in range(dim)])
            for i in range(n)]
    doubled = local_frame(spark, rows, "id long, v array<double>").select(
        "id", F.transform("v", lambda x: x * 2).alias("v"))
    optimized = doubled._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" in optimized, optimized
    want = {i: [2.0 * x for x in v] for i, v in rows}
    # each leg builds its own query: one DataFrame's plan is optimized
    # once, so collecting the same DataFrame concurrently shares it
    for _ in range(5):
        outs = overlap(spark, [(f"leg {j}",
                                lambda: doubled.select("*").collect())
                               for j in range(4)])
        for out in outs:
            assert {r["id"]: list(r["v"]) for r in out} == want


def test_create_dataframe_appears_only_in_the_helper():
    session = PKG / "session.py"
    fn = next(n for n in ast.parse(session.read_text()).body
              if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            inside = (path == session
                      and fn.lineno <= no <= fn.end_lineno)
            if not inside:
                stray.append(f"{path.relative_to(PKG)}:{no}")
    assert not stray, stray


def test_pyarrow_is_imported_lazily():
    code = ("import sys, formula1_data_pipeline_spark.session; "
            "sys.exit('pyarrow' in sys.modules)")
    done = subprocess.run([sys.executable, "-c", code],
                          cwd=PKG.parent, timeout=120)
    assert done.returncode == 0
