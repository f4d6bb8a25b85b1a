"""``session.local_frame`` keeps small driver-side tables in the JVM.

The rows it builds must equal those of a Python list passed straight to
``createDataFrame``, type by type, while its plan is a ``LocalRelation``
with no Python-RDD scan.  The last test is Spark-free: it keeps every
``createDataFrame(`` call under ``tcdb_spark/`` inside the helper."""

from __future__ import annotations

import ast
import datetime as dt
import glob
import os
import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tcdb_spark.session import local_frame

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def utc(monkeypatch):
    """The list path reads a naive datetime in the process time zone;
    the helper in the session's (UTC). Pin the process to UTC too."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _both(spark, rows, schema):
    fast = local_frame(spark, rows, schema)
    slow = spark.createDataFrame(rows, schema)
    assert fast.schema == slow.schema
    return fast.collect(), slow.collect()


_CASES = {
    "long_int_double": (
        [(1, 2, 0.1), (-(2**62), -7, float("inf")), (0, 2**31 - 1, -0.0)],
        "a bigint, b int, c double",
    ),
    "string_binary": (
        [("hurricane", bytearray(b"\x00\xff")), ("", b"abc"), ("é中", bytearray())],
        "s string, b binary",
    ),
    "array_double": (
        [([0.1, 0.2, 1e300],), ([],), (None,), ([1.0, None],)],
        "v array<double>",
    ),
    "nulls": ([(None, None, None, None)], "a bigint, b double, c string, d timestamp"),
    "zero_rows": ([], "a bigint, s string, v array<double>, t timestamp"),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_rows_equal_the_list_path(spark, utc, case):
    rows, schema = _CASES[case]
    fast, slow = _both(spark, rows, schema)
    assert fast == slow


def test_naive_timestamps_land_as_utc_wall_clock(spark, utc):
    rows = [(dt.datetime(2022, 9, 26, 12, 0, 0, 250),), (dt.datetime(1970, 1, 1),)]
    fast, slow = _both(spark, rows, "t timestamp")
    assert fast == slow == [Row(t=r[0]) for r in rows]
    epochs = local_frame(spark, rows, "t timestamp").select(F.unix_micros("t")).collect()
    assert [e[0] for e in epochs] == [1664193600000250, 0]


def test_row_input_and_non_nullable_struct_type(spark, utc):
    schema = T.StructType([
        T.StructField("i", T.StringType(), False),
        T.StructField("p", T.DoubleType(), True),
        T.StructField("init", T.TimestampType(), False),
    ])
    rows = [
        Row(i="a", p=0.25, init=dt.datetime(2022, 9, 1)),
        Row(i="b", p=None, init=dt.datetime(2022, 9, 1, 6)),
    ]
    fast, slow = _both(spark, rows, schema)
    assert fast == slow
    assert not local_frame(spark, rows, schema).schema["i"].nullable
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, 1.0, dt.datetime(2022, 9, 1))], schema)


def test_values_arrow_cannot_convert_raise(spark):
    with pytest.raises(Exception):
        local_frame(spark, [("not a number",)], "a bigint")
    with pytest.raises(Exception):
        local_frame(spark, [(2**40,)], "a int")
    with pytest.raises(ValueError, match="2 values"):
        local_frame(spark, [(1,)], "a bigint, b string")


def test_dimension_tables_and_absent_reads_are_local_relations(spark, tmp_path):
    from tcdb_spark.dims import data_sources_df, models_df, regions_df
    from tcdb_spark.schemas import TRACKS_SCHEMA
    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    frames = {
        "regions": regions_df(spark),
        "models": models_df(spark),
        "data_sources": data_sources_df(spark),
        "absent": wh.read("tracks", TRACKS_SCHEMA),
    }
    for name, df in frames.items():
        plan = _optimized(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (name, plan)
    assert frames["regions"].count() == 6
    assert frames["absent"].schema == TRACKS_SCHEMA


def test_empty_merge_into_an_absent_table_counts_zero(spark, tmp_path):
    """The optimizer folds the MERGE of an empty batch against an absent
    (empty, local) table into an empty relation under its
    ``CollectMetrics``; the write must still fill the counts."""
    from tcdb_spark.operators.merge import merge, merge_counts
    from tcdb_spark.schemas import TRACKS_SCHEMA
    from tcdb_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    incoming = local_frame(
        spark, [], "track_id bigint, storm_id bigint, forecast_id bigint, ensemble_number int"
    )
    merged = merge(wh.read("tracks", TRACKS_SCHEMA), incoming, keys=["track_id"], run_id="E__1")
    wh.write("tracks", merged)
    filled: list[dict] = []
    waiter = threading.Thread(target=lambda: filled.append(merge_counts(merged)), daemon=True)
    waiter.start()
    waiter.join(timeout=60)
    assert filled, "the MERGE's Observation never filled"
    counts = filled[0]
    assert counts["rows"] == 0
    assert counts["inserted"] == counts["updated"] == 0


def _create_dataframe_calls(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of each ``.createDataFrame(`` call."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((child.lineno, fn))
            visit(child, name)

    visit(tree, None)
    return out


def test_create_dataframe_only_inside_local_frame():
    session = os.path.join(_REPO, "tcdb_spark", "session.py")
    stray = []
    for path in sorted(glob.glob(os.path.join(_REPO, "tcdb_spark", "**", "*.py"), recursive=True)):
        for line, fn in _create_dataframe_calls(path):
            if not (path == session and fn == "local_frame"):
                stray.append(f"{os.path.relpath(path, _REPO)}:{line}")
    assert not stray, (
        "build driver-side tables with session.local_frame (a list passed to "
        "createDataFrame is a Python-RDD scan on every evaluation):\n" + "\n".join(stray)
    )
