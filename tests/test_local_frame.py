"""local_frame: driver-side rows enter a plan as a JVM LocalRelation.

The reference is ``createDataFrame`` on the same Python list: same schema
(nullability included) and same rows, NaN compared as NaN. A guard keeps
every other module off ``createDataFrame``, whose list path scans a
Python RDD and so starts Python workers for a constant."""

from __future__ import annotations

import ast
import datetime as dt
import math
import time
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql.types import LongType, StringType, StructField, StructType

from bistro_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "bistro_spark"


def test_create_dataframe_only_inside_local_frame():
    """``createDataFrame(`` appears in the package only inside
    ``session.local_frame``."""
    allowed = None
    tree = ast.parse((PKG / "session.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            allowed = range(node.lineno, node.end_lineno + 1)
    assert allowed is not None
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" not in line:
                continue
            if path.name == "session.py" and path.parent == PKG and no in allowed:
                continue
            offenders.append(f"{path.relative_to(PKG.parent)}:{no}")
    assert offenders == []


CASES = [
    (
        [("a", 1.0, float("nan")), (None, None, -0.5), ("", 2.5, None)],
        "s string, x double, y double",
    ),
    (
        [(1, 2**62, True), (None, -(2**63), None), (-(2**31), 0, False)],
        "i int, l long, b boolean",
    ),
    (
        [
            (Decimal("123456789012345678901234.123456"), Decimal(10**37)),
            (None, Decimal(-7)),
        ],
        "a decimal(30,6), b decimal(38,0)",
    ),
    (
        [
            (dt.datetime(2026, 1, 1, 3, 4, 5, 123456), dt.date(2026, 2, 3)),
            (None, None),
        ],
        "t timestamp, d date",
    ),
    (
        [([1, None, 3], {"k": 1.5, "z": None}), ([], {}), (None, None)],
        "a array<long>, m map<string,double>",
    ),
    (
        [(Row(x=1, y="q"), [dt.datetime(2026, 3, 1, 12, 30)]), (None, None)],
        "s struct<x:long,y:string>, ta array<timestamp>",
    ),
    ([], "a string, b long"),
    ([{"b": 2, "a": "x"}, {"a": "y"}], "a string, b long"),
]


def _canon(rows):
    nan = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v
    return [tuple(nan(v) for v in r) for r in rows]


@pytest.mark.parametrize("rows,schema", CASES, ids=[c[1] for c in CASES])
def test_parity_with_python_list_path(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert _canon(got.collect()) == _canon(ref.collect())
    plan = got._jdf.queryExecution().analyzed().toString()
    assert plan.startswith("LocalRelation"), plan


def test_struct_type_schema_keeps_nullability(spark):
    strict = StructType(
        [StructField("k", LongType(), False), StructField("v", StringType())]
    )
    got = local_frame(spark, [(1, "a")], strict)
    assert got.schema == strict
    assert got.collect() == [Row(k=1, v="a")]


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError, match="2 columns"):
        local_frame(spark, [(1,)], "a long, b long")


@pytest.fixture
def new_york(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_timestamp_is_process_local(spark, new_york):
    """A naive datetime means process-local time on both paths: it
    round-trips through collect(), and under the UTC session time zone it
    reads 5 h later (EST)."""
    naive = dt.datetime(2026, 1, 1, 12, 0, 0)
    ref = spark.createDataFrame([(naive,)], "t timestamp")
    got = local_frame(spark, [(naive,)], "t timestamp")
    assert got.collect() == ref.collect() == [Row(t=naive)]
    as_utc = got.selectExpr("CAST(t AS STRING) AS s").first()["s"]
    assert as_utc == "2026-01-01 17:00:00"
