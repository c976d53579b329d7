"""``util.local_frame``: driver rows become a JVM LocalRelation (no
Python-worker scan), with values identical to the Python-RDD path, and
no engine module builds a frame from driver rows any other way."""

import ast
import datetime as dt
import os
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from upgini_spark.util import local_frame

REPO = pathlib.Path(__file__).resolve().parent.parent

DDL = "id long, s string, v array<double>, t timestamp, d date"
ROWS = [
    (1, "a", [1.0, None, -0.0], dt.datetime(2024, 3, 10, 2, 30), dt.date(2024, 3, 10)),
    (2, None, None, None, None),
    (None, "c", [], dt.datetime(2024, 11, 3, 1, 30, 0, 123456), dt.date(1969, 12, 31)),
]


def _plans(df):
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


def test_plan_is_local_relation(spark):
    df = local_frame(spark, ROWS, DDL)
    optimized, executed = _plans(df)
    assert optimized.strip().startswith("LocalRelation"), optimized
    assert "LocalTableScan" in executed, executed
    for python_scan in ("ExistingRDD", "PythonRDD", "LogicalRDD"):
        assert python_scan not in optimized + executed
    # the Python-RDD path this replaces, for contrast
    assert "ExistingRDD" in _plans(spark.createDataFrame(ROWS, DDL))[1]


def test_values_nulls_arrays_and_empty(spark):
    df = local_frame(spark, ROWS, DDL)
    old = spark.createDataFrame(ROWS, DDL)
    assert df.schema == old.schema
    assert df.collect() == old.collect()
    v = df.filter("id = 1").first()["v"]
    assert v[1] is None and str(v[2]) == "-0.0"

    empty = local_frame(spark, [], DDL)
    assert empty.schema == old.schema
    assert empty.collect() == []
    # an empty LocalRelation is known-empty to the optimizer
    joined = old.join(empty.select("id"), "id")
    assert "LocalRelation <empty>" in _plans(joined)[0]
    assert joined.count() == 0

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    st = StructType([StructField("k", StringType(), False), StructField("n", LongType())])
    got = local_frame(spark, iter([("x", 1), ("y", None)]), st)
    assert got.schema == st
    assert [tuple(r) for r in got.collect()] == [("x", 1), ("y", None)]


@pytest.fixture
def non_utc_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _epochs(df):
    rows = df.select(
        "id", F.unix_micros("t").alias("us"), F.unix_date("d").alias("days")
    ).collect()
    return sorted((tuple(r) for r in rows), key=repr)


def test_temporal_values_bit_identical_under_non_utc_tz(spark, non_utc_tz):
    """Naive datetimes are read in the Python process's local zone on
    both paths (DST gap and fold included), dates are zone-free, and a
    collect → rebuild round trip (what sampling's kept dates do) lands on
    the instants the old path gives — including the fold hour, which
    Python's naive datetimes cannot round-trip on either path."""
    new = local_frame(spark, ROWS, DDL)
    old = spark.createDataFrame(ROWS, DDL)
    assert _epochs(new) == _epochs(old)
    back = old.collect()
    assert _epochs(local_frame(spark, back, DDL)) == _epochs(
        spark.createDataFrame(back, DDL)
    )


def _create_dataframe_calls(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    scopes = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for child in ast.walk(node):
                scopes.setdefault(id(child), node.name)
    return [
        (node.lineno, scopes.get(id(node)))
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_local_frame():
    """Static guard: engine code and the query entry point build frames
    from driver data only through ``util.local_frame``."""
    files = sorted((REPO / "upgini_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    offenders = []
    for path in files:
        for lineno, scope in _create_dataframe_calls(path):
            rel = path.relative_to(REPO).as_posix()
            if not (rel == "upgini_spark/util.py" and scope == "local_frame"):
                offenders.append(f"{rel}:{lineno}")
    assert offenders == []
