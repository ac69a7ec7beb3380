"""``functions.driver_table``: the package's one route from driver-side
rows to a DataFrame.  Its frame equals the one ``createDataFrame`` of the
same Python list builds (schema and rows, under any driver timezone), it
is a local relation that a collect reads without a Spark job, and it is
the only ``createDataFrame`` call in the package."""

from __future__ import annotations

import ast
import datetime
import decimal
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from kafka_connect_morphlines_spark.functions import driver_table, validation
from kafka_connect_morphlines_spark.streaming import runner

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DDL = (
    "i int, l long, d double, m decimal(23,6), s string, b binary, t boolean, "
    "dt date, ts timestamp, ad array<double>, al array<long>"
)
ROWS = [
    (
        1, 2**40, 1.5, decimal.Decimal("12345678901234567.123456"), "x", b"\x00a", True,
        datetime.date(2020, 1, 2), datetime.datetime(2020, 1, 1), [1.0, None], [1, 2],
    ),
    (
        -7, -1, -0.0, decimal.Decimal("-0.000001"), "", b"", False,
        datetime.date(1969, 12, 31), datetime.datetime(1999, 7, 4, 23, 59, 59, 999999), [], [None],
    ),
    (None,) * 11,
]


def _jobs(spark, action) -> int:
    """The number of Spark jobs ``action()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"driver-table-spy-{time.monotonic_ns()}"
    sc.setJobGroup(group, "driver_table spy", interruptOnCancel=False)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


@pytest.fixture(params=["session", "America/Los_Angeles"])
def driver_tz(request, monkeypatch):
    """The driver process's local timezone: unchanged, or Los Angeles,
    where a naive datetime read as UTC would be 8 hours off."""
    if request.param != "session":
        monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "zero-rows"])
def test_equals_the_list_built_frame(spark, driver_tz, rows):
    got = driver_table(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # the raw instants agree too, not just their round trip through Python
    epoch = [F.col("ts").cast("long"), F.unix_date("dt")]
    assert got.select(*epoch).collect() == want.select(*epoch).collect()


def test_struct_schema_keeps_nullability(spark):
    schema = StructType(
        [StructField("k", LongType(), False), StructField("ks", ArrayType(LongType()), False)]
    )
    rows = [(1, [1, 2]), (2, [])]
    got = driver_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    with pytest.raises(ValueError):
        driver_table(spark, [(None, [])], schema)
    with pytest.raises(ValueError):
        spark.createDataFrame([(None, [])], schema)


def test_is_a_local_relation_read_without_a_job(spark):
    df = driver_table(spark, ROWS, DDL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert _jobs(spark, df.collect) == 0


def test_constraint_gate_reads_its_verdict_without_a_job(spark):
    """``run_stream``'s gate runs the constraint aggregate and nothing
    else: as many jobs as one global aggregate over the same frame."""
    df = spark.range(100).select(F.col("id").alias("k"))
    constraints = [validation.NotNull("k"), validation.InRange("k", 0, 50)]
    one_aggregate = _jobs(spark, lambda: df.agg(F.count(F.lit(1))).collect())
    assert one_aggregate > 0
    verdicts = []
    gate = _jobs(spark, lambda: verdicts.append(runner._batch_violates(df, constraints)))
    assert verdicts == [True]
    assert gate == one_aggregate
    assert _jobs(spark, lambda: runner._batch_violates(df, constraints[:1])) == one_aggregate


def test_driver_table_is_the_only_create_dataframe_in_the_package():
    """Every driver-side frame of the package goes through ``driver_table``:
    ``createDataFrame`` is called in one place, inside it."""
    pkg = os.path.join(REPO, "kafka_connect_morphlines_spark")
    found = []
    for root, dirs, files in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef):
                    for node in ast.walk(fn):
                        owner[node] = fn.name
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.append((os.path.relpath(path, REPO), owner.get(node)))
    assert found == [("kafka_connect_morphlines_spark/functions/__init__.py", "driver_table")]
