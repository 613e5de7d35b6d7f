"""session.local_frame builds the same frame as createDataFrame(<list>) —
schema (names, types, nullability) and rows — without a Python stage."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hinbox_spark.session import local_frame

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas", "PythonRDD")


def _rdd_lineage(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.toRdd().toDebugString()


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.schema.fields == want.schema.fields  # nullability included
    assert got.collect() == want.collect()
    lineage = _rdd_lineage(got)
    assert not any(n in lineage for n in _PYTHON_NODES), lineage
    return got, want


def test_scalar_types_and_nulls(spark):
    schema = StructType([
        StructField("s", StringType(), False),
        StructField("l", LongType()),
        StructField("i", IntegerType()),
        StructField("d", DoubleType()),
        StructField("b", BooleanType()),
        StructField("day", DateType()),
        StructField("ts", TimestampType()),
        StructField("dec", DecimalType(10, 3)),
        StructField("bin", BinaryType()),
    ])
    rows = [
        ("a", 1, 2, 0.5, True, dt.date(2024, 2, 29),
         dt.datetime(2024, 3, 1, 12, 30, 5, 123456), Decimal("1.250"), b"\x00x"),
        ("b", None, None, None, None, None, None, None, None),
        ("c", -(2**62), -7, float("inf"), False, dt.date(1970, 1, 1),
         dt.datetime(1999, 12, 31, 23, 59, 59), Decimal("-0.001"), b""),
    ]
    got, want = _assert_same(spark, rows, schema)
    # the control: the list path really does run a PythonRDD
    assert "PythonRDD" in _rdd_lineage(want)


def test_nested_struct_array_map(spark):
    inner = StructType([StructField("x", IntegerType()),
                        StructField("tags", ArrayType(StringType()))])
    schema = StructType([
        StructField("id", StringType(), False),
        StructField("inner", inner),
        StructField("items", ArrayType(inner, containsNull=False)),
        StructField("counts", MapType(StringType(), LongType())),
        StructField("nums", ArrayType(DoubleType())),
    ])
    rows = [
        ("r1", (1, ["a", None]), [Row(x=2, tags=[]), (3, None)],
         {"k": 1, "m": None}, [1.0, None]),
        ("r2", {"x": None, "tags": ["z"]}, [], {}, []),
        ("r3", None, None, None, None),
    ]
    _assert_same(spark, rows, schema)


def test_row_inputs_and_ddl_schema(spark):
    rows = [Row(entity_type="person", match_key="ann lee", group_id="person:0"),
            Row(entity_type="org", match_key="acme", group_id="org:3")]
    ddl = "entity_type string, match_key string, group_id string"
    got, _ = _assert_same(spark, rows, ddl)
    assert "LocalTableScan" in _rdd_lineage(got)


def test_empty_frame_keeps_schema_and_runs_no_task(spark):
    schema = StructType([StructField("url", StringType(), False),
                         StructField("n", LongType(), True),
                         StructField("tags", ArrayType(StringType(), False))])
    got, _ = _assert_same(spark, [], schema)
    assert got._jdf.queryExecution().toRdd().getNumPartitions() == 0
    assert local_frame(spark, [], "src string, dst string").collect() == []


def test_none_in_non_nullable_field_is_rejected(spark):
    schema = StructType([StructField("k", StringType(), False)])
    with pytest.raises(ValueError):
        local_frame(spark, [("a",), (None,)], schema)
