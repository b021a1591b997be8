"""session.local_frame: driver-side rows as a JVM LocalRelation that
returns the same rows as ``createDataFrame`` on the same input."""

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deepcell_data_engineering_spark.session import local_frame

DDL = (
    "s STRING, i INT, flag BOOLEAN, l BIGINT, d DOUBLE, b BINARY, "
    "tags ARRAY<STRING>, v ARRAY<DOUBLE>"
)
STRUCT = StructType(
    [
        StructField("s", StringType()),
        StructField("i", IntegerType()),
        StructField("flag", BooleanType()),
        StructField("l", LongType()),
        StructField("d", DoubleType()),
        StructField("b", BinaryType()),
        StructField("tags", ArrayType(StringType())),
        StructField("v", ArrayType(DoubleType())),
    ]
)
VEC = np.array([0.25, -1.5, float("nan")])
TUPLES = [
    ("a", 1, True, 2**53 + 1, 0.5, b"\x00\xff", ["x", "y"], VEC.tolist()),
    ("b", -7, False, None, float("nan"), b"", [], [2.0]),
    (None, None, None, -(2**63), None, None, None, None),
    ("c", 2**31 - 1, True, 2**63 - 1, -0.0, b"\x01", [None], []),
]


def _canon(value):
    """Rows as comparable values: NaN != NaN, so it becomes a marker."""
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def _collect(df):
    return [_canon(list(r)) for r in df.collect()]


def _optimized_leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
def test_local_frame_matches_create_dataframe(spark, schema):
    want = spark.createDataFrame(TUPLES, schema)
    got = local_frame(spark, TUPLES, schema)
    assert got.schema == want.schema
    assert _collect(got) == _collect(want)
    assert _optimized_leaf(got) == "LocalRelation"
    # the integers above 2^53 survive exactly (no float round trip)
    assert got.collect()[0]["l"] == 2**53 + 1


def test_local_frame_row_shapes(spark):
    names = STRUCT.names
    dicts = [dict(zip(names, t)) for t in TUPLES]
    rows = [Row(*t) for t in TUPLES]
    want = _collect(spark.createDataFrame(TUPLES, DDL))
    assert _collect(local_frame(spark, dicts, DDL)) == want
    assert _collect(local_frame(spark, rows, DDL)) == want
    # a dict is read by field name, missing keys are null
    partial = local_frame(spark, [{"i": 3, "s": "z"}], DDL).collect()[0]
    assert (partial["s"], partial["i"], partial["v"]) == ("z", 3, None)


def test_local_frame_numpy_arrays(spark):
    """array<double> columns built from numpy arrays hold the same values
    as createDataFrame given the arrays as lists."""
    vecs = [np.arange(3, dtype=np.float64) / 4, np.array([1.5], dtype=np.float32)]
    ddl = "k INT, v ARRAY<DOUBLE>"
    got = local_frame(spark, [(k, v) for k, v in enumerate(vecs)], ddl)
    want = spark.createDataFrame([(k, v.tolist()) for k, v in enumerate(vecs)], ddl)
    assert _collect(got) == _collect(want)


def test_local_frame_empty_and_arity(spark):
    for schema in (DDL, STRUCT):
        empty = local_frame(spark, [], schema)
        assert empty.collect() == []
        assert empty.schema == spark.createDataFrame([], schema).schema
        assert _optimized_leaf(empty) == "LocalRelation"
    with pytest.raises(ValueError, match="row has 2 fields"):
        local_frame(spark, [("a", 1)], DDL)
