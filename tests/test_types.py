"""Bidirectional Arrow ⇄ Spark type-mapping tests (SURVEY §1.2)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from gizmosql_spark.types import (
    arrow_schema_to_spark,
    arrow_to_spark,
    spark_to_arrow,
    widen_for_spark,
)

CASES = [
    (pa.bool_(), T.BooleanType()),
    (pa.int8(), T.ByteType()),
    (pa.int64(), T.LongType()),
    (pa.uint8(), T.ShortType()),       # widened
    (pa.uint32(), T.LongType()),       # widened
    (pa.uint64(), T.DecimalType(20, 0)),  # lossless, unlike reference
    (pa.float32(), T.FloatType()),
    (pa.float64(), T.DoubleType()),
    (pa.decimal128(15, 2), T.DecimalType(15, 2)),
    (pa.string(), T.StringType()),
    (pa.binary(), T.BinaryType()),
    (pa.date32(), T.DateType()),
    (pa.timestamp("us"), T.TimestampNTZType()),
    (pa.timestamp("ns"), T.TimestampNTZType()),  # ns truncates to µs
    (pa.timestamp("us", tz="UTC"), T.TimestampType()),
    (pa.time64("us"), T.LongType()),   # micros-since-midnight
    (pa.list_(pa.int32()), T.ArrayType(T.IntegerType())),
    (pa.list_(pa.list_(pa.string())), T.ArrayType(T.ArrayType(T.StringType()))),
    (pa.map_(pa.string(), pa.int64()), T.MapType(T.StringType(), T.LongType())),
]


@pytest.mark.parametrize("arrow_t,spark_t", CASES)
def test_arrow_to_spark(arrow_t, spark_t):
    assert arrow_to_spark(arrow_t) == spark_t


def test_struct_recursion():
    at = pa.struct([pa.field("a", pa.int32()), pa.field("b", pa.list_(pa.string()))])
    st = arrow_to_spark(at)
    assert isinstance(st, T.StructType)
    assert st["a"].dataType == T.IntegerType()
    assert st["b"].dataType == T.ArrayType(T.StringType())


def test_decimal256_rejected():
    with pytest.raises(ValueError):
        arrow_to_spark(pa.decimal256(40, 2))


def test_widen_for_spark_casts_only_refused_columns():
    t = pa.table({
        "keep": pa.array([1, None], pa.int32()),
        "u8": pa.array([255, None], pa.uint8()),
        "half": pa.array([1.5, None], pa.float32()).cast(pa.float16()),
        "d64": pa.array([86_400_000, None], pa.date64()),
        "t32": pa.array([3_723_000, None], pa.time32("ms")),
        "t64ns": pa.array([3_723_000_004_999, None], pa.time64("ns")),
        "nested": pa.array([[0, 255], None], pa.list_(pa.uint8())),
    })
    out = widen_for_spark(t)
    assert out.schema.types == [
        pa.int32(), pa.int16(), pa.float32(), pa.date32(), pa.int64(),
        pa.int64(), pa.list_(pa.int16())]
    assert out.column("keep") == t.column("keep")
    assert out.to_pydict() == {
        "keep": [1, None], "u8": [255, None], "half": [1.5, None],
        "d64": [dt.date(1970, 1, 2), None],
        # µs since midnight; ns truncate
        "t32": [3_723_000_000, None], "t64ns": [3_723_000_004, None],
        "nested": [[0, 255], None]}
    assert widen_for_spark(out).equals(out)


def test_widen_for_spark_names_a_column_spark_cannot_hold():
    t = pa.table({"ok": [1], "wide": pa.array([1], pa.decimal256(40, 2))})
    with pytest.raises(ValueError, match="'wide'.*38"):
        widen_for_spark(t)


def test_result_direction():
    assert spark_to_arrow(T.TimestampType()) == pa.timestamp("us", tz="UTC")
    assert spark_to_arrow(T.DecimalType(15, 2)) == pa.decimal128(15, 2)
    assert spark_to_arrow(T.ArrayType(T.FloatType())) == pa.list_(pa.float32())


def test_ingest_roundtrip_through_spark(spark):
    """Arrow table → Spark (via mapped schema) → Arrow, values intact."""
    tbl = pa.table(
        {
            "i": pa.array([1, 2, None], pa.int64()),
            "s": pa.array(["a", "b", None], pa.string()),
            "d": pa.array([1.5, 2.5, None], pa.float64()),
            "arr": pa.array([[1, 2], [], None], pa.list_(pa.int32())),
        }
    )
    schema = arrow_schema_to_spark(tbl.schema)
    df = spark.createDataFrame(tbl.to_pandas(), schema)
    back = df.toArrow()
    assert back.num_rows == 3
    assert back.column("i").to_pylist() == [1, 2, None]
    assert back.column("arr").to_pylist() == [[1, 2], [], None]


def test_variant_interval_char_mappings():
    import pyarrow as pa
    from pyspark.sql import types as T

    from gizmosql_spark.types import arrow_to_spark, spark_to_arrow

    assert spark_to_arrow(T.VariantType()) == pa.binary()
    assert spark_to_arrow(T.CalendarIntervalType()) == pa.month_day_nano_interval()
    assert spark_to_arrow(T.CharType(10)) == pa.string()
    assert spark_to_arrow(T.VarcharType(10)) == pa.string()
    assert isinstance(
        arrow_to_spark(pa.month_day_nano_interval()), T.CalendarIntervalType
    )
