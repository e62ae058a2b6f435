"""Arrow ⇄ Spark type mapping — the data-model contract (SURVEY §1.2).

The reference codes its type mapping twice, exhaustively: DuckDB→Arrow
on the result path (/root/reference/src/duckdb/duckdb_statement.cpp:
600-715) and Arrow→DuckDB on the ingest path (duckdb_server.cpp:
167-283). This module is the Spark analog with the §1.2 widening rules:

- unsigned ints widen losslessly (uint8→short, uint16→int, uint32→long,
  uint64→decimal(20,0) — *safer than the reference*, which narrows
  uint64 to int64, duckdb_statement.cpp:656-657)
- decimal precision caps at 38 (Spark has no decimal256)
- ns timestamps truncate to µs (the reference truncates too on ingest,
  duckdb_server.cpp:516-518)
- time64 has no Spark type → long micros-since-midnight (documented)
- fixed_size_list → ArrayType (length enforced as a constraint, not a
  type)

The ingest path (``Engine.ingest``) applies these rules through
``widen_for_spark``, to the columns Spark itself refuses (unsigned ints,
half floats, date64, time of day, decimals over 38 digits); every other
column goes to Spark's own Arrow conversion unchanged. The mapping is
verified bidirectionally in tests/test_types.py and over the wire in
tests/test_flight.py.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T


def arrow_to_spark(dt: pa.DataType) -> T.DataType:
    """Arrow type → Spark type (ingest direction)."""
    if pa.types.is_boolean(dt):
        return T.BooleanType()
    if pa.types.is_int8(dt):
        return T.ByteType()
    if pa.types.is_int16(dt):
        return T.ShortType()
    if pa.types.is_int32(dt):
        return T.IntegerType()
    if pa.types.is_int64(dt):
        return T.LongType()
    if pa.types.is_uint8(dt):
        return T.ShortType()  # lossless widening
    if pa.types.is_uint16(dt):
        return T.IntegerType()
    if pa.types.is_uint32(dt):
        return T.LongType()
    if pa.types.is_uint64(dt):
        return T.DecimalType(20, 0)  # reference narrows to int64; we don't
    if pa.types.is_float16(dt) or pa.types.is_float32(dt):
        return T.FloatType()
    if pa.types.is_float64(dt):
        return T.DoubleType()
    if pa.types.is_decimal(dt):
        if dt.precision > 38:
            raise ValueError(
                f"decimal precision {dt.precision} exceeds Spark's max 38"
            )
        return T.DecimalType(dt.precision, dt.scale)
    if pa.types.is_string(dt) or pa.types.is_large_string(dt):
        return T.StringType()
    if pa.types.is_binary(dt) or pa.types.is_large_binary(dt):
        return T.BinaryType()
    if pa.types.is_date(dt):
        return T.DateType()
    if pa.types.is_timestamp(dt):
        # ns truncates to µs (reference: duckdb_server.cpp:516-518)
        return T.TimestampType() if dt.tz else T.TimestampNTZType()
    if pa.types.is_time(dt):
        return T.LongType()  # micros-since-midnight (no Spark TimeType)
    if pa.types.is_duration(dt):
        return T.DayTimeIntervalType()
    if pa.types.is_interval(dt):  # month_day_nano
        return T.CalendarIntervalType()
    if pa.types.is_fixed_size_list(dt):
        return T.ArrayType(arrow_to_spark(dt.value_type))
    if pa.types.is_list(dt) or pa.types.is_large_list(dt):
        return T.ArrayType(arrow_to_spark(dt.value_type))
    if pa.types.is_struct(dt):
        return T.StructType(
            [
                T.StructField(f.name, arrow_to_spark(f.type), f.nullable)
                for f in dt
            ]
        )
    if pa.types.is_map(dt):
        return T.MapType(arrow_to_spark(dt.key_type), arrow_to_spark(dt.item_type))
    if pa.types.is_null(dt):
        return T.NullType()
    # ENUM/UUID/etc. fall back to string, like the reference's
    # arrow::null() fallback (duckdb_statement.cpp:707-713) but lossless
    if isinstance(dt, pa.DictionaryType):
        return arrow_to_spark(dt.value_type)
    return T.StringType()


def _spark_refuses(dt: pa.DataType) -> bool:
    """Whether Spark's Arrow conversion, or the table it writes to,
    refuses ``dt`` as it is, at any depth: unsigned ints, half floats,
    date64, time of day (Spark's TIME cannot be stored) and decimals
    over 38 digits."""
    if (pa.types.is_unsigned_integer(dt) or pa.types.is_float16(dt)
            or pa.types.is_date64(dt) or pa.types.is_time(dt)):
        return True
    if pa.types.is_decimal(dt):
        return dt.precision > 38
    if isinstance(dt, pa.DictionaryType):
        return _spark_refuses(dt.value_type)
    if (pa.types.is_list(dt) or pa.types.is_large_list(dt)
            or pa.types.is_fixed_size_list(dt)):
        return _spark_refuses(dt.value_type)
    if pa.types.is_map(dt):
        return _spark_refuses(dt.key_type) or _spark_refuses(dt.item_type)
    if pa.types.is_struct(dt):
        return any(_spark_refuses(f.type) for f in dt)
    return False


def widen_for_spark(table: pa.Table) -> pa.Table:
    """Cast the columns of an upload that Spark refuses to their §1.2
    type (``arrow_to_spark``, then ``spark_to_arrow``); the other
    columns pass unchanged. A column Spark cannot hold, such as a
    decimal256 over 38 digits, raises a ValueError naming it. A time of
    day becomes µs since midnight; nested in a list, struct or map it
    must already be in µs."""
    for i, f in enumerate(table.schema):
        if not _spark_refuses(f.type):
            continue
        try:
            want = spark_to_arrow(arrow_to_spark(f.type))
            col = table.column(i)
            if pa.types.is_time(f.type):
                col = col.cast(pa.time64("us"), safe=False)
            col = col.cast(want)
        except (ValueError, pa.ArrowException) as exc:
            raise ValueError(f"column {f.name!r}: {exc}") from None
        table = table.set_column(i, pa.field(f.name, want, f.nullable), col)
    return table


def spark_to_arrow(dt: T.DataType) -> pa.DataType:
    """Spark type → Arrow type (result direction)."""
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, (T.StringType, T.CharType, T.VarcharType)):
        return pa.string()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.VariantType):
        # VARIANT exports as opaque binary, clients cast to JSON — the
        # reference's contract (duckdb_statement.cpp:698-706)
        return pa.binary()
    if isinstance(dt, T.CalendarIntervalType):
        return pa.month_day_nano_interval()
    if isinstance(dt, T.YearMonthIntervalType):
        return pa.month_day_nano_interval()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")  # reference exports UTC µs
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.DayTimeIntervalType):
        return pa.duration("us")
    if isinstance(dt, T.ArrayType):
        return pa.list_(spark_to_arrow(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [
                pa.field(f.name, spark_to_arrow(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.MapType):
        return pa.map_(spark_to_arrow(dt.keyType), spark_to_arrow(dt.valueType))
    if isinstance(dt, T.NullType):
        return pa.null()
    raise ValueError(f"unmapped Spark type: {dt}")


def arrow_schema_to_spark(schema: pa.Schema) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, arrow_to_spark(f.type), f.nullable)
            for f in schema
        ]
    )


def spark_schema_to_arrow(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [
            pa.field(f.name, spark_to_arrow(f.dataType), f.nullable)
            for f in schema.fields
        ]
    )
