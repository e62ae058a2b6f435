"""Output checks: DuckDB oracle rows and Arrow content digests.

Row results are compared the way the repository's differential harness
compares them: cells canonicalised (decimals as floats, timestamps as
naive ISO strings, NaN as NULL), rows sorted with NULLs last, floats
equal within a relative and absolute 1e-9. Large DoGet results are
compared by an order-insensitive digest of every column, computed the
same way on the result and on the parquet it was read from.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    return v


def _sort_key(row):
    return tuple((v is None, str(type(v)), v) for v in row)


def canon_rows(rows) -> list[tuple]:
    return sorted((tuple(canon_cell(v) for v in r) for r in rows),
                  key=_sort_key)


def _cells_equal(x, y) -> bool:
    if x is None or y is None:
        return x is y
    if isinstance(x, float) or isinstance(y, float):
        try:
            return math.isclose(float(x), float(y), rel_tol=FLOAT_RTOL,
                                abs_tol=FLOAT_ATOL)
        except (TypeError, ValueError):
            return False
    return x == y


def rows_mismatch(got: list[tuple], expected: list[tuple]) -> str:
    """'' when the canonical row lists agree, else the first difference."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    for i, (a, b) in enumerate(zip(got, expected)):
        if len(a) != len(b) or not all(map(_cells_equal, a, b)):
            return f"row {i}: {a!r} != {b!r}"
    return ""


def table_rows(table: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return canon_rows(zip(*cols)) if cols else []


def _as_int64(col: pa.ChunkedArray) -> pa.ChunkedArray:
    if pa.types.is_date32(col.type):
        col = col.cast(pa.int32())
    return col.cast(pa.int64())


def digest(table: pa.Table) -> tuple:
    """Order-insensitive fingerprint: row count, then per column its
    name, null count and sums that fit in 64 bits (integers and
    timestamps split into low and high bits, floats summed, strings by
    total length and distinct count)."""
    out: list = [table.num_rows]
    for name, col in zip(table.column_names, table.columns):
        t = col.type
        if pa.types.is_integer(t) or pa.types.is_timestamp(t) \
                or pa.types.is_date(t):
            ints = _as_int64(col)
            stats = (pc.sum(pc.bit_wise_and(ints, 0xFFFF)).as_py(),
                     pc.sum(pc.shift_right(ints, 16)).as_py())
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            stats = (pc.sum(col.cast(pa.float64())).as_py(),)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            stats = (pc.sum(pc.utf8_length(col)).as_py(),
                     pc.count_distinct(col).as_py())
        else:
            stats = (str(t),)
        out.append((name, col.null_count) + stats)
    return tuple(out)


def digest_mismatch(got: tuple, expected: tuple) -> str:
    if got[0] != expected[0]:
        return f"{got[0]} rows, expected {expected[0]}"
    if len(got) != len(expected):
        return f"{len(got) - 1} columns, expected {len(expected) - 1}"
    for a, b in zip(got[1:], expected[1:]):
        if len(a) != len(b) or not all(map(_cells_equal, a, b)):
            return f"column digest {a!r} != {b!r}"
    return ""


def tables_mismatch(got: pa.Table, expected: pa.Table) -> str:
    """Full comparison after sorting both tables on every column (the
    fixture's tables have duplicate keys, so no key gives one order)."""
    if got.column_names != expected.column_names:
        return f"columns {got.column_names} != {expected.column_names}"
    if got.num_rows != expected.num_rows:
        return f"{got.num_rows} rows, expected {expected.num_rows}"
    order = [(k, "ascending") for k in expected.column_names]
    got = got.take(pc.sort_indices(got, sort_keys=order))
    expected = expected.take(pc.sort_indices(expected, sort_keys=order))
    for name in expected.column_names:
        a, b = got[name], expected[name]
        if pa.types.is_timestamp(b.type):
            a, b = _as_int64(a), _as_int64(b)
        elif a.type != b.type:
            a = a.cast(b.type)
        if not a.equals(b):
            return f"column {name} differs"
    return ""
