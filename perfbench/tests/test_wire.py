"""The benchmark's request encoder against hand-computed FlightSql.proto
bytes (field numbers from the public ``FlightSql.proto``)."""

from __future__ import annotations

import pathlib

from perfbench import wire

_URL = b"type.googleapis.com/arrow.flight.protocol.sql."


def _any(name: bytes, value: bytes) -> bytes:
    url = _URL + name
    out = b"\x0a" + bytes([len(url)]) + url
    return out + (b"\x12" + bytes([len(value)]) + value if value else b"")


def test_varint_golden():
    assert wire.varint(0) == b"\x00"
    assert wire.varint(1) == b"\x01"
    assert wire.varint(300) == b"\xac\x02"
    assert wire.varint(-1) == b"\xff" * 9 + b"\x01"
    assert wire.read_varint(b"\xac\x02", 0) == (300, 2)


def test_statement_query_golden():
    # CommandStatementQuery.query = 1 (string)
    body = b"\x0a\x08SELECT 1"
    got = wire.statement_query("SELECT 1")
    assert got == _any(b"CommandStatementQuery", body)
    # type_url is 46 + 21 = 67 = 0x43 bytes long
    assert got.startswith(b"\x0a\x43type.googleapis.com/")
    assert got.endswith(b"\x12\x0a\x0a\x08SELECT 1")


def test_sql_info_packed_golden():
    # CommandGetSqlInfo.info = 1 (repeated uint32, packed)
    assert wire.get_sql_info([0, 1, 2, 3]) == _any(
        b"CommandGetSqlInfo", b"\x0a\x04\x00\x01\x02\x03")
    assert wire.get_sql_info([]) == _any(b"CommandGetSqlInfo", b"")


def test_get_tables_golden():
    # table_name_filter_pattern = 3
    assert wire.get_tables("pm_%") == _any(
        b"CommandGetTables", b"\x1a\x04pm_%")


def test_ingest_golden():
    # table_definition_options = 1 {if_not_exist = 1, if_exists = 2},
    # table = 2; CREATE = 1, REPLACE = 3, APPEND = 2
    assert wire.statement_ingest("t", wire.TABLE_EXISTS_REPLACE) == _any(
        b"CommandStatementIngest", b"\x0a\x04\x08\x01\x10\x03\x12\x01t")
    assert wire.statement_ingest("t", wire.TABLE_EXISTS_APPEND) == _any(
        b"CommandStatementIngest", b"\x0a\x04\x08\x01\x10\x02\x12\x01t")


def test_prepared_golden():
    assert wire.create_prepared_statement("SELECT 1") == _any(
        b"ActionCreatePreparedStatementRequest", b"\x0a\x08SELECT 1")
    assert wire.prepared_statement_query(b"h") == _any(
        b"CommandPreparedStatementQuery", b"\x0a\x01h")


def test_replies_decode():
    # ActionCreatePreparedStatementResult.prepared_statement_handle = 1
    result = _any(b"ActionCreatePreparedStatementResult",
                  b"\x0a\x03abc\x12\x00")
    assert wire.prepared_handle(result) == b"abc"
    # DoPutUpdateResult.record_count = 1 (int64), sent without an Any
    assert wire.put_record_count(b"\x08\xf4\x03") == 500
    assert wire.put_record_count(b"\x08" + wire.varint(-1)) == -1
    assert wire.put_record_count(b"") == 0


def test_encoder_is_clean_room():
    src = pathlib.Path(wire.__file__).read_text()
    assert "gizmosql_spark" not in src
