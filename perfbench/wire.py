"""Clean-room Flight SQL request codec for the benchmark client.

Every request the benchmark sends is a stock ``arrow.flight.protocol.sql``
message, wrapped in ``google.protobuf.Any`` as a stock Flight SQL client
sends it. The bytes are built here from the public proto3 wire format
and the public ``FlightSql.proto`` field numbers, never by the server's
own codec, so a change to that codec is measured instead of mirrored.
"""

from __future__ import annotations

_PKG = b"type.googleapis.com/arrow.flight.protocol.sql."

#: CommandStatementIngest.TableDefinitionOptions enums (FlightSql.proto)
TABLE_NOT_EXIST_CREATE = 1
TABLE_EXISTS_APPEND = 2
TABLE_EXISTS_REPLACE = 3


def varint(n: int) -> bytes:
    if n < 0:  # proto3 int64: two's complement in ten bytes
        n += 1 << 64
    out = bytearray()
    while True:
        low, n = n & 0x7F, n >> 7
        if n:
            out.append(low | 0x80)
        else:
            out.append(low)
            return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def field_bytes(num: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return varint(num << 3 | 2) + varint(len(payload)) + payload


def field_varint(num: int, value: int) -> bytes:
    """Varint field (wire type 0); proto3 omits the default 0."""
    return varint(num << 3) + varint(value) if value else b""


def field_str(num: int, value: str) -> bytes:
    return field_bytes(num, value.encode()) if value else b""


def pack_any(name: str, payload: bytes = b"") -> bytes:
    """``google.protobuf.Any``: type_url (1) and value (2); stock
    clients leave the value out for an empty message."""
    out = field_bytes(1, _PKG + name.encode())
    return out + field_bytes(2, payload) if payload else out


def parse(buf: bytes) -> dict[int, list]:
    """One message level: {field number: [values]}. Length-delimited
    values stay bytes and varints stay ints."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        num, wire_type = tag >> 3, tag & 7
        if wire_type == 2:
            n, pos = read_varint(buf, pos)
            val: bytes | int = buf[pos:pos + n]
            pos += n
        elif wire_type == 0:
            val, pos = read_varint(buf, pos)
        else:
            raise ValueError(f"unexpected wire type {wire_type}")
        out.setdefault(num, []).append(val)
    return out


def unpack_any(buf: bytes) -> tuple[str, bytes]:
    msg = parse(buf)
    url = msg[1][0]
    if not url.startswith(_PKG):
        raise ValueError(f"not a Flight SQL message: {url!r}")
    return url[len(_PKG):].decode(), msg.get(2, [b""])[0]


# --- the messages the workloads send ------------------------------------


def statement_query(sql: str) -> bytes:
    return pack_any("CommandStatementQuery", field_str(1, sql))


def get_tables(table_name_pattern: str) -> bytes:
    return pack_any("CommandGetTables", field_str(3, table_name_pattern))


def get_sql_info(info: list[int]) -> bytes:
    packed = b"".join(varint(i) for i in info)
    return pack_any("CommandGetSqlInfo",
                    field_bytes(1, packed) if info else b"")


def create_prepared_statement(sql: str) -> bytes:
    return pack_any("ActionCreatePreparedStatementRequest",
                    field_str(1, sql))


def prepared_statement_query(handle: bytes) -> bytes:
    return pack_any("CommandPreparedStatementQuery", field_bytes(1, handle))


def statement_ingest(table: str, if_exists: int) -> bytes:
    options = (field_varint(1, TABLE_NOT_EXIST_CREATE)
               + field_varint(2, if_exists))
    return pack_any("CommandStatementIngest",
                    field_bytes(1, options) + field_str(2, table))


def prepared_handle(result_any: bytes) -> bytes:
    """Handle out of an ``ActionCreatePreparedStatementResult``."""
    name, body = unpack_any(result_any)
    if name != "ActionCreatePreparedStatementResult":
        raise ValueError(f"unexpected prepare result {name}")
    return parse(body)[1][0]


def put_record_count(app_metadata: bytes) -> int:
    """``DoPutUpdateResult.record_count`` (sent without an Any)."""
    n = parse(app_metadata).get(1, [0])[0]
    return n - (1 << 64) if n >= 1 << 63 else n
