"""Hand-rolled proto3 wire codec for Arrow Flight SQL command payloads.

The reference is a real Flight SQL server: its descriptor commands,
tickets, and action bodies are protobuf messages from the public
``arrow.flight.protocol.sql`` package, wrapped in
``google.protobuf.Any`` (reference handlers
/root/reference/src/duckdb/duckdb_server.cpp:1267-1302 and the
apache/arrow ``format/FlightSql.proto`` contract). The protobuf
package is unavailable in this environment, but every message involved
is simple — strings, bytes, varints, one nested message, one map — so
this module maps a field table per message onto the proto3 *wire
format* (a public, stable spec: little-endian base-128 varints +
tag/length-delimited fields), whose primitives come from the vendored
``google.protobuf._wire``. With it, a stock Flight SQL / ADBC client's
bytes decode to the same command structures the JSON dialect uses, and
our replies re-encode to bytes a stock client parses.

Wire-format rules implemented (proto3):

- tag = (field_number << 3) | wire_type; varint-encoded
- wire types: 0 = varint, 1 = 64-bit, 2 = length-delimited, 5 = 32-bit
- scalar fields at their default value (0 / "" / b"" / false) are
  omitted on encode and defaulted on decode
- ``map<string,string>`` encodes each entry as a nested message with
  key = field 1, value = field 2
- ``repeated uint32`` accepts both packed (length-delimited) and
  unpacked encodings on decode and emits packed
- unknown fields are skipped by wire type (forward compatibility); a
  length-delimited field that runs past the buffer is an error

``google.protobuf.Any`` is itself a two-field message
(``type_url = 1``, ``value = 2``); Flight SQL type URLs are
``type.googleapis.com/arrow.flight.protocol.sql.<Message>``.
"""

from __future__ import annotations

from typing import Any as _PyAny

from gizmosql_spark.vendor.google.protobuf import _wire

# ---------------------------------------------------------------------
# message registry — apache/arrow format/FlightSql.proto field numbers
# ---------------------------------------------------------------------

#: field kinds: string | bytes | bool | int32 | int64 | uint32 | enum
#: | msg:<Name> (nested message) | map_str (map<string,string>)
#: | rep_uint32 (repeated, packed) | rep_string (repeated)
MESSAGES: dict[str, list[tuple[int, str, str]]] = {
    "CommandStatementQuery": [
        (1, "query", "string"),
        (2, "transaction_id", "bytes"),
    ],
    "CommandStatementUpdate": [
        (1, "query", "string"),
        (2, "transaction_id", "bytes"),
    ],
    "TicketStatementQuery": [
        (1, "statement_handle", "bytes"),
    ],
    "CommandPreparedStatementQuery": [
        (1, "prepared_statement_handle", "bytes"),
    ],
    "CommandPreparedStatementUpdate": [
        (1, "prepared_statement_handle", "bytes"),
    ],
    "DoPutUpdateResult": [
        (1, "record_count", "int64"),
    ],
    "DoPutPreparedStatementResult": [
        (1, "prepared_statement_handle", "bytes"),
    ],
    "ActionCreatePreparedStatementRequest": [
        (1, "query", "string"),
        (2, "transaction_id", "bytes"),
    ],
    "ActionCreatePreparedStatementResult": [
        (1, "prepared_statement_handle", "bytes"),
        (2, "dataset_schema", "bytes"),
        (3, "parameter_schema", "bytes"),
    ],
    "ActionClosePreparedStatementRequest": [
        (1, "prepared_statement_handle", "bytes"),
    ],
    "ActionBeginTransactionRequest": [],
    "ActionBeginTransactionResult": [
        (1, "transaction_id", "bytes"),
    ],
    "ActionEndTransactionRequest": [
        (1, "transaction_id", "bytes"),
        (2, "action", "enum"),  # 1=COMMIT, 2=ROLLBACK
    ],
    "CommandGetCatalogs": [],
    "CommandGetDbSchemas": [
        (1, "catalog", "string"),
        (2, "db_schema_filter_pattern", "string"),
    ],
    "CommandGetTables": [
        (1, "catalog", "string"),
        (2, "db_schema_filter_pattern", "string"),
        (3, "table_name_filter_pattern", "string"),
        (4, "table_types", "rep_string"),
        (5, "include_schema", "bool"),
    ],
    "CommandGetTableTypes": [],
    "CommandGetPrimaryKeys": [
        (1, "catalog", "string"),
        (2, "db_schema", "string"),
        (3, "table", "string"),
    ],
    "CommandGetExportedKeys": [
        (1, "catalog", "string"),
        (2, "db_schema", "string"),
        (3, "table", "string"),
    ],
    "CommandGetImportedKeys": [
        (1, "catalog", "string"),
        (2, "db_schema", "string"),
        (3, "table", "string"),
    ],
    "CommandGetCrossReference": [
        (1, "pk_catalog", "string"),
        (2, "pk_db_schema", "string"),
        (3, "pk_table", "string"),
        (4, "fk_catalog", "string"),
        (5, "fk_db_schema", "string"),
        (6, "fk_table", "string"),
    ],
    "CommandGetSqlInfo": [
        (1, "info", "rep_uint32"),
    ],
    "CommandGetXdbcTypeInfo": [
        (1, "data_type", "int32"),
    ],
    "TableDefinitionOptions": [
        (1, "if_not_exist", "enum"),  # 0=UNSPECIFIED 1=CREATE 2=FAIL
        (2, "if_exists", "enum"),  # 0=UNSPEC 1=FAIL 2=APPEND 3=REPLACE
    ],
    "CommandStatementIngest": [
        (1, "table_definition_options", "msg:TableDefinitionOptions"),
        (2, "table", "string"),
        (3, "schema", "string"),
        (4, "catalog", "string"),
        (5, "temporary", "bool"),
        (6, "transaction_id", "bytes"),
        (1000, "options", "map_str"),
    ],
    # google.protobuf.Any — same wire format, different type-url root
    "Any": [
        (1, "type_url", "string"),
        (2, "value", "bytes"),
    ],
    # --- Flight-core session spec (arrow.flight.protocol package) ----
    # These action bodies/results are serialized DIRECTLY (no Any
    # wrapping), matching the stock client implementations.
    "StringListValue": [
        (1, "values", "rep_string"),
    ],
    "SessionOptionValue": [  # oneof option_value: at most one set
        (1, "string_value", "string"),
        (2, "bool_value", "bool"),
        (3, "int64_value", "int64"),
        (4, "double_value", "double"),
        (5, "string_list_value", "msg:StringListValue"),
    ],
    "SetSessionOptionsRequest": [
        (1, "session_options", "map_msg:SessionOptionValue"),
    ],
    "SetSessionOptionsResult.Error": [
        (1, "value", "enum"),  # 1=INVALID_NAME 2=INVALID_VALUE 3=ERROR
    ],
    "SetSessionOptionsResult": [
        (1, "errors", "map_msg:SetSessionOptionsResult.Error"),
    ],
    "GetSessionOptionsRequest": [],
    "GetSessionOptionsResult": [
        (1, "session_options", "map_msg:SessionOptionValue"),
    ],
    "CloseSessionRequest": [],
    "CloseSessionResult": [
        (1, "status", "enum"),  # 1=CLOSED 2=CLOSING 3=NOT_CLOSEABLE
    ],
    # flight-core cancel: the embedded FlightInfo is opaque here (the
    # engine cancels per session, not per ticket)
    "CancelFlightInfoRequest": [
        (1, "info", "bytes"),
    ],
    "CancelFlightInfoResult": [
        (1, "status", "enum"),  # 1=CANCELLED 2=CANCELLING 3=NOT_CANCELLABLE
    ],
    # legacy Flight SQL cancel (Any-wrapped like the other sql actions)
    "ActionCancelQueryRequest": [
        (1, "info", "bytes"),
    ],
    "ActionCancelQueryResult": [
        (1, "result", "enum"),  # 1=CANCELLED 2=CANCELLING 3=NOT_CANCELLABLE
    ],
}

#: enum value names for TableDefinitionOptions (public FlightSql.proto)
TABLE_NOT_EXIST_UNSPECIFIED = 0
TABLE_NOT_EXIST_CREATE = 1
TABLE_NOT_EXIST_FAIL = 2
TABLE_EXISTS_UNSPECIFIED = 0
TABLE_EXISTS_FAIL = 1
TABLE_EXISTS_APPEND = 2
TABLE_EXISTS_REPLACE = 3
END_TRANSACTION_COMMIT = 1
END_TRANSACTION_ROLLBACK = 2

_TYPE_URL_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."


# ---------------------------------------------------------------------
# encode / decode
# ---------------------------------------------------------------------


def _put_len(out: bytearray, number: int, payload: bytes) -> None:
    _wire.write_tag(out, number, _wire.WIRETYPE_LENGTH_DELIMITED)
    _wire.write_len_delimited(out, payload)


def _map_entry(key: str, value: bytes) -> bytes:
    entry = bytearray()
    _put_len(entry, 1, key.encode("utf-8"))
    _put_len(entry, 2, value)
    return bytes(entry)


def encode(message: str, values: dict[str, _PyAny]) -> bytes:
    """Serialize ``values`` as the named message (proto3 canonical:
    defaults omitted, fields in number order)."""
    fields = MESSAGES[message]
    known = {name for _, name, _ in fields}
    unknown = set(values) - known
    if unknown:
        raise ValueError(f"{message}: unknown fields {sorted(unknown)}")
    out = bytearray()
    for number, name, kind in fields:
        v = values.get(name)
        if v is None:
            continue
        if kind == "string":
            if v != "":
                _put_len(out, number, v.encode("utf-8"))
        elif kind == "bytes":
            if v != b"":
                _put_len(out, number, bytes(v))
        elif kind in ("bool", "int32", "int64", "uint32", "enum"):
            if v:
                _wire.write_tag(out, number, _wire.WIRETYPE_VARINT)
                _wire.write_varint(out, int(v))
        elif kind == "rep_uint32":
            if v:
                packed = bytearray()
                for x in v:
                    _wire.write_varint(packed, int(x))
                _put_len(out, number, bytes(packed))
        elif kind == "rep_string":
            for item in v:
                _put_len(out, number, item.encode("utf-8"))
        elif kind == "double":
            if v != 0.0:
                _wire.write_tag(out, number, _wire.WIRETYPE_FIXED64)
                _wire.encode_double(out, float(v))
        elif kind == "map_str":
            for k in sorted(v):
                _put_len(out, number, _map_entry(k, v[k].encode("utf-8")))
        elif kind.startswith("map_msg:"):
            for k in sorted(v):
                _put_len(out, number, _map_entry(k, encode(kind[8:], v[k])))
        elif kind.startswith("msg:"):
            _put_len(out, number, encode(kind[4:], v))
        else:  # pragma: no cover - registry is static
            raise ValueError(f"unsupported kind {kind}")
    return bytes(out)


def decode(message: str, buf: bytes) -> dict[str, _PyAny]:
    """Parse the named message; missing scalars get proto3 defaults,
    unknown fields are skipped. A length-delimited field, known or
    not, that runs past the end of ``buf`` raises ValueError."""
    fields = {number: (name, kind) for number, name, kind in MESSAGES[message]}
    out: dict[str, _PyAny] = {}
    for _, name, kind in MESSAGES[message]:
        if kind == "string":
            out[name] = ""
        elif kind == "bytes":
            out[name] = b""
        elif kind == "bool":
            out[name] = False
        elif kind in ("int32", "int64", "uint32", "enum"):
            out[name] = 0
        elif kind in ("rep_uint32", "rep_string"):
            out[name] = []
        elif kind == "double":
            out[name] = 0.0
        elif kind == "map_str" or kind.startswith("map_msg:"):
            out[name] = {}
        elif kind.startswith("msg:"):
            out[name] = None
    pos = 0
    while pos < len(buf):
        number, wire_type, pos = _wire.read_tag(buf, pos)
        spec = fields.get(number)
        if spec is None:
            pos = _wire.skip_field(buf, pos, wire_type)
            continue
        name, kind = spec
        if kind == "double":
            out[name], pos = _wire.decode_double(buf, pos)
        elif kind in ("bool", "int32", "int64", "uint32", "enum"):
            v, pos = _wire.read_varint(buf, pos)
            if kind == "bool":
                out[name] = bool(v)
            elif kind == "int32":
                out[name] = _wire.sign_extend_64(v)
            else:
                out[name] = v
        elif kind == "rep_uint32" and wire_type != 2:  # unpacked
            v, pos = _wire.read_varint(buf, pos)
            out[name].append(v)
        else:
            payload, pos = _wire.read_len_delimited(buf, pos)
            if kind == "rep_uint32":  # packed
                i = 0
                while i < len(payload):
                    v, i = _wire.read_varint(payload, i)
                    out[name].append(v)
            elif kind == "string":
                out[name] = payload.decode("utf-8")
            elif kind == "bytes":
                out[name] = payload
            elif kind == "rep_string":
                out[name].append(payload.decode("utf-8"))
            elif kind == "map_str":
                entry = decode("_MapEntry", payload)
                out[name][entry["key"]] = entry["value"]
            elif kind.startswith("map_msg:"):
                entry = decode("_MapMsgEntry", payload)
                out[name][entry["key"]] = decode(kind[8:], entry["value"])
            elif kind.startswith("msg:"):
                out[name] = decode(kind[4:], payload)
    return out


MESSAGES["_MapEntry"] = [(1, "key", "string"), (2, "value", "string")]
MESSAGES["_MapMsgEntry"] = [(1, "key", "string"), (2, "value", "bytes")]

SESSION_OPTIONS_SET_OK = 0
CLOSE_SESSION_CLOSED = 1
CANCEL_STATUS_CANCELLED = 1


def session_option_value(v) -> dict:
    """Python value → SessionOptionValue oneof dict."""
    if isinstance(v, bool):
        return {"bool_value": v}
    if isinstance(v, int):
        return {"int64_value": v}
    if isinstance(v, float):
        return {"double_value": v}
    if isinstance(v, (list, tuple)):
        return {"string_list_value": {"values": [str(x) for x in v]}}
    return {"string_value": str(v)}


def session_option_python(msg: dict):
    """SessionOptionValue oneof dict → Python value (proto3 cannot
    distinguish an unset oneof from zero defaults, so precedence:
    list > string > bool > int64 > double)."""
    if msg.get("string_list_value") and msg["string_list_value"]["values"]:
        return list(msg["string_list_value"]["values"])
    if msg.get("string_value"):
        return msg["string_value"]
    if msg.get("bool_value"):
        return True
    if msg.get("int64_value"):
        return msg["int64_value"]
    if msg.get("double_value"):
        return msg["double_value"]
    return msg.get("string_value", "")


# ---------------------------------------------------------------------
# google.protobuf.Any packing
# ---------------------------------------------------------------------


def pack_any(message: str, values: dict[str, _PyAny]) -> bytes:
    """Serialize a Flight SQL message wrapped in google.protobuf.Any
    (the form carried in FlightDescriptor.cmd, tickets, and action
    bodies/results)."""
    return encode(
        "Any",
        {"type_url": _TYPE_URL_PREFIX + message, "value": encode(message, values)},
    )


def unpack_any(buf: bytes) -> tuple[str, dict[str, _PyAny]] | None:
    """Try to parse ``buf`` as an Any-wrapped Flight SQL message.
    Returns (message_name, values) or None if it isn't one."""
    try:
        any_msg = decode("Any", buf)
    except (ValueError, UnicodeDecodeError):
        return None
    url = any_msg["type_url"]
    name = url.rsplit(".", 1)[-1] if url else ""
    if not url.startswith("type.googleapis.com/arrow.flight.protocol.sql") or (
        name not in MESSAGES
    ):
        return None
    try:
        return name, decode(name, any_msg["value"])
    except (ValueError, UnicodeDecodeError):
        return None
