"""Stock-client golden-session replay — the interop gate.

`adbc_driver_flightsql` is not installable in this sandbox, so this is
the recorded-session equivalent: every client→server payload below is
built from the PUBLIC proto3 wire format and the PUBLIC FlightSql.proto
schema by a ~20-line encoder local to this test — the repo's own
``flightsql_proto`` codec is never imported, so nothing here can pass
because "our encoder talks to our decoder". The call sequence mirrors
what the stock Apache Arrow ADBC Flight SQL driver performs on
connect + query:

  1. GetFlightInfo(CommandGetSqlInfo) + DoGet    (driver handshake —
     server name / version / read-only probe)
  2. GetFlightInfo(CommandGetCatalogs/DbSchemas/Tables/TableTypes)
     + DoGet                                      (metadata browse)
  3. GetSchema(CommandStatementQuery)             (schema w/o execute)
  4. GetFlightInfo(CommandStatementQuery) + DoGet (execute; the ticket
     is treated as an opaque blob, exactly as a stock client must)
  5. DoPut(CommandStatementUpdate) → DoPutUpdateResult metadata
  6. DoAction("CreatePreparedStatement") → bind params over
     DoPut(CommandPreparedStatementQuery) → execute → ClosePreparedStatement

Responses are parsed with the same local decoder. Reference surface:
/root/reference/src/flight_sql (the whole server contract); hard
golden literals are anchored below so a wire regression shows up as a
byte diff, not just a behavior change.
"""

from __future__ import annotations

import base64
import os

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from gizmosql_spark.engine import Engine
from gizmosql_spark.flight_server import FlightEngineServer

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------
# Local clean-room proto3 wire helpers (public spec, not the repo codec)
# ---------------------------------------------------------------------

_PKG = b"type.googleapis.com/arrow.flight.protocol.sql."


def _varint(n: int) -> bytes:
    out = b""
    while True:
        b7, n = n & 0x7F, n >> 7
        if n:
            out += bytes([b7 | 0x80])
        else:
            return out + bytes([b7])


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _field(num: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return bytes([(num << 3) | 2]) + _varint(len(payload)) + payload


def _any(name: bytes, payload: bytes = b"") -> bytes:
    """google.protobuf.Any: field 1 = type_url, field 2 = value.
    Stock clients omit field 2 entirely for empty messages."""
    out = _field(1, _PKG + name)
    if payload:
        out += _field(2, payload)
    return out


def _fields(buf: bytes) -> dict[int, list]:
    """Parse one message level: {field_num: [values]}; length-delimited
    values stay bytes, varints stay ints."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wt = tag >> 3, tag & 7
        if wt == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wt == 0:
            val, pos = _read_varint(buf, pos)
        else:  # pragma: no cover — no fixed32/64 in these messages
            raise AssertionError(f"unexpected wire type {wt}")
        out.setdefault(num, []).append(val)
    return out


# ---------------------------------------------------------------------
# hard golden anchors (hand-computed from the wire spec)
# ---------------------------------------------------------------------


def test_golden_byte_anchors():
    # CommandStatementQuery{query: "SELECT 1"}: tag 0x0A, len 8
    assert _field(1, b"SELECT 1") == b"\x0a\x08SELECT 1"
    # Any around it: type_url is 46 (pkg) + 21 = 67 bytes = 0x43
    any_bytes = _any(b"CommandStatementQuery", b"\x0a\x08SELECT 1")
    assert any_bytes.startswith(b"\x0a\x43type.googleapis.com/")
    assert any_bytes.endswith(b"\x12\x0a\x0a\x08SELECT 1")
    # packed repeated uint32 [0,1,2,3] (GetSqlInfo probe)
    assert _field(1, bytes([0, 1, 2, 3])) == b"\x0a\x04\x00\x01\x02\x03"


# ---------------------------------------------------------------------
# live-server replay
# ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def server(spark):
    eng = Engine(spark=spark)
    eng.add_user("admin", "secret", role="admin")
    srv = FlightEngineServer(engine=eng, location="grpc://127.0.0.1:0")
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    cl = flight.FlightClient(f"grpc://127.0.0.1:{server.port}")
    yield cl
    cl.close()


@pytest.fixture(scope="module")
def opts(client):
    tok = base64.b64encode(b"admin:secret").decode()
    return flight.FlightCallOptions(headers=[
        (b"authorization", f"Basic {tok}".encode())])


def _fetch(client, opts, cmd: bytes) -> pa.Table:
    desc = flight.FlightDescriptor.for_command(cmd)
    info = client.get_flight_info(desc, options=opts)
    # stock clients treat the ticket as opaque and echo it verbatim
    return client.do_get(info.endpoints[0].ticket, options=opts).read_all()


def test_connect_probe_get_sql_info(client, opts):
    """Step 1 of the stock driver's connect: GetSqlInfo for server
    name / version / arrow version / read-only (ids 0-3, packed)."""
    t = _fetch(client, opts,
               _any(b"CommandGetSqlInfo", _field(1, bytes([0, 1, 2, 3]))))
    assert t.schema.names == ["info_name", "value"]
    assert t.schema.field("info_name").type == pa.uint32()
    assert pa.types.is_union(t.schema.field("value").type)
    assert sorted(t.column("info_name").to_pylist()) == [0, 1, 2, 3]


def test_metadata_browse(client, opts, server):
    """Step 2: catalogs → schemas → tables → table types, all with
    raw Any payloads (empty messages omit the value field)."""
    t = _fetch(client, opts, _any(b"CommandGetCatalogs"))
    assert t.schema.names == ["catalog_name"]
    assert "spark_catalog" in t.column("catalog_name").to_pylist()

    t = _fetch(client, opts, _any(b"CommandGetDbSchemas"))
    assert t.schema.names == ["catalog_name", "db_schema_name"]
    assert "default" in t.column("db_schema_name").to_pylist()

    server.engine.spark.sql(
        "CREATE TABLE IF NOT EXISTS stockcl_tbl AS SELECT 1 AS a")
    try:
        # CommandGetTables{table_name_filter_pattern: "stockcl%"}
        # (field 3), include_schema=true (field 5, varint 1)
        t = _fetch(client, opts, _any(
            b"CommandGetTables",
            _field(3, b"stockcl%") + bytes([5 << 3]) + b"\x01"))
        assert "stockcl_tbl" in t.column("table_name").to_pylist()
        blob = t.column("table_schema").to_pylist()[0]
        assert pa.ipc.read_schema(pa.py_buffer(blob)).names == ["a"]
    finally:
        server.engine.spark.sql("DROP TABLE IF EXISTS stockcl_tbl")

    t = _fetch(client, opts, _any(b"CommandGetTableTypes"))
    assert set(t.column("table_type").to_pylist()) >= {"BASE TABLE", "VIEW"}


def test_schema_then_execute(client, opts):
    """Steps 3-4: GetSchema without execution, then the execute flow
    over a real parquet scan."""
    q = f"SELECT r_regionkey FROM parquet.`{SF_DIR}/region.parquet`"
    cmd = _any(b"CommandStatementQuery", _field(1, q.encode()))
    schema = client.get_schema(
        flight.FlightDescriptor.for_command(cmd), options=opts).schema
    assert schema.names == ["r_regionkey"]
    t = _fetch(client, opts, cmd)
    assert sorted(t.column("r_regionkey").to_pylist()) == [0, 1, 2, 3, 4]


def test_statement_update_do_put(client, opts, server):
    """Step 5: DoPut with CommandStatementUpdate; the server's app
    metadata must parse as DoPutUpdateResult{record_count} (field 1
    varint) under the local decoder."""
    server.engine.spark.sql("DROP TABLE IF EXISTS stockcl_upd")
    server.engine.spark.sql(
        "CREATE TABLE stockcl_upd AS SELECT * FROM range(7)")
    try:
        q = b"DELETE FROM stockcl_upd WHERE id >= 5"
        desc = flight.FlightDescriptor.for_command(
            _any(b"CommandStatementUpdate", _field(1, q)))
        w, r = client.do_put(desc, pa.schema([]), options=opts)
        w.done_writing()
        raw = r.read().to_pybytes()
        assert _fields(raw)[1] == [2]  # record_count = 2
        w.close()
    finally:
        server.engine.spark.sql("DROP TABLE IF EXISTS stockcl_upd")


def test_prepared_statement_lifecycle(client, opts):
    """Step 6: the stock prepared-statement flow — create (DoAction
    with Any-wrapped request), bind over DoPut, execute, close. The
    handle returned by the server is treated as an opaque blob."""
    # ActionCreatePreparedStatementRequest{query: "..."} (field 1)
    q = b"SELECT ? + 1 AS bumped"
    create = _any(b"ActionCreatePreparedStatementRequest", _field(1, q))
    res = list(client.do_action(
        flight.Action("CreatePreparedStatement", create), options=opts))
    body = res[0].body.to_pybytes()
    # response: Any{ActionCreatePreparedStatementResult}; field 1 =
    # prepared_statement_handle
    outer = _fields(body)
    assert outer[1][0].startswith(_PKG[:20])  # type_url present
    handle = _fields(outer[2][0])[1][0]
    assert isinstance(handle, bytes) and handle

    # bind a parameter batch over DoPut(CommandPreparedStatementQuery)
    bind_desc = flight.FlightDescriptor.for_command(
        _any(b"CommandPreparedStatementQuery", _field(1, handle)))
    params = pa.table({"param_1": pa.array([41], pa.int64())})
    w, r = client.do_put(bind_desc, params.schema, options=opts)
    w.write_table(params)
    w.done_writing()
    r.read()  # server acks the bind
    w.close()

    # execute: GetFlightInfo + DoGet with the same command
    t = _fetch(client, opts,
               _any(b"CommandPreparedStatementQuery", _field(1, handle)))
    assert t.column("bumped").to_pylist() == [42]

    # close
    close = _any(b"ActionClosePreparedStatementRequest", _field(1, handle))
    list(client.do_action(
        flight.Action("ClosePreparedStatement", close), options=opts))


def _prepare(client, opts, sql: bytes) -> bytes:
    create = _any(b"ActionCreatePreparedStatementRequest", _field(1, sql))
    res = list(client.do_action(
        flight.Action("CreatePreparedStatement", create), options=opts))
    return _fields(_fields(res[0].body.to_pybytes())[2][0])[1][0]


def _bind(client, opts, handle: bytes, params: pa.Table) -> None:
    desc = flight.FlightDescriptor.for_command(
        _any(b"CommandPreparedStatementQuery", _field(1, handle)))
    w, r = client.do_put(desc, params.schema, options=opts)
    w.write_table(params)
    w.done_writing()
    r.read()
    w.close()


def _records(eng, sql: str) -> tuple:
    """What the last statement left: its query-log entry, its access-log
    entry, and the span names, parents and rows of its trace."""
    last = eng.query_log.entries()[-1]
    access = [e for e in eng.access_log.entries()
              if e[1] == "execute_sql"][-1]
    execute = [s for s in eng.telemetry.spans()
               if s.name == "statement.execute"][-1]
    trace = [s for s in eng.telemetry.spans()
             if s.trace_id == execute.trace_id]
    assert last.sql == sql
    return ((last.session_id, last.sql, last.status),
            (access[1], access[3], access[4], access[6]),
            [(s.name, s.parent_id == execute.span_id,
              s.attributes.get("rows")) for s in trace])


def test_prepared_execution_recorded_like_direct(client, opts, server):
    """A stock-protocol prepared execution leaves the records the same
    statement sent directly leaves."""
    eng = server.engine
    q = "SELECT id * 2 AS twice FROM range(9)"
    seen = []
    for prepared in (False, True):
        if prepared:
            cmd = _any(b"CommandPreparedStatementQuery",
                       _field(1, _prepare(client, opts, q.encode())))
        else:
            cmd = _any(b"CommandStatementQuery", _field(1, q.encode()))
        ok0 = eng.telemetry.counter_value(
            "engine.statements_total", status="ok")
        assert _fetch(client, opts, cmd).num_rows == 9
        assert eng.telemetry.counter_value(
            "engine.statements_total", status="ok") == ok0 + 1
        seen.append(_records(eng, q))
    assert seen[0] == seen[1]
    assert seen[1][2] == [("statement.execute", False, None),
                          ("statement.collect", True, 9)]


def test_prepared_binds_live_on_the_handle(client, opts):
    """A re-bind replaces the values; a bind to an unknown handle fails
    as an execution of it does."""
    handle = _prepare(client, opts, b"SELECT ? AS v")
    cmd = _any(b"CommandPreparedStatementQuery", _field(1, handle))
    for value in (1, 2):
        _bind(client, opts, handle, pa.table({"param_1": [value]}))
        assert _fetch(client, opts, cmd).column("v").to_pylist() == [value]
    unknown = _any(b"CommandPreparedStatementQuery", _field(1, b"nope"))
    with pytest.raises(flight.FlightError, match="no such prepared"):
        _bind(client, opts, b"nope", pa.table({"param_1": [1]}))
    with pytest.raises(flight.FlightError, match="no such prepared"):
        _fetch(client, opts, unknown)


def test_prepared_get_schema(client, opts, server):
    """GetSchema of a prepared statement: a parameterless query or
    read-only command reports its columns, a write reports none and has
    not run, a statement with markers has no schema until executed."""
    def schema(sql: bytes) -> pa.Schema:
        cmd = _any(b"CommandPreparedStatementQuery",
                   _field(1, _prepare(client, opts, sql)))
        return client.get_schema(
            flight.FlightDescriptor.for_command(cmd), options=opts).schema

    assert schema(b"/* note */ (SELECT 1 AS one)").names == ["one"]
    assert schema(b"SHOW TABLES").names[:2] == ["namespace", "tableName"]
    assert schema(b"CREATE TABLE stockcl_never AS SELECT 1 AS x").names == []
    assert not server.engine.spark.catalog.tableExists("stockcl_never")
    with pytest.raises(pa.ArrowException, match="schema unavailable"):
        schema(b"SELECT ? AS v")
