"""Loopback Flight server tests — the wire-protocol parity gate.

A FlightEngineServer on 127.0.0.1 (port 0 = ephemeral), driven by a
real ``pyarrow.flight.FlightClient``: Basic→Bearer auth handshake,
statement query (TPC-H q01 over the sf0.001 fixture via replacement
scan), schema-without-execution, DoPut ingest round-trip, DML update
counts, prepared statements, transactions, and denial paths — the
end-to-end checks the reference runs against its own server
(/root/reference/tests: test_flight_sql.py-style coverage).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from gizmosql_spark.engine import Engine
from gizmosql_spark.flight_server import FlightEngineServer

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def server(spark):
    eng = Engine(spark=spark)
    eng.add_user("admin", "secret", role="admin")
    eng.add_user("reader", "r", role="readonly")
    srv = FlightEngineServer(engine=eng, location="grpc://127.0.0.1:0")
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    cl = flight.FlightClient(f"grpc://127.0.0.1:{server.port}")
    yield cl
    cl.close()


def _basic(user: str, pw: str) -> flight.FlightCallOptions:
    tok = base64.b64encode(f"{user}:{pw}".encode()).decode()
    return flight.FlightCallOptions(headers=[
        (b"authorization", f"Basic {tok}".encode())])


def _bearer(token: str) -> flight.FlightCallOptions:
    return flight.FlightCallOptions(headers=[
        (b"authorization", f"Bearer {token}".encode())])


def _action(client, name, body, opts):
    results = list(client.do_action(
        flight.Action(name, json.dumps(body).encode()), options=opts))
    return json.loads(results[0].body.to_pybytes()) if results else {}


@pytest.fixture(scope="module")
def admin_session(client):
    opts = _basic("admin", "secret")
    sid = _action(client, "create_session", {}, opts)["session"]
    return sid, opts


def _run_query(client, opts, sid, sql) -> pa.Table:
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_query", "session": sid,
                    "sql": sql}).encode())
    info = client.get_flight_info(desc, options=opts)
    ticket = info.endpoints[0].ticket
    return client.do_get(ticket, options=opts).read_all()


def test_auth_rejects_bad_credentials(client):
    with pytest.raises(flight.FlightUnauthenticatedError):
        _action(client, "health_check", {}, _basic("admin", "wrong"))
    with pytest.raises(flight.FlightUnauthenticatedError):
        _action(client, "health_check", {},
                flight.FlightCallOptions())  # no header


def test_health_check(client):
    assert _action(client, "health_check", {},
                   _basic("admin", "secret"))["healthy"] is True


def test_minted_bearer_token_roundtrip(server):
    """Basic auth mints a Bearer token in the response headers
    (mint-on-first-auth); the token then authenticates by itself."""

    class _Capture(flight.ClientMiddleware):
        def __init__(self, sink):
            self.sink = sink

        def received_headers(self, headers):
            for v in headers.get("authorization", []):
                self.sink.append(v)

    class _CaptureFactory(flight.ClientMiddlewareFactory):
        def __init__(self):
            self.tokens = []

        def start_call(self, info):
            return _Capture(self.tokens)

    factory = _CaptureFactory()
    cl = flight.FlightClient(
        f"grpc://127.0.0.1:{server.port}", middleware=[factory])
    try:
        _action(cl, "health_check", {}, _basic("admin", "secret"))
        bearers = [t for t in factory.tokens
                   if t.lower().startswith("bearer ")]
        assert bearers, "server should mint a Bearer token on Basic auth"
        token = bearers[0].split(" ", 1)[1]
        got = _action(cl, "health_check", {}, _bearer(token))
        assert got["healthy"] is True
        with pytest.raises(flight.FlightUnauthenticatedError):
            _action(cl, "health_check", {}, _bearer(token[:-4] + "AAAA"))
    finally:
        cl.close()


def test_statement_query_roundtrip(client, admin_session):
    sid, opts = admin_session
    t = _run_query(client, opts, sid, "SELECT 1 AS x, 'a' AS s")
    assert t.num_rows == 1
    assert t.column("x")[0].as_py() == 1


def test_served_statement_is_recorded(server, client, admin_session):
    """GetFlightInfo then DoGet leaves the statement one execution row
    with its duration and one statement.collect span under the
    statement.execute span, carrying the rows the client read. The
    repeat is served from the plan cache and leaves the same records."""
    eng = server.engine
    sid, opts = admin_session
    sql = "SELECT id, id * 2 AS twice FROM range(37)"
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_query", "session": sid,
                    "sql": sql}).encode())
    # a result over one Arrow batch is never stored, so the repeat runs
    # the cached plan again (test_result_reuse covers a stored result)
    eng.execute_sql(sid, "SET spark.sql.execution.arrow.maxRecordsPerBatch"
                         " = 10")
    for outcome in ("miss", "hit"):
        ok0 = eng.telemetry.counter_value(
            "engine.statements_total", status="ok")
        info = client.get_flight_info(desc, options=opts)
        execute = [s for s in eng.telemetry.spans()
                   if s.name == "statement.execute"
                   and s.attributes["session"] == sid][-1]
        assert execute.attributes["plan_cache"] == outcome
        table = client.do_get(
            info.endpoints[0].ticket, options=opts).read_all()
        assert table.num_rows == 37
        assert eng.telemetry.counter_value(
            "engine.statements_total", status="ok") == ok0 + 1
        last = eng.query_log.entries()[-1]
        assert (last.session_id, last.sql, last.status) == (sid, sql, "ok")

        stmt_id = [s[0] for s in eng.instr.statements
                   if s[1] == sid and s[2] == sql][-1]
        eng.instr.publish(eng.spark)
        rows = eng.spark.sql(
            "SELECT status, duration_ms, start_time, end_time, rows_fetched"
            " FROM global_temp.engine_instr_executions"
            f" WHERE statement_id = '{stmt_id}'").collect()
        assert len(rows) == 1
        assert rows[0]["status"] == "success"
        assert rows[0]["rows_fetched"] == 37
        assert rows[0]["duration_ms"] > 0
        assert rows[0]["end_time"] > rows[0]["start_time"]

        collects = [s for s in eng.telemetry.spans()
                    if s.name == "statement.collect"
                    and s.trace_id == execute.trace_id]
        assert len(collects) == 1
        assert collects[0].parent_id == execute.span_id
        assert collects[0].attributes["rows"] == table.num_rows
    eng.execute_sql(sid, "RESET spark.sql.execution.arrow.maxRecordsPerBatch")


def test_tpch_q01_over_flight(client, admin_session):
    """q01 end-to-end through the wire: replacement scan on the
    fixture parquet, grouped aggregation, ordered output."""
    sid, opts = admin_session
    q01 = f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS DOUBLE)       AS sum_qty,
               CAST(sum(l_extendedprice) AS DOUBLE)  AS sum_base_price,
               count(*)                              AS count_order
        FROM '{SF_DIR}/lineitem.parquet'
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    t = _run_query(client, opts, sid, q01)
    assert t.num_rows >= 4
    assert t.column_names == [
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "count_order"]
    # spot-check against a direct DuckDB run of the same SQL
    import duckdb

    o = duckdb.sql(q01.replace("count(*)", "CAST(count(*) AS BIGINT)"))
    assert sorted(map(tuple, o.fetchall())) == sorted(
        tuple(r[c] for c in t.column_names)
        for r in t.to_pylist())


def test_get_schema_without_execution(client, admin_session):
    sid, opts = admin_session
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_query", "session": sid,
                    "sql": "SELECT 1 AS a, CAST(2.5 AS DOUBLE) AS b"}
                   ).encode())
    res = client.get_schema(desc, options=opts)
    schema = res.schema
    assert schema.names == ["a", "b"]
    assert schema.field("b").type == pa.float64()


def _put(client, opts, sid, table, data, mode="replace") -> int:
    """One DoPut ingest; the record count the server acknowledged."""
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "ingest", "session": sid, "table": table,
                    "mode": mode}).encode())
    writer, meta_reader = client.do_put(desc, data.schema, options=opts)
    writer.write_table(data)
    writer.done_writing()
    ack = meta_reader.read()
    writer.close()  # raises the server's error, if any
    return json.loads(ack.to_pybytes())["record_count"]


def test_ingest_roundtrip(client, admin_session):
    sid, opts = admin_session
    data = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    assert _put(client, opts, sid, "t_flight_ingest", data) == 3
    t = _run_query(client, opts, sid,
                   "SELECT * FROM t_flight_ingest ORDER BY id")
    assert t.column("id").to_pylist() == [1, 2, 3]
    # append mode aligns by name
    more = pa.table({"v": ["d"], "id": [4]})
    assert _put(client, opts, sid, "t_flight_ingest", more,
                mode="append") == 1
    t2 = _run_query(client, opts, sid,
                    "SELECT count(*) AS n FROM t_flight_ingest")
    assert t2.column("n")[0].as_py() == 4


_T = dt.time(1, 2, 3, 4)
_TS = dt.datetime(2024, 2, 29, 12, 30, 45, 123456)
_UTC = dt.timezone.utc

#: SURVEY §1.2 rows a managed table can hold: (name, sent, type read
#: back, values read back). Naive timestamps come back as UTC
#: timestamps (the session time zone), at µs.
_WIRE_TYPES = [
    ("bool", pa.array([True, None], pa.bool_()), pa.bool_(), [True, None]),
    ("int8", pa.array([-128, None], pa.int8()), pa.int8(), [-128, None]),
    ("int16", pa.array([-2**15, None], pa.int16()), pa.int16(),
     [-2**15, None]),
    ("int32", pa.array([2**31 - 1, None], pa.int32()), pa.int32(),
     [2**31 - 1, None]),
    ("int64", pa.array([-2**63, None], pa.int64()), pa.int64(),
     [-2**63, None]),
    ("uint8", pa.array([255, None], pa.uint8()), pa.int16(), [255, None]),
    ("uint16", pa.array([65535, None], pa.uint16()), pa.int32(),
     [65535, None]),
    ("uint32", pa.array([2**32 - 1, None], pa.uint32()), pa.int64(),
     [2**32 - 1, None]),
    ("uint64", pa.array([2**64 - 1, None], pa.uint64()),
     pa.decimal128(20, 0), [Decimal(2**64 - 1), None]),
    ("hugeint", pa.array([Decimal(10**37), None], pa.decimal128(38, 0)),
     pa.decimal128(38, 0), [Decimal(10**37), None]),
    ("float32", pa.array([1.5, None], pa.float32()), pa.float32(),
     [1.5, None]),
    ("float64", pa.array([-2.25, None], pa.float64()), pa.float64(),
     [-2.25, None]),
    ("decimal", pa.array([Decimal("123.45"), None], pa.decimal128(15, 2)),
     pa.decimal128(15, 2), [Decimal("123.45"), None]),
    ("decimal256", pa.array([Decimal("1.25"), None], pa.decimal256(20, 2)),
     pa.decimal128(20, 2), [Decimal("1.25"), None]),
    ("varchar", pa.array(["é", None], pa.string()), pa.string(),
     ["é", None]),
    ("large_varchar", pa.array(["x", None], pa.large_string()), pa.string(),
     ["x", None]),
    ("blob", pa.array([b"\x00\xff", None], pa.binary()), pa.binary(),
     [b"\x00\xff", None]),
    ("date", pa.array([dt.date(2024, 2, 29), None], pa.date32()),
     pa.date32(), [dt.date(2024, 2, 29), None]),
    ("time", pa.array([_T, None], pa.time64("us")), pa.int64(),
     [3_723_000_004, None]),
    ("timestamp_s", pa.array([_TS.replace(microsecond=0), None],
                             pa.timestamp("s")),
     pa.timestamp("us", tz="UTC"),
     [_TS.replace(microsecond=0, tzinfo=_UTC), None]),
    ("timestamp_ms", pa.array([_TS.replace(microsecond=123000), None],
                              pa.timestamp("ms")),
     pa.timestamp("us", tz="UTC"),
     [_TS.replace(microsecond=123000, tzinfo=_UTC), None]),
    ("timestamp_us", pa.array([_TS, None], pa.timestamp("us")),
     pa.timestamp("us", tz="UTC"), [_TS.replace(tzinfo=_UTC), None]),
    # ns truncates to µs
    ("timestamp_ns", pa.array([1_709_209_845_123_456_789, None],
                              pa.timestamp("ns")),
     pa.timestamp("us", tz="UTC"),
     [dt.datetime(2024, 2, 29, 12, 30, 45, 123456, tzinfo=_UTC), None]),
    ("timestamp_tz", pa.array([_TS.replace(tzinfo=_UTC), None],
                              pa.timestamp("us", tz="UTC")),
     pa.timestamp("us", tz="UTC"), [_TS.replace(tzinfo=_UTC), None]),
    ("interval", pa.array([dt.timedelta(days=2, microseconds=7), None],
                          pa.duration("us")),
     pa.duration("us"), [dt.timedelta(days=2, microseconds=7), None]),
    ("list", pa.array([[1, None], None], pa.list_(pa.int32())),
     pa.list_(pa.field("element", pa.int32())), [[1, None], None]),
    ("large_list", pa.array([[2**40], None], pa.large_list(pa.int64())),
     pa.list_(pa.field("element", pa.int64())), [[2**40], None]),
    ("list_uint8", pa.array([[0, 255], None], pa.list_(pa.uint8())),
     pa.list_(pa.field("element", pa.int16())), [[0, 255], None]),
    ("fixed_size_list", pa.array([[1, 2], None], pa.list_(pa.int32(), 2)),
     pa.list_(pa.field("element", pa.int32())), [[1, 2], None]),
    ("struct", pa.array([{"a": 1, "b": "x"}, None],
                        pa.struct([("a", pa.int32()), ("b", pa.string())])),
     pa.struct([("a", pa.int32()), ("b", pa.string())]),
     [{"a": 1, "b": "x"}, None]),
    ("map", pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
     pa.map_(pa.string(), pa.int64()), [[("k", 1)], None]),
    ("enum", pa.array(["red", None]).dictionary_encode(), pa.string(),
     ["red", None]),
    ("sqlnull", pa.array([None, None], pa.null()), pa.null(), [None, None]),
]


@pytest.mark.parametrize("name,sent,typ,values", _WIRE_TYPES,
                         ids=[c[0] for c in _WIRE_TYPES])
def test_ingest_type_roundtrip(client, admin_session, name, sent, typ,
                               values):
    """DoPut then DoGet of one column of each type: Spark's missing
    types widen by the §1.2 rules (types.widen_for_spark)."""
    sid, opts = admin_session
    table = f"t_wire_{name}"
    data = pa.table({"id": [0, 1], "v": sent})
    assert _put(client, opts, sid, table, data) == 2
    got = _run_query(client, opts, sid, f"SELECT v FROM {table} ORDER BY id")
    assert got.schema.field("v").type == typ
    assert got.column("v").to_pylist() == values


def test_ingest_rejects_decimal256_naming_the_column(client, admin_session):
    sid, opts = admin_session
    data = pa.table({"id": [0], "wide": pa.array([Decimal("1.5")],
                                                 pa.decimal256(40, 2))})
    with pytest.raises(flight.FlightError, match="'wide'.*38"):
        _put(client, opts, sid, "t_wire_decimal256_wide", data)


def test_ingest_leaves_span_and_counter(server, client, admin_session):
    """One DoPut leaves one statement.ingest span (rows, Arrow bytes,
    mode, partitions written) and adds its rows to the counter."""
    eng = server.engine
    sid, opts = admin_session
    rows0 = eng.telemetry.counter_value("engine.ingest_rows_total")
    data = pa.table({"id": list(range(25_000)), "v": ["x"] * 25_000})
    assert _put(client, opts, sid, "t_flight_ingest_obs", data) == 25_000
    spans = [s for s in eng.telemetry.spans()
             if s.name == "statement.ingest"
             and s.attributes["table"] == "t_flight_ingest_obs"]
    assert len(spans) == 1
    attrs = spans[0].attributes
    assert attrs["session"] == sid
    assert attrs["mode"] == "replace"
    assert attrs["rows"] == 25_000
    assert attrs["arrow_bytes"] == data.nbytes
    cores = eng.spark.sparkContext.defaultParallelism
    # 25k rows arrive as three 10k-row Arrow batches
    assert attrs["partitions"] == min(3, cores)
    assert spans[0].status_code == "STATUS_CODE_OK"
    assert eng.telemetry.counter_value(
        "engine.ingest_rows_total") == rows0 + 25_000


def test_statement_update_via_doput(client, admin_session):
    sid, opts = admin_session
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_update", "session": sid,
                    "sql": "INSERT INTO t_flight_ingest VALUES (9, 'z')"}
                   ).encode())
    writer, meta_reader = client.do_put(
        desc, pa.schema([]), options=opts)
    writer.done_writing()
    ack = json.loads(meta_reader.read().to_pybytes())
    writer.close()
    assert ack["record_count"] == 1


def test_prepared_statement_lifecycle(client, admin_session):
    sid, opts = admin_session
    created = _action(client, "create_prepared_statement",
                      {"session": sid,
                       "sql": "SELECT :n + 1 AS out"}, opts)
    handle = created["handle"]
    assert created["parameters"] == ["n"]
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "prepared_query", "session": sid,
                    "handle": handle,
                    "parameters": {"n": 41}}).encode())
    info = client.get_flight_info(desc, options=opts)
    t = client.do_get(info.endpoints[0].ticket, options=opts).read_all()
    assert t.column("out")[0].as_py() == 42
    _action(client, "close_prepared_statement",
            {"session": sid, "handle": handle}, opts)


def test_transaction_rollback_over_flight(client, admin_session):
    sid, opts = admin_session
    _run_query(client, opts, sid, "SELECT 1")  # warm
    _action(client, "begin_transaction", {"session": sid}, opts)
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_update", "session": sid,
                    "sql": "INSERT INTO t_flight_ingest VALUES (99, 'tx')"}
                   ).encode())
    w, mr = client.do_put(desc, pa.schema([]), options=opts)
    w.done_writing()
    mr.read()
    w.close()
    _action(client, "end_transaction",
            {"session": sid, "commit": False}, opts)
    t = _run_query(client, opts, sid,
                   "SELECT count(*) AS n FROM t_flight_ingest WHERE id = 99")
    assert t.column("n")[0].as_py() == 0


def test_readonly_role_denied_writes(client):
    opts = _basic("reader", "r")
    sid = _action(client, "create_session", {}, opts)["session"]
    with pytest.raises((flight.FlightUnauthorizedError, flight.FlightError)):
        _run_query(client, opts, sid,
                   "CREATE TABLE t_should_fail AS SELECT 1 AS a")
    # reads still fine
    t = _run_query(client, opts, sid, "SELECT 2 AS y")
    assert t.column("y")[0].as_py() == 2
    _action(client, "close_session", {"session": sid}, opts)


def test_session_options_over_flight(client, admin_session):
    sid, opts = admin_session
    got = _action(client, "get_session_options", {"session": sid}, opts)
    assert got["catalog"] == "spark_catalog"
    assert got["schema"] == "default"


def test_list_actions_and_flights(client, admin_session):
    sid, opts = admin_session
    names = [a.type for a in client.list_actions(options=opts)]
    assert "create_session" in names and "begin_transaction" in names
    flights = list(client.list_flights(options=opts))
    assert any(
        f.descriptor.path[-1] == b"t_flight_ingest" for f in flights)


def test_missing_session_rejected(client, admin_session):
    _, opts = admin_session
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_query",
                    "sql": "SELECT 1"}).encode())
    with pytest.raises(flight.FlightError):
        client.get_flight_info(desc, options=opts)


def test_ticket_is_one_shot(client, admin_session):
    sid, opts = admin_session
    desc = flight.FlightDescriptor.for_command(
        json.dumps({"type": "statement_query", "session": sid,
                    "sql": "SELECT 7 AS z"}).encode())
    info = client.get_flight_info(desc, options=opts)
    ticket = info.endpoints[0].ticket
    client.do_get(ticket, options=opts).read_all()
    with pytest.raises(flight.FlightError):
        client.do_get(ticket, options=opts).read_all()


def test_pipeline_op_over_flight(client, admin_session):
    """The operator tier through the wire: pipeline_op as a table
    function inside a plain Flight SQL statement."""
    sid, opts = admin_session
    t = _run_query(
        client, opts, sid,
        f"SELECT * FROM pipeline_op('dataset_split', '{SF_DIR}')"
        " ORDER BY split",
    )
    assert t.num_rows >= 1
    assert "split" in t.schema.names and "n_docs" in t.schema.names
