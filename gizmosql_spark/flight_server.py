"""Arrow Flight server exposing the Engine over the wire.

The reference IS an Arrow Flight SQL server — a gRPC service speaking
the Flight RPC verbs with Flight-SQL protobuf command payloads
(/root/reference/src/duckdb/duckdb_server.cpp:1267-1302 GetFlightInfo/
DoGet statements, :1354-1513 prepared statements, :1804-1985 DoPut
ingest, :1987-2130 DoAction session/txn ops; gRPC service assembly
/root/reference/src/common/gizmosql_library.cpp:1077-1082; header auth
middleware /root/reference/src/common/gizmosql_security.cpp:317-440).

This module re-expresses that surface on ``pyarrow.flight``:

- **GetFlightInfo** (statement command) → ``Engine.execute_sql`` —
  lazy analysis returns the Arrow schema without execution, exactly
  the reference's prepare-only pass; the returned endpoint carries a
  one-shot ticket.
- **DoGet** (ticket) → ``Engine.collect_arrow`` under admission
  control + timeout watchdog, streamed back as record batches. The
  statement's execution row records its queue wait and duration, and
  a ``statement.collect`` span joins the statement's trace.
- **GetSchema** → analyzed schema only, no job.
- **DoPut** (ingest command) → ``Engine.ingest`` (create / replace /
  append by-name — the ADBC ``adbc_ingest`` modes).
- **DoPut** (update command) → ``Engine.execute_sql`` DML, affected
  count returned in the app metadata (the reference's
  DoPutCommandStatementUpdate); a prepared update binds its batch and
  runs through ``Engine.execute_prepared``, the same statement path.
  A DoPut of a prepared query binds the values onto the handle.
- **DoAction** → session create/close, BEGIN/COMMIT/ROLLBACK,
  prepared-statement lifecycle, cancel, kill-session, health check,
  session options — each a small JSON body.
- **Auth middleware**: ``authorization: Basic ...`` mints a signed
  bearer token (returned in the response headers, the reference's
  mint-on-first-auth flow); ``authorization: Bearer ...`` verifies and
  carries role + catalog-ACL claims into the session.

The server speaks BOTH command dialects on every verb:

- **Flight SQL protobuf** (the reference's wire contract): descriptor
  commands, tickets, and action bodies/results as
  ``google.protobuf.Any``-wrapped ``arrow.flight.protocol.sql.*``
  messages, hand-decoded by flightsql_proto (the protobuf package is
  unavailable here; the wire format is implemented directly). A stock
  Flight SQL / ADBC client's bytes work: CommandStatementQuery →
  DoGet(TicketStatementQuery), CreatePreparedStatement /
  DoPut(CommandPreparedStatementQuery) parameter binding,
  CommandStatementUpdate / Ingest via DoPut with DoPutUpdateResult
  metadata, Begin/EndTransaction actions, and the CommandGet*
  metadata commands with the spec's fixed result schemas
  (flightsql_meta). Protobuf-tier sessions are implicit per
  authenticated principal (Flight SQL commands carry no session id;
  the reference keys sessions off call identity the same way,
  duckdb_server.cpp:957-1079).
- **JSON dialect** (this repo's native client + CLI): JSON objects
  with a ``type`` tag mirroring the same message names
  (``statement_query`` ≈ CommandStatementQuery, ``ingest`` ≈
  CommandStatementIngest, ...), with explicit sessions.

Scale note: the server is a thin control plane. Data movement is
Arrow record batches both directions; query execution stays inside
Spark (distributed), and the only driver-resident state per statement
is its Arrow result while it streams out.
"""

from __future__ import annotations

import base64
import json
import threading
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.flight as flight
from pyspark.sql.pandas.types import to_arrow_schema

from gizmosql_spark import flightsql_meta as fsm
from gizmosql_spark import flightsql_proto as fsp
from gizmosql_spark import security
from gizmosql_spark.auth import AuthError
from gizmosql_spark.constraints import tpch_constraints
from gizmosql_spark.engine import Engine, StatementResult


class _AuthMiddleware(flight.ServerMiddleware):
    def __init__(self, claims: dict[str, Any], token: str | None,
                 minted: bool):
        self.claims = claims
        self.token = token
        self._minted = minted

    def sending_headers(self):
        # mint-on-first-auth: hand the signed bearer token back so the
        # client can switch from Basic to Bearer (reference
        # gizmosql_security.cpp:263-295)
        if self._minted and self.token:
            return {"authorization": f"Bearer {self.token}"}
        return {}


class _AuthMiddlewareFactory(flight.ServerMiddlewareFactory):
    """Header auth: Basic → authenticate + mint token; Bearer →
    verify. Anonymous calls are rejected unless the server was built
    with ``require_auth=False``."""

    def __init__(self, engine: Engine, require_auth: bool):
        self.engine = engine
        self.require_auth = require_auth

    def start_call(self, info, headers):
        auth_values = headers.get("authorization", [])
        if not auth_values:
            if self.require_auth:
                raise flight.FlightUnauthenticatedError(
                    "authorization header required")
            return _AuthMiddleware(
                {"sub": "anonymous", "role": "user"}, None, False)
        value = auth_values[0]
        try:
            if value.lower().startswith("basic "):
                decoded = base64.b64decode(value[6:]).decode("utf-8")
                username, _, password = decoded.partition(":")
                token = self.engine.authenticate(username, password)
                from gizmosql_spark.auth import verify_token

                claims = verify_token(self.engine.token_secret, token)
                return _AuthMiddleware(claims, token, minted=True)
            if value.lower().startswith("bearer "):
                token = value[7:]
                claims = self.engine.verify_bearer(token)
                return _AuthMiddleware(claims, token, minted=False)
        except AuthError as e:
            raise flight.FlightUnauthenticatedError(str(e))
        raise flight.FlightUnauthenticatedError(
            "unsupported authorization scheme")


class _AccessLogMiddleware(flight.ServerMiddleware):
    """Per-RPC access log record (access_log_middleware.cpp: method,
    status, duration emitted at CallCompleted)."""

    def __init__(self, engine: Engine, method: str):
        self.engine = engine
        self.method = method
        self._t0 = time.perf_counter()

    def call_completed(self, exception):
        self.engine.access_log.record(
            f"flight.{self.method}",
            status="ERROR" if exception is not None else "OK",
            duration_ms=(time.perf_counter() - self._t0) * 1000,
            detail=str(exception) if exception is not None else "")


class _AccessLogMiddlewareFactory(flight.ServerMiddlewareFactory):
    def __init__(self, engine: Engine):
        self.engine = engine

    def start_call(self, info, headers):
        return _AccessLogMiddleware(self.engine, str(info.method))


#: tickets expire if the client never fetches them
_TICKET_TTL_S = 600.0


class FlightEngineServer(flight.FlightServerBase):
    """The Engine served over Flight RPC on a localhost port."""

    def __init__(self, engine: Engine | None = None,
                 location: str = "grpc://127.0.0.1:0",
                 require_auth: bool = True, **kwargs):
        self.engine = engine or Engine()
        self._auth_factory = _AuthMiddlewareFactory(self.engine, require_auth)
        super().__init__(
            location,
            middleware={
                "auth": self._auth_factory,
                "accesslog": _AccessLogMiddlewareFactory(self.engine),
            },
            **kwargs)
        self._location = location
        #: ticket id -> (created_at, session_id, StatementResult)
        self._tickets: dict[str, tuple[float, str, StatementResult]] = {}
        self._tickets_lock = threading.Lock()
        #: declared-constraint metadata served to CommandGet*Keys
        self.constraints = tpch_constraints()
        #: protobuf-tier implicit sessions: principal key -> session id
        self._implicit_sessions: dict[str, str] = {}
        self._implicit_lock = threading.Lock()

    # --- helpers ------------------------------------------------------

    def _claims(self, context) -> dict[str, Any]:
        mw = context.get_middleware("auth")
        if mw is None:
            return {"sub": "anonymous", "role": "user"}
        return mw.claims

    def _token(self, context) -> str | None:
        mw = context.get_middleware("auth")
        return mw.token if mw is not None else None

    def _session_for(self, context, body: dict[str, Any]) -> str:
        """Session id from the command body; JSON-tier sessions are
        explicit (create_session action), protobuf-tier sessions are
        implicit per authenticated principal — both mirror the
        reference's per-client session map (duckdb_server.cpp:
        957-1079)."""
        sid = body.get("session")
        if sid:
            return sid
        if body.get("_proto"):
            return self._implicit_session(context)
        raise flight.FlightServerError(
            "missing 'session' — call the create_session action first")

    def _implicit_session(self, context) -> str:
        """Find-or-create the session for a Flight SQL protobuf caller,
        keyed by bearer token (else subject claim)."""
        claims = self._claims(context)
        token = self._token(context)
        # keyed by principal, not token: Basic auth mints a fresh token
        # per call, and one principal = one session is the reference's
        # per-client model (duckdb_server.cpp:957-1079)
        key = f"sub:{claims.get('sub', 'anonymous')}"
        with self._implicit_lock:
            sid = self._implicit_sessions.get(key)
            if sid is not None:
                try:
                    self.engine._session(sid)
                    return sid
                except Exception:
                    pass  # closed/killed — mint a fresh one
            sid = self.engine.create_session(
                role=claims.get("role", "user"), token=token)
            self._implicit_sessions[key] = sid
            return sid

    def _prune_tickets(self) -> None:
        cutoff = time.time() - _TICKET_TTL_S
        with self._tickets_lock:
            for tid in [t for t, (at, _, _) in self._tickets.items()
                        if at < cutoff]:
                self._tickets.pop(tid, None)

    def _store_ticket(self, session_id: str, result: StatementResult) -> str:
        self._prune_tickets()
        tid = uuid.uuid4().hex
        with self._tickets_lock:
            self._tickets[tid] = (time.time(), session_id, result)
        return tid

    #: protobuf command message → internal command-dict translator
    _PROTO_COMMANDS = {
        "CommandStatementQuery": lambda m: {
            "type": "statement_query", "sql": m["query"]},
        "CommandPreparedStatementQuery": lambda m: {
            "type": "prepared_query",
            "handle": m["prepared_statement_handle"].decode("utf-8")},
        "CommandPreparedStatementUpdate": lambda m: {
            "type": "prepared_update",
            "handle": m["prepared_statement_handle"].decode("utf-8")},
        "CommandStatementUpdate": lambda m: {
            "type": "statement_update", "sql": m["query"]},
        "CommandGetCatalogs": lambda m: {"type": "get_catalogs"},
        "CommandGetDbSchemas": lambda m: {
            "type": "get_db_schemas", "catalog": m["catalog"],
            "pattern": m["db_schema_filter_pattern"]},
        "CommandGetTables": lambda m: {
            "type": "get_tables", "catalog": m["catalog"],
            "schema_pattern": m["db_schema_filter_pattern"],
            "name_pattern": m["table_name_filter_pattern"],
            "table_types": m["table_types"],
            "include_schema": m["include_schema"]},
        "CommandGetTableTypes": lambda m: {"type": "get_table_types"},
        "CommandGetPrimaryKeys": lambda m: {
            "type": "get_primary_keys", "table": m["table"]},
        "CommandGetImportedKeys": lambda m: {
            "type": "get_imported_keys", "table": m["table"]},
        "CommandGetExportedKeys": lambda m: {
            "type": "get_exported_keys", "table": m["table"]},
        "CommandGetCrossReference": lambda m: {
            "type": "get_cross_reference", "pk_table": m["pk_table"],
            "fk_table": m["fk_table"]},
        "CommandGetSqlInfo": lambda m: {
            "type": "get_sql_info", "info": m["info"]},
        "CommandGetXdbcTypeInfo": lambda m: {
            "type": "get_xdbc_type_info",
            "data_type": m["data_type"] or None},
        "CommandStatementIngest": lambda m: {
            "type": "ingest", "table": m["table"],
            "mode": FlightEngineServer._ingest_mode(
                m["table_definition_options"])},
    }

    @staticmethod
    def _ingest_mode(opts: dict[str, Any] | None) -> str:
        if not opts:
            return "create"
        if opts["if_exists"] == fsp.TABLE_EXISTS_REPLACE:
            return "replace"
        if opts["if_exists"] == fsp.TABLE_EXISTS_APPEND:
            return "append"
        return "create"  # FAIL/unspecified: create, error if exists

    @staticmethod
    def _parse_command(raw: bytes) -> dict[str, Any]:
        try:
            cmd = json.loads(raw.decode("utf-8"))
            if not isinstance(cmd, dict) or "type" not in cmd:
                raise flight.FlightServerError(
                    "descriptor command must carry a 'type' tag")
            return cmd
        except flight.FlightError:
            raise
        except Exception:
            pass
        proto = fsp.unpack_any(raw)
        if proto is not None:
            name, msg = proto
            translate = FlightEngineServer._PROTO_COMMANDS.get(name)
            if translate is None:
                raise flight.FlightServerError(
                    f"unsupported Flight SQL command: {name}")
            cmd = translate(msg)
            cmd["_proto"] = True
            return cmd
        raise flight.FlightServerError(
            "descriptor command must be a JSON object "
            "or a Flight SQL protobuf Any")

    def _ticket_bytes(self, tid: str, proto: bool) -> bytes:
        if proto:
            return fsp.pack_any(
                "TicketStatementQuery", {"statement_handle": tid.encode()})
        return json.dumps({"ticket": tid}).encode()

    def _table_info(self, context, descriptor, cmd: dict[str, Any],
                    table: pa.Table):
        """FlightInfo for an already-materialized (metadata) table."""
        sid = self._session_for(context, cmd)
        result = StatementResult("query_rows", df=None)
        result.arrow_table = table
        tid = self._store_ticket(sid, result)
        return flight.FlightInfo(
            table.schema, descriptor,
            [flight.FlightEndpoint(
                self._ticket_bytes(tid, bool(cmd.get("_proto"))), [])],
            table.num_rows, table.nbytes)

    def _metadata_table(self, cmd: dict[str, Any]) -> pa.Table | None:
        """Build the wire-spec result table for a metadata command."""
        spark = self.engine.spark
        t = cmd["type"]
        if t == "get_catalogs":
            return fsm.get_catalogs(spark)
        if t == "get_db_schemas":
            return fsm.get_db_schemas(
                spark, cmd.get("catalog") or None, cmd.get("pattern") or None)
        if t == "get_tables":
            return fsm.get_tables(
                spark, cmd.get("catalog") or None,
                cmd.get("schema_pattern") or None,
                cmd.get("name_pattern") or None,
                cmd.get("table_types") or None,
                bool(cmd.get("include_schema")))
        if t == "get_table_types":
            return fsm.get_table_types(spark)
        if t == "get_primary_keys":
            return fsm.get_primary_keys(spark, self.constraints, cmd["table"])
        if t == "get_imported_keys":
            return fsm.get_imported_keys(spark, self.constraints, cmd["table"])
        if t == "get_exported_keys":
            return fsm.get_exported_keys(spark, self.constraints, cmd["table"])
        if t == "get_cross_reference":
            return fsm.get_cross_reference(
                spark, self.constraints, cmd["pk_table"], cmd["fk_table"])
        if t == "get_sql_info":
            return fsm.get_sql_info(spark, cmd.get("info") or None)
        if t == "get_xdbc_type_info":
            return fsm.get_xdbc_type_info(spark, cmd.get("data_type"))
        return None

    def _wrap_errors(self, fn, *args):
        """Engine exceptions → Flight status codes."""
        try:
            return fn(*args)
        except security.CommandDenied as e:
            raise flight.FlightUnauthorizedError(str(e))
        except AuthError as e:
            raise flight.FlightUnauthenticatedError(str(e))
        except flight.FlightError:
            raise
        except Exception as e:
            raise flight.FlightServerError(f"{type(e).__name__}: {e}")

    # --- GetFlightInfo / GetSchema / DoGet ----------------------------

    def get_flight_info(self, context, descriptor):
        cmd = self._parse_command(descriptor.command)
        proto = bool(cmd.get("_proto"))
        meta = self._metadata_table(cmd) if cmd["type"].startswith("get_") \
            else None
        if meta is not None:
            return self._table_info(context, descriptor, cmd, meta)
        if cmd["type"] in ("statement_query", "prepared_query"):
            sid = self._session_for(context, cmd)
            if cmd["type"] == "statement_query":
                result = self._wrap_errors(
                    self.engine.execute_sql, sid, cmd["sql"])
            else:
                # no "parameters" (the protobuf tier): the values bound
                # by DoPut(CommandPreparedStatementQuery)
                result = self._wrap_errors(
                    self.engine.execute_prepared, sid, cmd["handle"],
                    cmd.get("parameters"))
            if result.df is None:
                # DML/SET through the query verb: surface the count as
                # a 1-row frame, like the reference's update results
                schema = pa.schema([("affected_rows", pa.int64())])
                tbl = pa.table(
                    {"affected_rows": [result.affected_rows or 0]})
                result = StatementResult("query_rows", df=None)
                result.arrow_table = tbl
                tid = self._store_ticket(sid, result)
                return flight.FlightInfo(
                    schema, descriptor,
                    [flight.FlightEndpoint(
                        self._ticket_bytes(tid, proto), [])],
                    1, tbl.nbytes)
            n_parts = int(cmd.get("partitions", 1) or 1)
            if n_parts > 1:
                # partitioned result: materialize now and hand out one
                # ticket per slice — N endpoints that N client tasks
                # stream in parallel (the Flight multi-endpoint scale
                # path; the reference's server is single-endpoint too,
                # its parallel readers rely on the same contract)
                table = self._wrap_errors(
                    self.engine.collect_arrow, sid, result)
                n_parts = max(1, min(n_parts, max(table.num_rows, 1)))
                # balanced split: first (rows % n) slices get one extra
                base, extra = divmod(table.num_rows, n_parts)
                endpoints, off = [], 0
                for i in range(n_parts):
                    size = base + (1 if i < extra else 0)
                    chunk = StatementResult("query_rows", df=None)
                    chunk.arrow_table = table.slice(off, size)
                    off += size
                    tid = self._store_ticket(sid, chunk)
                    endpoints.append(flight.FlightEndpoint(
                        self._ticket_bytes(tid, proto), []))
                return flight.FlightInfo(
                    table.schema, descriptor, endpoints,
                    table.num_rows, table.nbytes)
            schema = to_arrow_schema(result.df.schema)
            tid = self._store_ticket(sid, result)
            return flight.FlightInfo(
                schema, descriptor,
                [flight.FlightEndpoint(
                    self._ticket_bytes(tid, proto), [])],
                -1, -1)
        raise flight.FlightServerError(
            f"unsupported command type: {cmd['type']}")

    def get_schema(self, context, descriptor):
        cmd = self._parse_command(descriptor.command)
        if cmd["type"].startswith("get_"):
            meta = self._metadata_table(cmd)
            if meta is not None:
                return flight.SchemaResult(meta.schema)
        sid = self._session_for(context, cmd)
        if cmd["type"] == "statement_query":
            result = self._wrap_errors(self.engine.execute_sql, sid, cmd["sql"])
        elif cmd["type"] == "prepared_query":
            ps = self._wrap_errors(
                self.engine.prepared_statement, sid, cmd["handle"])
            if ps.schema is None:
                raise flight.FlightServerError("prepared schema unavailable")
            return flight.SchemaResult(to_arrow_schema(ps.schema))
        else:
            raise flight.FlightServerError(
                f"unsupported command type: {cmd['type']}")
        if result.df is None:
            return flight.SchemaResult(
                pa.schema([("affected_rows", pa.int64())]))
        return flight.SchemaResult(to_arrow_schema(result.df.schema))

    def do_get(self, context, ticket):
        raw = ticket.ticket
        try:
            tid = json.loads(raw.decode("utf-8"))["ticket"]
        except Exception:
            proto = fsp.unpack_any(raw)
            if proto is None or proto[0] != "TicketStatementQuery":
                raise flight.FlightServerError("unrecognized ticket")
            tid = proto[1]["statement_handle"].decode("utf-8")
        with self._tickets_lock:
            entry = self._tickets.pop(tid, None)
        if entry is None:
            raise flight.FlightServerError("unknown or expired ticket")
        _, sid, result = entry
        if getattr(result, "arrow_table", None) is not None:
            return flight.RecordBatchStream(result.arrow_table)
        table = self._wrap_errors(self.engine.collect_arrow, sid, result)
        return flight.RecordBatchStream(table)

    # --- DoPut: ingest + update ---------------------------------------

    def do_put(self, context, descriptor, reader, writer):
        cmd = self._parse_command(descriptor.command)
        proto = bool(cmd.get("_proto"))
        sid = self._session_for(context, cmd)

        def put_count(n: int) -> None:
            # protobuf tier: PutResult metadata is the raw serialized
            # DoPutUpdateResult (not Any-wrapped), matching the stock
            # C++/Java Flight SQL client parsers
            if proto:
                writer.write(fsp.encode("DoPutUpdateResult",
                                        {"record_count": n}))
            else:
                writer.write(json.dumps({"record_count": n}).encode())

        if cmd["type"] == "ingest":
            data = reader.read_all()
            n = self._wrap_errors(
                self.engine.ingest, sid, cmd["table"], data,
                cmd.get("mode", "create"))
            put_count(n)
            return
        if cmd["type"] == "prepared_query" and proto:
            # bind parameters: one Arrow batch, column-per-parameter
            # (the reference binds each cell as a string the engine
            # re-casts, duckdb_server.cpp:747-772)
            ps = self._wrap_errors(
                self.engine.prepared_statement, sid, cmd["handle"])
            ps.bound = self._read_params(reader)
            writer.write(fsp.encode(
                "DoPutPreparedStatementResult",
                {"prepared_statement_handle": cmd["handle"].encode()}))
            return
        if cmd["type"] == "statement_update":
            result = self._wrap_errors(
                self.engine.execute_sql, sid, cmd["sql"])
        elif cmd["type"] == "prepared_update" and proto:
            result = self._wrap_errors(
                self.engine.execute_prepared, sid, cmd["handle"],
                self._read_params(reader))
        else:
            raise flight.FlightServerError(
                f"unsupported DoPut command type: {cmd['type']}")
        put_count(result.affected_rows
                  if result.affected_rows is not None else -1)

    @staticmethod
    def _read_params(reader) -> dict[str, Any]:
        """Last row of the uploaded parameter batch → {name: value}."""
        try:
            table = reader.read_all()
        except Exception:
            return {}
        if table.num_rows == 0:
            return {}
        row = table.to_pylist()[-1]
        return {k.lstrip(":"): v for k, v in row.items()}

    # --- DoExchange: push + transform + pull in ONE call --------------

    def do_exchange(self, context, descriptor, reader, writer):
        """Bidirectional transform: the client streams Arrow batches
        up, the server registers them as a session temp view, runs the
        command's SQL against it, and streams the result back — the
        two-round-trip ADBC pattern (ingest then query) in one RPC,
        with no managed-table write. Command: {"type":
        "exchange_transform", "session": …, "sql": …, "view": name}."""
        cmd = self._parse_command(descriptor.command)
        if cmd["type"] != "exchange_transform":
            raise flight.FlightServerError(
                f"unsupported DoExchange command type: {cmd['type']}")
        sid = self._session_for(context, cmd)
        data = reader.read_all()
        view = cmd.get("view", "exchange_input")
        self._wrap_errors(
            self.engine.register_arrow_view, sid, view, data)
        result = self._wrap_errors(self.engine.execute_sql, sid, cmd["sql"])
        table = self._wrap_errors(self.engine.collect_arrow, sid, result)
        writer.begin(table.schema)
        for batch in table.to_batches():
            writer.write_batch(batch)

    # --- DoAction -----------------------------------------------------

    _ACTIONS = {
        "create_session": "open a session (body: {role?}) -> {session}",
        "close_session": "close a session (body: {session})",
        "begin_transaction": "BEGIN (body: {session}) -> {transaction_id}",
        "end_transaction":
            "COMMIT/ROLLBACK (body: {session, commit: bool})",
        "cancel_query": "interrupt in-flight statements (body: {session})",
        "kill_session": "admin kill (body: {session, target})",
        "create_prepared_statement":
            "prepare (body: {session, sql}) -> {handle, parameters}",
        "close_prepared_statement": "close (body: {session, handle})",
        "health_check": "liveness probe -> {healthy}",
        "get_session_options": "current catalog/schema (body: {session})",
        "set_session_options":
            "set catalog/schema (body: {session, catalog?, schema?})",
        "shutdown_drain": "admin: stop accepting new statements",
    }

    def list_actions(self, context):
        json_tier = [flight.ActionType(name, desc)
                     for name, desc in sorted(self._ACTIONS.items())]
        proto_tier = [
            flight.ActionType(name, "Flight SQL protobuf action")
            for name in sorted(self._PROTO_ACTIONS)]
        session_tier = [
            flight.ActionType(name, "Flight session-spec action")
            for name in sorted(self._SESSION_ACTIONS)]
        return json_tier + proto_tier + session_tier

    #: Flight SQL protobuf action names (the stock client's DoAction
    #: types; bodies and results are Any-wrapped messages)
    _PROTO_ACTIONS = frozenset({
        "CreatePreparedStatement", "ClosePreparedStatement",
        "BeginTransaction", "EndTransaction", "CancelQuery",
    })
    #: Flight-core session-spec actions: bodies/results are the raw
    #: serialized arrow.flight.protocol messages (no Any), matching
    #: the stock FlightClient session API
    _SESSION_ACTIONS = frozenset({
        "SetSessionOptions", "GetSessionOptions", "CloseSession",
        "CancelFlightInfo",
    })

    def _do_session_action(self, context, name: str, raw: bytes):
        sid = self._implicit_session(context)
        if name == "SetSessionOptions":
            req = fsp.decode("SetSessionOptionsRequest", raw or b"")
            errors: dict[str, dict] = {}
            for key, val in req["session_options"].items():
                value = fsp.session_option_python(val)
                try:
                    if key == "catalog":
                        self.engine.set_session_options(
                            sid, catalog=str(value))
                    elif key in ("schema", "database"):
                        self.engine.set_session_options(
                            sid, schema=str(value))
                    else:
                        # engine settings registry handles the rest
                        self.engine.execute_sql(
                            sid, f"SET engine.{key} = '{value}'")
                except Exception:
                    errors[key] = {"value": 1}  # INVALID_NAME
            return iter([flight.Result(fsp.encode(
                "SetSessionOptionsResult", {"errors": errors}))])
        if name == "GetSessionOptions":
            opts = self._wrap_errors(self.engine.get_session_options, sid)
            return iter([flight.Result(fsp.encode(
                "GetSessionOptionsResult",
                {"session_options": {
                    k: fsp.session_option_value(v)
                    for k, v in opts.items()}}))])
        if name == "CancelFlightInfo":
            # engine cancellation is session-scoped (job-group cancel);
            # the embedded FlightInfo is not needed to target it
            self._wrap_errors(self.engine.cancel, sid)
            return iter([flight.Result(fsp.encode(
                "CancelFlightInfoResult",
                {"status": fsp.CANCEL_STATUS_CANCELLED}))])
        if name == "CloseSession":
            self.engine.close_session(sid)
            claims = self._claims(context)
            with self._implicit_lock:
                self._implicit_sessions.pop(
                    f"sub:{claims.get('sub', 'anonymous')}", None)
            return iter([flight.Result(fsp.encode(
                "CloseSessionResult",
                {"status": fsp.CLOSE_SESSION_CLOSED}))])
        raise flight.FlightServerError(f"unknown action: {name}")

    def _do_proto_action(self, context, name: str, raw: bytes):
        decoded = fsp.unpack_any(raw) if raw else None
        body = decoded[1] if decoded else {}
        sid = self._implicit_session(context)
        if name == "CreatePreparedStatement":
            ps = self._wrap_errors(self.engine.prepare, sid, body["query"])
            dataset = (pa.schema([]) if ps.schema is None
                       else to_arrow_schema(ps.schema))
            param_schema = pa.schema(
                [pa.field(p, pa.utf8()) for p in ps.parameter_names])
            result = fsp.pack_any(
                "ActionCreatePreparedStatementResult",
                {
                    "prepared_statement_handle": ps.handle.encode(),
                    "dataset_schema": dataset.serialize().to_pybytes(),
                    "parameter_schema": param_schema.serialize().to_pybytes(),
                })
            return iter([flight.Result(result)])
        if name == "ClosePreparedStatement":
            handle = body["prepared_statement_handle"].decode("utf-8")
            self.engine.close_prepared(sid, handle)
            return iter([])
        if name == "BeginTransaction":
            txn = self._wrap_errors(self.engine.begin_transaction, sid)
            return iter([flight.Result(fsp.pack_any(
                "ActionBeginTransactionResult",
                {"transaction_id": txn.encode()}))])
        if name == "EndTransaction":
            commit = body.get("action") != fsp.END_TRANSACTION_ROLLBACK
            self._wrap_errors(self.engine.end_transaction, sid, commit)
            return iter([])
        if name == "CancelQuery":
            self._wrap_errors(self.engine.cancel, sid)
            return iter([flight.Result(fsp.pack_any(
                "ActionCancelQueryResult",
                {"result": fsp.CANCEL_STATUS_CANCELLED}))])
        raise flight.FlightServerError(f"unknown action: {name}")

    def do_action(self, context, action):
        name = action.type
        if name in self._PROTO_ACTIONS:
            return self._do_proto_action(
                context, name, action.body.to_pybytes())
        if name in self._SESSION_ACTIONS:
            return self._do_session_action(
                context, name, action.body.to_pybytes())
        body = json.loads(action.body.to_pybytes().decode("utf-8") or "{}")
        claims = self._claims(context)

        def ok(payload: dict[str, Any]):
            return iter([flight.Result(json.dumps(payload).encode())])

        if name == "create_session":
            token = self._token(context)
            sid = self._wrap_errors(
                lambda: self.engine.create_session(
                    role=body.get("role", claims.get("role", "user")),
                    token=token))
            return ok({"session": sid})
        if name == "health_check":
            return ok({"healthy": self.engine.health_check()})
        if name == "shutdown_drain":
            if claims.get("role") != "admin":
                raise flight.FlightUnauthorizedError(
                    "drain requires admin role")
            self.engine.begin_drain()
            return ok({"draining": True})

        sid = self._session_for(context, body)
        if name == "close_session":
            self.engine.close_session(sid)
            return ok({"closed": True})
        if name == "begin_transaction":
            txn = self._wrap_errors(self.engine.begin_transaction, sid)
            return ok({"transaction_id": txn})
        if name == "end_transaction":
            self._wrap_errors(
                self.engine.end_transaction, sid, bool(body.get("commit", True)))
            return ok({"committed": bool(body.get("commit", True))})
        if name == "cancel_query":
            self._wrap_errors(self.engine.cancel, sid)
            return ok({"cancelled": True})
        if name == "kill_session":
            killed = self._wrap_errors(
                self.engine.kill_session, body["target"], sid)
            return ok({"killed": killed})
        if name == "create_prepared_statement":
            ps = self._wrap_errors(self.engine.prepare, sid, body["sql"])
            return ok({"handle": ps.handle, "parameters": ps.parameter_names})
        if name == "close_prepared_statement":
            self.engine.close_prepared(sid, body["handle"])
            return ok({"closed": True})
        if name == "get_session_options":
            return ok(self._wrap_errors(self.engine.get_session_options, sid))
        if name == "set_session_options":
            self._wrap_errors(
                self.engine.set_session_options, sid,
                body.get("catalog"), body.get("schema"))
            return ok({"ok": True})
        raise flight.FlightServerError(f"unknown action: {name}")

    # --- ListFlights: the table inventory -----------------------------

    def list_flights(self, context, criteria):
        from gizmosql_spark.catalog import get_tables

        for row in get_tables(self.engine.spark).collect():
            descriptor = flight.FlightDescriptor.for_path(
                row["table_catalog"] or "", row["table_schema"] or "",
                row["table_name"])
            yield flight.FlightInfo(pa.schema([]), descriptor, [], -1, -1)


def serve(host: str = "127.0.0.1", port: int = 8815,
          require_auth: bool = True) -> None:
    """Blocking entry point: ``python -m gizmosql_spark.flight_server``."""
    server = FlightEngineServer(
        location=f"grpc://{host}:{port}", require_auth=require_auth)
    print(f"gizmosql-spark flight server listening on {host}:{server.port}")
    server.serve()


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8815)
    ap.add_argument("--no-auth", action="store_true")
    args = ap.parse_args()
    serve(args.host, args.port, require_auth=not args.no_auth)
