"""Closed-loop Flight SQL client that times each statement.

A statement is what a stock client does for one user request:
GetFlightInfo then DoGet for a query or metadata command, a DoPut bind
before those for a prepared statement, and a DoPut for an ingest. Its
latency runs from the first RPC to the last batch (or the DoPut ack).
Each RPC of a statement carries the header ``x-perfbench-stmt`` so a
traced server can attribute its spans to the statement.
"""

from __future__ import annotations

import base64
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.flight as flight

from perfbench import wire

STMT_HEADER = b"x-perfbench-stmt"


@dataclass
class Stmt:
    """One timed statement as the client saw it."""

    sid: str
    kind: str
    t0: float = 0.0
    t_first: float = 0.0      # first DoGet batch (0: no DoGet)
    t_doget: float = 0.0      # DoGet call start (0: no DoGet)
    t_end: float = 0.0
    rpc_s: float = 0.0        # time inside Flight calls
    rows: int = 0
    get_bytes: int = 0
    put_bytes: int = 0
    proto_bytes: int = 0
    transfer: bool = True     # counts as an Arrow transfer (see Op)
    ok: bool = True
    error: str = ""
    result: pa.Table | None = field(default=None, repr=False)

    @property
    def latency(self) -> float:
        return self.t_end - self.t0

    @property
    def first_batch(self) -> float:
        return self.t_first - self.t0

    def summary(self) -> dict:
        return {"sid": self.sid, "kind": self.kind,
                "latency_s": self.latency, "rows": self.rows,
                "ok": self.ok, "error": self.error}


class _AuthCapture(flight.ClientMiddleware):
    def __init__(self, box: list[str]):
        self.box = box

    def received_headers(self, headers):
        for value in headers.get("authorization", []):
            self.box.append(value)


class _AuthCaptureFactory(flight.ClientMiddlewareFactory):
    def __init__(self):
        self.box: list[str] = []

    def start_call(self, info):
        return _AuthCapture(self.box)


class Client:
    """One connection with its own principal (and so its own server
    session). Basic credentials go on the first call only; the server
    mints a bearer token that every later call carries."""

    def __init__(self, port: int, user: str, password: str):
        self._auth = _AuthCaptureFactory()
        self.conn = flight.FlightClient(f"grpc://127.0.0.1:{port}",
                                        middleware=[self._auth])
        self.user = user
        basic = base64.b64encode(f"{user}:{password}".encode())
        self._headers = [(b"authorization", b"Basic " + basic)]
        self._seq = 0
        # a stock client's connect probe doubles as the handshake
        self.sql_info([0, 1, 2, 3], kind="connect")
        bearer = [v for v in self._auth.box if v.startswith("Bearer ")]
        if not bearer:
            raise RuntimeError("server minted no bearer token")
        self._headers = [(b"authorization", bearer[-1].encode())]

    def close(self) -> None:
        self.conn.close()

    def _new(self, kind: str) -> Stmt:
        self._seq += 1
        st = Stmt(f"{self.user}-{self._seq}", kind)
        st.t0 = time.perf_counter()
        return st

    def _opts(self, st: Stmt) -> flight.FlightCallOptions:
        return flight.FlightCallOptions(
            headers=self._headers + [(STMT_HEADER, st.sid.encode())])

    def _fetch(self, st: Stmt, command: bytes) -> Stmt:
        """GetFlightInfo + DoGet of every endpoint."""
        opts = self._opts(st)
        t = time.perf_counter()
        info = self.conn.get_flight_info(
            flight.FlightDescriptor.for_command(command), opts)
        st.rpc_s += time.perf_counter() - t
        st.proto_bytes += len(command)
        batches = []
        for endpoint in info.endpoints:
            st.proto_bytes += len(endpoint.ticket.ticket)
            t = time.perf_counter()
            st.t_doget = st.t_doget or t
            for chunk in self.conn.do_get(endpoint.ticket, opts):
                st.t_first = st.t_first or time.perf_counter()
                batches.append(chunk.data)
            st.rpc_s += time.perf_counter() - t
        st.t_end = time.perf_counter()
        st.t_first = st.t_first or st.t_end
        st.result = pa.Table.from_batches(batches, schema=info.schema)
        st.rows = st.result.num_rows
        st.get_bytes = st.result.nbytes
        return st

    def _run(self, st: Stmt, fn, *args) -> Stmt:
        try:
            fn(st, *args)
        except (flight.FlightError, pa.ArrowException, OSError,
                ValueError, RuntimeError) as exc:
            st.ok = False
            st.error = f"{type(exc).__name__}: {exc}"[:300]
            st.t_end = time.perf_counter()
        return st

    # --- statements -----------------------------------------------------

    def query(self, sql: str, kind: str) -> Stmt:
        return self._run(self._new(kind), self._fetch,
                         wire.statement_query(sql))

    def sql_info(self, info: list[int], kind: str = "sql_info") -> Stmt:
        return self._run(self._new(kind), self._fetch,
                         wire.get_sql_info(info))

    def tables(self, pattern: str, kind: str = "get_tables") -> Stmt:
        return self._run(self._new(kind), self._fetch,
                         wire.get_tables(pattern))

    def prepare(self, sql: str) -> bytes:
        body = wire.create_prepared_statement(sql)
        results = list(self.conn.do_action(
            flight.Action("CreatePreparedStatement", body),
            flight.FlightCallOptions(headers=self._headers)))
        return wire.prepared_handle(results[0].body.to_pybytes())

    def execute_prepared(self, handle: bytes, params: pa.Table,
                         kind: str = "prepared") -> Stmt:
        def run(st: Stmt) -> None:
            command = wire.prepared_statement_query(handle)
            t = time.perf_counter()
            writer, reader = self.conn.do_put(
                flight.FlightDescriptor.for_command(command),
                params.schema, self._opts(st))
            writer.write_table(params)
            writer.done_writing()
            reader.read()
            writer.close()
            st.rpc_s += time.perf_counter() - t
            st.proto_bytes += len(command)
            st.put_bytes += params.nbytes
            self._fetch(st, command)
        return self._run(self._new(kind), run)

    def ingest(self, table: str, data: pa.Table, if_exists: int,
               kind: str) -> Stmt:
        def run(st: Stmt) -> None:
            command = wire.statement_ingest(table, if_exists)
            t = time.perf_counter()
            writer, reader = self.conn.do_put(
                flight.FlightDescriptor.for_command(command),
                data.schema, self._opts(st))
            writer.write_table(data)
            writer.done_writing()
            ack = reader.read()
            writer.close()
            st.t_end = time.perf_counter()
            st.rpc_s += st.t_end - t
            st.proto_bytes += len(command)
            st.put_bytes = data.nbytes
            st.rows = wire.put_record_count(ack.to_pybytes()) \
                if ack is not None else -1
        return self._run(self._new(kind), run)
