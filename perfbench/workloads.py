"""The benchmark's workloads: what each client sends, and its checks.

Both workloads are closed loops: a client sends its next statement only
after the previous reply. A run sends a fixed amount of work:
a warm round per client during set-up, then a number of timed rounds
fixed by ``--seconds``.
Each round holds a fixed sequence of statement kinds; ``--seed`` picks
their keys, parameters and upload payloads. Every statement
carries a check, run on the reply after the statement's clock stops.

- ``point_mixed``: two connections, each its own principal and session,
  sending small-result statements, where fixed per-statement cost
  dominates (handler, auth, gate, rewrite, scan registration, analysis,
  admission, sinks, job launch).
- ``bulk_transfer``: one connection moving large Arrow payloads both
  ways, where the Arrow boundary and the wire dominate (DoGet of
  lineitem and orders, DoPut replace and append of uploads of similar
  size, read back with a count).
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, datagen, wire
from perfbench.client import Client, Stmt

#: tables every session sees as temp views over the parquet files
VIEW_TABLES = ("lineitem", "orders", "part", "customer", "supplier",
               "nation", "region")


@dataclass
class Op:
    """One statement: how a client sends it and how its reply is checked
    (the check returns '' or the reason the result is wrong)."""

    kind: str
    send: Callable[[Client, dict], Stmt]
    check: Callable[[Stmt], str]
    #: its DoGet counts in ``first_batch_p50_s`` and ``get_mb_per_s``
    transfer: bool = True


@dataclass
class Plan:
    """Everything a run sends, per client: the session set-up, one warm
    round and the timed rounds."""

    users: list[str]
    setup: list[list[Op]]
    warm: list[list[Op]]
    timed: list[list[Op]]
    #: prepared once per session during set-up (handle in ctx["prepared"])
    prepared_sql: str = ""
    #: timed statements of the first client, by kind
    timed_kinds: dict[str, int] = field(default_factory=dict)


def _query(kind: str, sql: str, check: Callable[[Stmt], str],
           transfer: bool = True) -> Op:
    return Op(kind, lambda c, ctx: c.query(sql, kind), check, transfer)


def _expect_ok(stmt: Stmt) -> str:
    return ""


class Oracle:
    """DuckDB over the same parquet data, loaded once into memory, with
    the same table names; ``read_parquet`` of a data file reads the
    loaded table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.files = {f"read_parquet('{data_dir}/{t}.parquet')": t
                      for t in VIEW_TABLES}
        for scan, t in self.files.items():
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM {scan}")
        self._seen: dict[tuple, tuple[list[str], list[tuple]]] = {}

    def result(self, sql: str, params: list | None = None):
        """(column names, canonical rows) of a query, computed once."""
        key = (sql, tuple(params or ()))
        if key not in self._seen:
            for scan, t in self.files.items():
                sql = sql.replace(scan, t)
            cur = self.con.execute(sql, params)
            rows = checks.canon_rows(cur.fetchall())
            self._seen[key] = ([d[0] for d in cur.description], rows)
        return self._seen[key]

    def check(self, sql: str, params: list | None = None):
        """A check comparing a reply with this query's DuckDB result."""
        names, expected = self.result(sql, params)

        def check(stmt: Stmt) -> str:
            if stmt.result.column_names != names:
                return f"columns {stmt.result.column_names} != {names}"
            return checks.rows_mismatch(
                checks.table_rows(stmt.result), expected)
        return check


def _view_ops(data_dir: str) -> list[Op]:
    return [_query("create_view",
                   f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM "
                   f"read_parquet('{data_dir}/{t}.parquet')", _expect_ok)
            for t in VIEW_TABLES]


def _ingest(table: str, data: pa.Table, if_exists: int, kind: str) -> Op:
    def check(stmt: Stmt) -> str:
        return "" if stmt.rows == data.num_rows else \
            f"ack {stmt.rows}, expected {data.num_rows}"
    return Op(kind, lambda c, ctx: c.ingest(table, data, if_exists, kind),
              check)


def _rounds_for(seconds: int, round_s: float, minimum: int) -> int:
    return max(minimum, math.ceil(seconds / round_s))


# --- point_mixed ---------------------------------------------------------

POINT_CLIENTS = 2
#: nominal seconds one client needs for one round (sizes the timed work)
POINT_ROUND_S = 4.0
POINT_INGEST_ROWS = 500
#: TPC-H queries sent as their ``oracle_sql()`` text, and operators sent
#: through ``pipeline_op``, both compared with that text on DuckDB
POINT_TPCH = ("q01", "q06", "q14")
POINT_OPERATORS = ("q06", "q14")
POINT_PREPARED = ("SELECT o_orderkey, o_totalprice FROM orders "
                  "WHERE o_custkey = ?")


def point_mixed(data_dir: str, seed: int, seconds: int) -> Plan:
    from __spark_entry__ import oracle_sql

    oracle_text = oracle_sql()
    oracle = Oracle(data_dir)
    orders = pq.read_metadata(os.path.join(data_dir, "orders.parquet"))
    customers = pq.read_metadata(os.path.join(data_dir, "customer.parquet"))
    n_orders, n_cust = orders.num_rows, customers.num_rows
    rounds = _rounds_for(seconds, POINT_ROUND_S, 4)
    users = [f"pm{i}" for i in range(POINT_CLIENTS)]
    tables = [f"pm_upload_{i}" for i in range(POINT_CLIENTS)]

    def round_ops(rng: random.Random, client: int, tpch: tuple[str, ...],
                  operators: tuple[str, ...]) -> list:
        key = lambda: rng.randrange(n_orders)  # noqa: E731
        year = lambda: rng.randrange(1995, 2001)  # noqa: E731
        ops = [_query("select_1", "SELECT 1 AS one",
                      oracle.check("SELECT 1 AS one"))]
        for _ in range(2):
            sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                   "o_totalprice, o_orderdate, o_orderpriority FROM "
                   f"read_parquet('{data_dir}/orders.parquet') "
                   f"WHERE o_orderkey = {key()}")
            ops.append(_query("order_lookup", sql, oracle.check(sql)))
        sql = ("SELECT l_orderkey, l_linenumber, l_quantity, "
               "l_extendedprice, l_discount, l_shipdate FROM "
               f"read_parquet('{data_dir}/lineitem.parquet') "
               f"WHERE l_orderkey = {key()}")
        ops.append(_query("lineitem_lookup", sql, oracle.check(sql)))
        for _ in range(2):
            y, d, q = year(), rng.randrange(2, 9), rng.randrange(10, 40)
            sql = ("SELECT sum(l_extendedprice * l_discount) AS revenue "
                   f"FROM lineitem WHERE l_shipdate >= '{y}-01-01' "
                   f"AND l_shipdate < '{y + 1}-01-01' "
                   f"AND l_discount BETWEEN {(d - 1) / 100} AND {(d + 1) / 100} "
                   f"AND l_quantity < {q}")
            ops.append(_query("selective_agg", sql, oracle.check(sql)))
        y = year()
        sql = ("SELECT o_orderpriority, count(*) AS n, "
               "sum(o_totalprice) AS total FROM orders "
               f"WHERE o_orderdate >= '{y}-01-01' "
               f"AND o_orderdate < '{y + 1}-01-01' GROUP BY o_orderpriority")
        ops.append(_query("small_group_by", sql, oracle.check(sql)))
        for name in tpch:
            ops.append(_query("tpch_text", oracle_text[name],
                              oracle.check(oracle_text[name])))
        for name in operators:
            ops.append(_query(
                "pipeline_op",
                f"SELECT * FROM pipeline_op('{name}', '{data_dir}')",
                oracle.check(oracle_text[name])))
        cust = rng.randrange(n_cust)
        ops.append(Op(
            "prepared",
            lambda c, ctx, cust=cust: c.execute_prepared(
                ctx["prepared"], pa.table({"param_1": [str(cust)]})),
            oracle.check(POINT_PREPARED, [cust])))

        def tables_check(stmt: Stmt) -> str:
            got = sorted(stmt.result.column("table_name").to_pylist())
            return "" if got == tables else f"tables {got} != {tables}"
        ops.append(Op("get_tables",
                      lambda c, ctx: c.tables("pm_upload_%"), tables_check))

        def info_check(stmt: Stmt) -> str:
            got = sorted(stmt.result.column("info_name").to_pylist())
            return "" if got == [0, 1, 2, 3] else f"sql info ids {got}"
        ops.append(Op("sql_info", lambda c, ctx: c.sql_info([0, 1, 2, 3]),
                      info_check))
        payload = datagen.put_payload(rng.randrange(2**31),
                                      POINT_INGEST_ROWS)
        ops.append(_ingest(tables[client], payload, wire.TABLE_EXISTS_APPEND,
                           "small_ingest"))
        # a fixed order, offset per client, so the two closed loops meet
        # the same mix of each other's statements in every run
        shift = client * len(ops) // POINT_CLIENTS
        return ops[shift:] + ops[:shift]

    setup, warm, timed = [], [], []
    for i in range(POINT_CLIENTS):
        rng = random.Random(f"{seed}/point_mixed/{i}")
        first = datagen.put_payload(rng.randrange(2**31), POINT_INGEST_ROWS)
        setup.append(_view_ops(data_dir) + [_ingest(
            tables[i], first, wire.TABLE_EXISTS_REPLACE, "setup_ingest")])
        # the warm round sends every TPC-H text and operator once; each
        # timed round sends one of each, in rotation
        warm.append(round_ops(rng, i, POINT_TPCH, POINT_OPERATORS))
        timed.append([op for r in range(rounds) for op in round_ops(
            rng, i, (POINT_TPCH[(r + i) % len(POINT_TPCH)],),
            (POINT_OPERATORS[(r + i) % len(POINT_OPERATORS)],))])
    kinds: dict[str, int] = {}
    for op in timed[0]:
        kinds[op.kind] = kinds.get(op.kind, 0) + 1
    return Plan(users, setup, warm, timed, POINT_PREPARED, kinds)


# --- bulk_transfer -------------------------------------------------------

BULK_ROUND_S = 5.0
BULK_PUT_ROWS = 150_000
BULK_TABLE = "bulk_upload"
_LINEITEM_WIDE = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                  "l_quantity", "l_extendedprice", "l_discount",
                  "l_shipdate"]
_LINEITEM_NARROW = ["l_orderkey"]


def _readback_check(n: int) -> Callable[[Stmt], str]:
    """The upload table holds ids 0..n-1."""
    want = [(n, n * (n - 1) // 2)]
    return lambda stmt: checks.rows_mismatch(checks.table_rows(stmt.result),
                                             want)


def bulk_transfer(data_dir: str, seed: int, seconds: int) -> Plan:
    rounds = _rounds_for(seconds, BULK_ROUND_S, 2)
    rounds += rounds % 2
    gets = []
    # five DoGets of graded size among nine statements a round: with an
    # even number of rounds, the median DoGet and the median statement of
    # a run fall inside one kind's spread rather than between two kinds
    for kind, table, cols, source in (
            ("get_lineitem", "lineitem", None, "lineitem"),
            ("get_lineitem_wide", "lineitem", _LINEITEM_WIDE, "lineitem"),
            ("get_lineitem_narrow", "lineitem", _LINEITEM_NARROW,
             "lineitem"),
            # a file scan registered per statement, as ad hoc clients do
            ("get_orders", "orders", None,
             f"read_parquet('{data_dir}/orders.parquet')"),
            ("get_customer", "customer", None, "customer")):
        expected = pq.read_table(os.path.join(data_dir, f"{table}.parquet"),
                                 columns=cols)
        sql = f"SELECT {', '.join(cols) if cols else '*'} FROM {source}"
        gets.append((kind, sql, expected, checks.digest(expected)))

    def get_op(kind, sql, expected, want, full: bool) -> Op:
        def check(stmt: Stmt) -> str:
            bad = checks.digest_mismatch(checks.digest(stmt.result), want)
            if not bad and full:
                bad = checks.tables_mismatch(stmt.result, expected)
            return bad
        return _query(kind, sql, check)

    rng = random.Random(f"{seed}/bulk_transfer")

    def round_ops(full: bool) -> list[Op]:
        ops = [get_op(*g, full=full) for g in gets]
        first = datagen.put_payload(rng.randrange(2**31), BULK_PUT_ROWS)
        more = datagen.put_payload(rng.randrange(2**31), BULK_PUT_ROWS,
                                   first_id=BULK_PUT_ROWS)
        # each upload is read back with a count and an id sum
        for kind, data, mode in (
                ("put_replace", first, wire.TABLE_EXISTS_REPLACE),
                ("put_append", more, wire.TABLE_EXISTS_APPEND)):
            ops.append(_ingest(BULK_TABLE, data, mode, kind))
            n = data.column("id")[-1].as_py() + 1
            # a one-row result: not an Arrow transfer
            ops.append(_query(
                "read_back", f"SELECT count(*) AS n, sum(id) AS s FROM "
                f"{BULK_TABLE}", _readback_check(n), transfer=False))
        return ops

    setup = [_view_ops(data_dir)]
    warm = [round_ops(full=True)]
    timed = [[op for _ in range(rounds) for op in round_ops(full=False)]]
    kinds: dict[str, int] = {}
    for op in timed[0]:
        kinds[op.kind] = kinds.get(op.kind, 0) + 1
    return Plan(["bt0"], setup, warm, timed, "", kinds)


WORKLOADS = {"point_mixed": point_mixed, "bulk_transfer": bulk_transfer}
