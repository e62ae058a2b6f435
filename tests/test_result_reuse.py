"""Result reuse: a query repeated in a session is served the Arrow result
of its last run while its plan and the data it read are unchanged.

Every freshness test stores a result (two runs through ``collect_arrow``,
the second ``reused``), changes what the query reads, and checks the
session's next run against a fresh session's result. Jobs are counted in
the session's job group: a served result launches none.
"""

from __future__ import annotations

import base64
import json
import sys
import threading
import time

import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq
import pytest

from gizmosql_spark import engine as engine_mod
from gizmosql_spark.engine import Engine
from gizmosql_spark.flight_server import FlightEngineServer


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture()
def session(engine):
    sid = engine.create_session(role="admin")
    yield sid
    engine.close_session(sid)


@pytest.fixture()
def table(engine, session):
    """A managed table ``(id bigint, v bigint)`` holding ids 1..3."""
    name = f"rr_{time.monotonic_ns()}"
    engine.execute_sql(
        session, f"CREATE TABLE {name} AS SELECT id, id * 10 AS v "
                 "FROM range(1, 4)")
    yield name
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")


def _jobs(spark, sid) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(sid))


def _run(engine, sid, sql) -> tuple[list[tuple], str | None]:
    """(sorted rows, plan cache outcome) of one statement, collected as
    Arrow."""
    res = engine.execute_sql(sid, sql)
    table = engine.collect_arrow(sid, res)
    rows = sorted(tuple(r.values()) for r in table.to_pylist())
    return rows, res.plan_cache


def _stored(engine, sid, sql) -> list[tuple]:
    """Run ``sql`` until its result is served; its rows."""
    rows, first = _run(engine, sid, sql)
    again, second = _run(engine, sid, sql)
    assert first != "reused" and second == "reused"
    assert again == rows
    return rows


def _fresh(engine, sql, setup=()) -> list[tuple]:
    sid = engine.create_session(role="admin")
    try:
        for stmt in setup:
            engine.execute_sql(sid, stmt)
        return _run(engine, sid, sql)[0]
    finally:
        engine.close_session(sid)


def _ids(n: int, start: int = 0) -> pa.Table:
    return pa.table({"id": pa.array(range(start, start + n), pa.int64()),
                     "v": pa.array(range(start, start + n), pa.int64())})


def _write_ids(path, ids) -> None:
    # plain-encoded, uncompressed int64: equal row counts, equal sizes
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), str(path),
                   compression="none", use_dictionary=False)


# --- a served result --------------------------------------------------


@pytest.mark.parametrize("sql", [
    "SELECT n_nationkey, n_name FROM {src} WHERE n_regionkey = 1",
    "SELECT n_regionkey, count(*) AS n FROM {src} GROUP BY n_regionkey",
])
def test_reuse_runs_no_job_and_records_like_a_run(engine, session, spark,
                                                  sf_smoke, sql):
    sql = sql.format(src=f"read_parquet('{sf_smoke}/nation.parquet')")
    rows = _run(engine, session, sql)[0]
    fresh = _fresh(engine, sql)
    tel = engine.telemetry
    reused0 = tel.counter_value("engine.plan_cache_total", result="reused")
    fetched0 = tel.counter_value("engine.rows_fetched_total")
    jobs0 = _jobs(spark, session)

    res = engine.execute_sql(session, sql)
    assert res.plan_cache == "reused"
    got = engine.collect_arrow(session, res)
    assert _jobs(spark, session) == jobs0
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == rows \
        == fresh
    assert tel.counter_value("engine.plan_cache_total", result="reused") \
        == reused0 + 1
    assert tel.counter_value("engine.rows_fetched_total") \
        == fetched0 + len(rows)
    executions = [e for e in engine.instr.executions
                  if e[1] == res.statement_id]
    assert [(e[2], e[5]) for e in executions] == [("success", len(rows))]
    spans = tel.spans()
    execute = [s for s in spans if s.span_id == res.root_span_id]
    assert execute[0].attributes["plan_cache"] == "reused"
    collect = [s for s in spans if s.name == "statement.collect"
               and s.parent_id == res.root_span_id]
    assert [s.attributes["rows"] for s in collect] == [len(rows)]
    assert engine._admission.stats().executing == 0


def test_reuse_over_flight(spark, sf_smoke):
    eng = Engine(spark=spark)
    eng.add_user("rr", "secret", role="admin")
    srv = FlightEngineServer(engine=eng, location="grpc://127.0.0.1:0")
    client = flight.FlightClient(f"grpc://127.0.0.1:{srv.port}")
    token = base64.b64encode(b"rr:secret").decode()
    opts = flight.FlightCallOptions(headers=[
        (b"authorization", f"Basic {token}".encode())])
    try:
        sid = json.loads(next(iter(client.do_action(
            flight.Action("create_session", b"{}"), options=opts)))
            .body.to_pybytes())["session"]
        sql = ("SELECT r_regionkey, r_name FROM "
               f"read_parquet('{sf_smoke}/region.parquet')")

        def do_get() -> pa.Table:
            desc = flight.FlightDescriptor.for_command(json.dumps(
                {"type": "statement_query", "session": sid,
                 "sql": sql}).encode())
            info = client.get_flight_info(desc, options=opts)
            return client.do_get(info.endpoints[0].ticket,
                                 options=opts).read_all()

        first = do_get()
        jobs0 = _jobs(spark, sid)
        second = do_get()
        assert _jobs(spark, sid) == jobs0
        assert second.equals(first) and second.num_rows == 5
        assert eng.telemetry.counter_value(
            "engine.plan_cache_total", result="reused") == 1
    finally:
        client.close()
        srv.shutdown()


# --- freshness --------------------------------------------------------


@pytest.mark.parametrize("through_view", [False, True])
def test_in_place_file_rewrite_is_seen(engine, session, tmp_path,
                                       through_view):
    f = tmp_path / "t.parquet"
    _write_ids(f, [1, 2, 3])
    source, setup = f"read_parquet('{f}')", []
    if through_view:
        # the statement's key names no file: only the identity the
        # stored result keeps can see the rewrite
        setup = [f"CREATE OR REPLACE TEMP VIEW rr_file AS "
                 f"SELECT * FROM {source}"]
        source = "rr_file"
    for stmt in setup:
        engine.execute_sql(session, stmt)
    sql = f"SELECT sum(id) AS s, count(*) AS n FROM {source}"
    assert _stored(engine, session, sql) == [(6, 3)]
    size = f.stat().st_size
    time.sleep(0.05)  # let the mtime move on a coarse-tick filesystem
    _write_ids(f, [7, 8, 9])
    assert f.stat().st_size == size
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == [(24, 3)] == _fresh(engine, sql, setup)


@pytest.mark.parametrize("mode", ["append", "replace"])
@pytest.mark.parametrize("other_session", [False, True])
@pytest.mark.parametrize("sql", ["SELECT id, v FROM {t}",
                                 "SELECT count(*) AS n, sum(v) AS s FROM {t}"])
def test_ingest_is_seen(engine, session, table, mode, other_session, sql):
    sql = sql.format(t=table)
    before = _stored(engine, session, sql)
    writer = engine.create_session(role="admin") if other_session \
        else session
    try:
        engine.ingest(writer, table, _ids(2, start=7), mode=mode)
    finally:
        if other_session:
            engine.close_session(writer)
    after, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert after != before
    assert after == _fresh(engine, sql)


def test_write_after_analysis_is_seen(engine, session, table):
    """A write between a statement's analysis and its collect: the run
    may read the table as listed at the analysis, so its result is
    stale as soon as it is stored, whatever the files' identity."""
    sql = f"SELECT count(*) AS n, sum(v) AS s FROM {table}"
    _stored(engine, session, sql)
    res = engine.execute_sql(session, sql)
    writer = engine.create_session(role="admin")
    try:
        engine.ingest(writer, table, _ids(2, start=7), mode="append")
    finally:
        engine.close_session(writer)
    engine.collect_arrow(session, res)
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == [(5, 60 + 7 + 8)] == _fresh(engine, sql)


@pytest.mark.parametrize("write", [
    "INSERT INTO {t} VALUES (9, 90)",
    "DELETE FROM {t} WHERE id = 1",
])
def test_insert_and_delete_are_seen(engine, session, table, write):
    sql = f"SELECT count(*) AS n, sum(v) AS s FROM {table}"
    before = _stored(engine, session, sql)
    engine.execute_sql(session, write.format(t=table))
    after, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert after != before
    assert after == _fresh(engine, sql)


def test_replaced_temp_view_is_seen(engine, session, table):
    engine.execute_sql(session, "CREATE OR REPLACE TEMP VIEW rr_v AS "
                                f"SELECT id FROM {table} WHERE id < 2")
    sql = "SELECT count(*) AS n FROM rr_v"
    assert _stored(engine, session, sql) == [(1,)]
    redefine = (f"CREATE OR REPLACE TEMP VIEW rr_v AS "
                f"SELECT id FROM {table} WHERE id > 1")
    engine.execute_sql(session, redefine)
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == [(2,)] == _fresh(engine, sql, [redefine])


def test_view_an_operator_re_registers_is_seen(engine, session, sf_smoke):
    """``information_schema_tables`` registers every fixture table of its
    dir as a temp view, ``nation`` among them: the statement text is
    unchanged, the plan it resolves to is not."""
    narrow = (f"CREATE OR REPLACE TEMP VIEW nation AS SELECT * FROM "
              f"read_parquet('{sf_smoke}/nation.parquet') "
              "WHERE n_regionkey = 0")
    engine.execute_sql(session, narrow)
    sql = "SELECT count(*) AS n FROM nation"
    assert _stored(engine, session, sql) == [(5,)]
    op = (f"SELECT count(*) AS n FROM "
          f"pipeline_op('information_schema_tables', '{sf_smoke}')")
    _run(engine, session, op)
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == [(25,)] == _fresh(engine, sql, [
        narrow.replace(" WHERE n_regionkey = 0", "")])


def test_operator_result_is_reused(engine, session, spark, sf_smoke):
    """An operator's frame is built again on every call, over the
    session's identity-checked relations: its plan is the same, so its
    result is served."""
    sql = f"SELECT * FROM pipeline_op('q06', '{sf_smoke}')"
    rows = _stored(engine, session, sql)
    jobs0 = _jobs(spark, session)
    assert _run(engine, session, sql) == (rows, "reused")
    assert _jobs(spark, session) == jobs0


@pytest.fixture()
def other_db(engine, session):
    """A database holding a table of the same name as one in default."""
    db, name = f"rrdb_{time.monotonic_ns()}", f"rrt_{time.monotonic_ns()}"
    engine.execute_sql(session, f"CREATE DATABASE {db}")
    engine.execute_sql(session, f"CREATE TABLE default.{name} AS "
                                "SELECT 1 AS id")
    engine.execute_sql(session, f"CREATE TABLE {db}.{name} AS "
                                "SELECT 2 AS id")
    yield db, name
    engine.execute_sql(session, "USE default")
    engine.execute_sql(session, f"DROP TABLE IF EXISTS default.{name}")
    engine.execute_sql(session, f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_use_is_seen(engine, session, other_db):
    db, name = other_db
    sql = f"SELECT id FROM {name}"
    assert _stored(engine, session, sql) == [(1,)]
    engine.execute_sql(session, f"USE {db}")
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == [(2,)] == _fresh(engine, sql, [f"USE {db}"])


def test_spark_set_and_reset_are_seen(engine, session):
    # the session time zone is resolved into the plan at analysis
    sql = ("SELECT CAST(TIMESTAMP '2020-01-01 00:00:00 UTC' AS STRING) "
           "AS s")
    before = _stored(engine, session, sql)
    tz = "SET spark.sql.session.timeZone = Asia/Tokyo"
    try:
        engine.execute_sql(session, tz)
        rows, outcome = _run(engine, session, sql)
        assert outcome != "reused"
        assert rows == [("2020-01-01 09:00:00",)] == _fresh(engine, sql, [tz])
    finally:
        engine.execute_sql(session, "RESET spark.sql.session.timeZone")
    rows, outcome = _run(engine, session, sql)
    assert outcome != "reused"
    assert rows == before == _fresh(engine, sql)


# --- never reused -----------------------------------------------------


@pytest.mark.parametrize("expr", ["rand()", "uuid()", "current_timestamp()"])
def test_volatile_expressions_are_never_reused(engine, session, expr):
    sql = f"SELECT {expr} AS x FROM range(1)"
    runs = [_run(engine, session, sql) for _ in range(3)]
    assert "reused" not in [outcome for _, outcome in runs]
    assert len({rows[0][0] for rows, _ in runs}) == 3


def test_engine_table_function_is_never_reused(engine, session):
    sql = "SELECT max(at) AS last FROM engine_query_log()"
    (first,), outcome = _run(engine, session, sql)
    (second,), outcome2 = _run(engine, session, sql)
    assert outcome == outcome2 == "ineligible"
    assert second[0] > first[0]


def test_result_over_one_batch_is_never_stored(engine, session, spark):
    st = engine._session(session)
    batch = int(st.spark.conf.get(engine_mod._ARROW_BATCH_ROWS))
    sql = f"SELECT id FROM range({batch + 1})"
    for _ in range(2):
        jobs0 = _jobs(spark, session)
        res = engine.execute_sql(session, sql)
        assert engine.collect_arrow(session, res).num_rows == batch + 1
        assert res.plan_cache != "reused"
        assert _jobs(spark, session) > jobs0
    assert st.plans.weight == 0


def test_bound_parameters_are_never_reused(engine, session, spark):
    ps = engine.prepare(session, "SELECT id FROM range(10) WHERE id = ?")
    for value in (3, 3):
        jobs0 = _jobs(spark, session)
        res = engine.execute_prepared(session, ps.handle, [value])
        assert engine.collect_arrow(session, res).to_pylist() == [{"id": 3}]
        assert res.plan_cache == "ineligible"
        assert _jobs(spark, session) > jobs0


def test_explain_analyze_is_never_reused(engine, session, spark):
    sql = "SELECT count(*) AS n FROM range(100)"
    _stored(engine, session, sql)
    for _ in range(2):
        jobs0 = _jobs(spark, session)
        res = engine.execute_sql(session, f"EXPLAIN ANALYZE {sql}")
        assert "rows: 1" in engine.collect_arrow(
            session, res).column(0)[0].as_py()
        assert _jobs(spark, session) > jobs0


# --- macros -----------------------------------------------------------


def test_replaced_macro_serves_its_new_rows(engine, session):
    name = f"rr_m_{time.monotonic_ns()}"
    engine.execute_sql(session, f"CREATE MACRO {name}() AS TABLE "
                                "SELECT 1 AS x")
    sql = f"SELECT * FROM {name}()"
    assert _stored(engine, session, sql) == [(1,)]
    engine.execute_sql(session, f"CREATE OR REPLACE MACRO {name}() AS "
                                "TABLE SELECT 2 AS x")
    assert _run(engine, session, sql)[0] == [(2,)]
    engine.execute_sql(session, f"DROP MACRO {name}")


# --- concurrency, lifecycle, budget -----------------------------------


def test_concurrent_reuse_of_one_statement(engine, session, spark,
                                           sf_smoke):
    sql = (f"SELECT r_name, count(*) AS n FROM "
           f"read_parquet('{sf_smoke}/region.parquet') GROUP BY r_name")
    want = _stored(engine, session, sql)
    got, outcomes, errors = [], [], []

    def run():
        try:
            rows, outcome = _run(engine, session, sql)
            got.append(rows)
            outcomes.append(outcome)
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == [want] * 8
    assert outcomes == ["reused"] * 8
    assert engine._admission.stats().executing == 0


@pytest.mark.parametrize("how", ["close", "kill"])
def test_close_and_kill_release_stored_results(engine, how):
    sid = engine.create_session(role="admin")
    st = engine._session(sid)
    _stored(engine, sid, "SELECT id FROM range(3)")
    assert st.plans.weight > 0
    if how == "close":
        engine.close_session(sid)
    else:
        admin = engine.create_session(role="admin")
        engine.execute_sql(admin, f"KILL SESSION '{sid}'")
        engine.close_session(admin)
    assert len(st.plans) == 0 and st.plans.weight == 0


def test_byte_budget_evicts_least_recently_used(engine, monkeypatch):
    queries = [f"SELECT id + {i} AS id FROM range(1000)" for i in range(3)]
    probe = engine.create_session(role="admin")
    _run(engine, probe, queries[0])
    size = engine._session(probe).plans.weight
    engine.close_session(probe)
    assert size > 0
    budget = 2 * size + size // 2  # room for two results
    monkeypatch.setattr(engine_mod, "_RESULT_BYTES_PER_SESSION", budget)
    sid = engine.create_session(role="admin")
    st = engine._session(sid)
    try:
        a, b, c = queries
        _run(engine, sid, a)
        _run(engine, sid, b)
        assert _run(engine, sid, a)[1] == "reused"  # b is now the oldest
        _run(engine, sid, c)
        assert st.plans.weight <= budget
        assert _run(engine, sid, a)[1] == "reused"
        assert _run(engine, sid, c)[1] == "reused"
        assert _run(engine, sid, b)[1] != "reused"
        assert st.plans.weight <= budget
    finally:
        engine.close_session(sid)
