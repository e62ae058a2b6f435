"""Per-session plan cache: a repeated query reuses its analyzed
DataFrame while its inputs are unchanged.

Every freshness test caches a query (two runs, the second a hit), then
changes what the query reads, and checks the session's next run against
a fresh session's result.
"""

from __future__ import annotations

import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gizmosql_spark.engine import Engine
from gizmosql_spark.session_cache import SessionLRU


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
    name = f"pc_{time.monotonic_ns()}"
    engine.execute_sql(
        session, f"CREATE TABLE {name} AS SELECT id, id * 10 AS v "
                 "FROM range(1, 4)")
    yield name
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")


def _run(engine, sid, sql) -> tuple[list[tuple], str | None]:
    """(sorted rows, plan cache outcome) of one statement."""
    res = engine.execute_sql(sid, sql)
    rows = sorted(tuple(r) for r in engine.collect(sid, res))
    return rows, res.plan_cache


def _cached(engine, sid, sql) -> list[tuple]:
    """Run ``sql`` until it is served from the cache; its rows."""
    rows, first = _run(engine, sid, sql)
    again, second = _run(engine, sid, sql)
    assert (first, second) == ("miss", "hit")
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


def _write_ids(path, ids, name="id") -> None:
    pq.write_table(pa.table({name: pa.array(ids, pa.int64())}), str(path))


# --- hits -----------------------------------------------------------


@pytest.mark.parametrize("through_view", [False, True])
def test_repeat_reuses_the_dataframe(engine, session, sf_smoke,
                                     monkeypatch, through_view):
    path = f"{sf_smoke}/nation.parquet"
    source = f"read_parquet('{path}')"
    setup = []
    if through_view:
        setup = [f"CREATE OR REPLACE TEMP VIEW pc_nation AS "
                 f"SELECT * FROM {source}"]
        source = "pc_nation"
    for stmt in setup:
        engine.execute_sql(session, stmt)
    sql = f"SELECT n_nationkey, n_name FROM {source} WHERE n_regionkey = 1"
    first = engine.execute_sql(session, sql)
    rows = sorted(tuple(r) for r in engine.collect(session, first))

    st = engine._session(session)
    calls = []
    real_sql = st.spark.sql
    monkeypatch.setattr(st.spark, "sql",
                        lambda *a, **k: calls.append(a) or real_sql(*a, **k))
    second = engine.execute_sql(session, sql)
    assert calls == []
    assert (first.plan_cache, second.plan_cache) == ("miss", "hit")
    assert second.df is first.df
    assert sorted(tuple(r) for r in engine.collect(session, second)) \
        == rows == _fresh(engine, sql, setup)
    assert len(rows) == 5


# --- freshness --------------------------------------------------------


@pytest.mark.parametrize("mode", ["append", "replace"])
@pytest.mark.parametrize("through_view", [False, True])
@pytest.mark.parametrize("other_session", [False, True])
def test_ingest_is_seen(engine, session, table, mode, through_view,
                        other_session):
    source = table
    if through_view:
        engine.execute_sql(session, f"CREATE OR REPLACE TEMP VIEW "
                                    f"pc_view AS SELECT * FROM {table}")
        source = "pc_view"
    sql = f"SELECT id, v FROM {source}"
    before = _cached(engine, session, sql)
    writer = engine.create_session(role="admin") if other_session \
        else session
    try:
        engine.ingest(writer, table, _ids(2, start=7), mode=mode)
    finally:
        if other_session:
            engine.close_session(writer)
    after, outcome = _run(engine, session, sql)
    assert outcome == "miss"
    assert after != before
    assert after == _fresh(engine, f"SELECT id, v FROM {table}")


@pytest.mark.parametrize("write", [
    "INSERT INTO {t} VALUES (9, 90)",
    "UPDATE {t} SET v = v + 1 WHERE id = 2",
    "DELETE FROM {t} WHERE id = 1",
    "COPY {t} FROM '{file}' (FORMAT parquet)",
])
def test_dml_and_copy_are_seen(engine, session, table, tmp_path, write):
    f = tmp_path / "more"
    f.mkdir()
    pq.write_table(_ids(2, start=20), str(f / "part-0.parquet"))
    sql = f"SELECT id, v FROM {table}"
    before = _cached(engine, session, sql)
    engine.execute_sql(session, write.format(t=table, file=f))
    after, outcome = _run(engine, session, sql)
    assert outcome == "miss"
    assert after != before
    assert after == _fresh(engine, sql)


def test_replaced_temp_view_is_seen(engine, session, table):
    engine.execute_sql(session, "CREATE OR REPLACE TEMP VIEW pc_v AS "
                                f"SELECT id FROM {table} WHERE id < 2")
    sql = "SELECT id FROM pc_v"
    assert _cached(engine, session, sql) == [(1,)]
    redefine = (f"CREATE OR REPLACE TEMP VIEW pc_v AS "
                f"SELECT id FROM {table} WHERE id > 1")
    engine.execute_sql(session, redefine)
    assert _run(engine, session, sql)[0] == [(2,), (3,)] \
        == _fresh(engine, sql, [redefine])


def test_drop_and_create_table_is_seen(engine, session, table):
    sql = f"SELECT id FROM {table}"
    assert len(_cached(engine, session, sql)) == 3
    engine.execute_sql(session, f"DROP TABLE {table}")
    engine.execute_sql(session, f"CREATE TABLE {table} AS "
                                "SELECT id FROM range(100, 102)")
    assert _run(engine, session, sql)[0] == [(100,), (101,)] \
        == _fresh(engine, sql)


@pytest.fixture()
def other_db(engine, session):
    """A database holding a table of the same name as one in default."""
    db, name = f"pcdb_{time.monotonic_ns()}", f"pct_{time.monotonic_ns()}"
    engine.execute_sql(session, f"CREATE DATABASE {db}")
    engine.execute_sql(session, f"CREATE TABLE default.{name} AS "
                                "SELECT 1 AS id")
    engine.execute_sql(session, f"CREATE TABLE {db}.{name} AS "
                                "SELECT 2 AS id")
    yield db, name
    engine.execute_sql(session, "USE default")
    engine.execute_sql(session, f"DROP TABLE IF EXISTS default.{name}")
    engine.execute_sql(session, f"DROP DATABASE IF EXISTS {db} CASCADE")


@pytest.mark.parametrize("how", ["use", "session_options"])
def test_current_database_change_is_seen(engine, session, other_db, how):
    db, name = other_db
    sql = f"SELECT id FROM {name}"
    assert _cached(engine, session, sql) == [(1,)]
    if how == "use":
        engine.execute_sql(session, f"USE {db}")
    else:
        engine.set_session_options(session, schema=db)
    assert _run(engine, session, sql)[0] == [(2,)] \
        == _fresh(engine, sql, [f"USE {db}"])


def test_spark_set_and_reset_are_seen(engine, session, table):
    engine.execute_sql(session, "CREATE OR REPLACE TEMP VIEW pc_case AS "
                                f"SELECT id AS ID, v FROM {table}")
    sql = "SELECT ID FROM pc_case WHERE v = 10"
    assert _cached(engine, session, sql) == [(1,)]
    st = engine._session(session)
    try:
        engine.execute_sql(session, "SET spark.sql.caseSensitive = true")
        assert len(st.plans) == 0
        assert _run(engine, session, sql) == ([(1,)], "miss")
        # case-sensitive now: the cached lower-case form must not serve
        with pytest.raises(Exception, match="(?i)id"):
            engine.execute_sql(session, "SELECT id FROM pc_case")
    finally:
        engine.execute_sql(session, "RESET spark.sql.caseSensitive")
    assert len(st.plans) == 0
    assert _run(engine, session, "SELECT id FROM pc_case WHERE v = 10")[0] \
        == [(1,)]


def test_in_place_file_rewrite_is_seen(engine, session, tmp_path):
    f = tmp_path / "t.parquet"
    _write_ids(f, [1, 2, 3])
    sql = f"SELECT * FROM read_parquet('{f}')"
    assert _cached(engine, session, sql) == [(1,), (2,), (3,)]
    size = f.stat().st_size
    time.sleep(0.05)  # let the mtime move on a coarse-tick filesystem
    _write_ids(f, [7, 8, 9])
    assert f.stat().st_size == size
    assert _run(engine, session, sql) == ([(7,), (8,), (9,)], "miss")
    assert _fresh(engine, sql) == [(7,), (8,), (9,)]


@pytest.mark.parametrize("expr", ["rand()", "uuid()", "current_timestamp()"])
def test_volatile_expressions_change_every_run(engine, session, expr):
    sql = f"SELECT {expr} AS x FROM range(1)"
    runs = [_run(engine, session, sql) for _ in range(3)]
    assert [outcome for _, outcome in runs] == \
        ["miss", "ineligible", "ineligible"]
    assert len({rows[0][0] for rows, _ in runs}) == 3


def test_show_tables_sees_a_create(engine, session):
    name = f"pc_show_{time.monotonic_ns()}"
    sql = "SHOW TABLES"
    assert _run(engine, session, sql)[1] == "miss"
    assert _run(engine, session, sql)[1] == "ineligible"
    engine.execute_sql(session, f"CREATE TABLE {name} AS SELECT 1 AS id")
    try:
        assert name in {r[1] for r in _run(engine, session, sql)[0]}
    finally:
        engine.execute_sql(session, f"DROP TABLE {name}")


def test_engine_table_functions_are_never_reused(engine, session):
    sql = "SELECT max(at) AS last FROM engine_query_log()"
    (first,), outcome = _run(engine, session, sql)
    (second,), outcome2 = _run(engine, session, sql)
    assert outcome == outcome2 == "ineligible"
    assert second[0] > first[0]

    sql = ("SELECT value FROM engine_settings() "
           "WHERE name = 'engine.query_tag'")
    _run(engine, session, sql)
    engine.execute_sql(session, "SET engine.query_tag = 'pc-tag'")
    rows, outcome = _run(engine, session, sql)
    assert (rows, outcome) == ([("pc-tag",)], "ineligible")


def _jobs_in_group(spark, group) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sql", [
    "SELECT v % 20 AS k, count(*) AS n FROM {t} GROUP BY v % 20",
    "SELECT id FROM {t} WHERE v > (SELECT avg(v) FROM {t})",
    # no exchange in the analyzed plan: the physical check finds it
    "SELECT id FROM (SELECT id FROM {t} LIMIT 2) s WHERE id > 0",
])
def test_stateful_plans_run_their_scan_again(engine, session, spark, table,
                                             sql):
    """Exchanges and subqueries keep their results inside the physical
    plan, so such a plan is never reused: the second run launches the
    same jobs as the first (counted through the session's job group)."""
    sql = sql.format(t=table)
    jobs = []
    for _ in range(2):
        n0 = _jobs_in_group(spark, session)
        rows, outcome = _run(engine, session, sql)
        jobs.append(_jobs_in_group(spark, session) - n0)
    assert outcome == "ineligible"
    assert jobs[0] >= 1 and jobs[1] == jobs[0]
    assert rows == _fresh(engine, sql)


# --- concurrency, lifecycle, telemetry --------------------------------


def test_concurrent_runs_of_one_cached_statement(engine, session, spark,
                                                 sf_smoke):
    sql = f"SELECT * FROM read_parquet('{sf_smoke}/region.parquet')"
    want = _run(engine, session, sql)[0]
    got, outcomes, errors = [], [], []

    def run():
        try:
            rows, outcome = _run(engine, session, sql)
            got.append(rows)
            outcomes.append(outcome)
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    # the first repeats check the entry concurrently
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
    assert outcomes == ["hit"] * 8
    assert engine._admission.stats().executing == 0
    tracker = spark.sparkContext.statusTracker()
    assert not [j for j in tracker.getJobIdsForGroup(session)
                if tracker.getJobInfo(j).status == "RUNNING"]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_close_session_drops_plans(engine):
    sid = engine.create_session(role="admin")
    st = engine._session(sid)
    _run(engine, sid, "SELECT 1 AS one")
    assert len(st.plans) == 1
    engine.close_session(sid)
    assert len(st.plans) == 0


def test_counters_and_span_attribute(engine, session, sf_smoke):
    tel = engine.telemetry

    def counts():
        return ({r: tel.counter_value("engine.plan_cache_total", result=r)
                 for r in ("hit", "miss", "ineligible")},
                {r: tel.counter_value("engine.file_relations_total",
                                      result=r) for r in ("hit", "miss")})

    scan = f"SELECT * FROM read_parquet('{sf_smoke}/region.parquet')"
    plans0, files0 = counts()
    outcomes = [_run(engine, session, sql)[1] for sql in (
        scan, scan, "SELECT count(*) FROM range(3)",
        "SELECT count(*) FROM range(3)")]
    assert outcomes == ["miss", "hit", "ineligible", "ineligible"]
    plans1, files1 = counts()
    assert {r: plans1[r] - plans0[r] for r in plans0} == \
        {"hit": 1, "miss": 1, "ineligible": 2}
    assert {r: files1[r] - files0[r] for r in files0} == \
        {"hit": 1, "miss": 1}
    spans = [s for s in tel.spans() if s.name == "statement.execute"
             and s.attributes["session"] == session]
    assert [s.attributes.get("plan_cache") for s in spans[-4:]] == outcomes
    engine.execute_sql(session, "CREATE OR REPLACE TEMP VIEW pc_x AS "
                                "SELECT 1 AS one")
    last = [s for s in tel.spans() if s.name == "statement.execute"][-1]
    assert "plan_cache" not in last.attributes


def test_session_lru_bound_order_and_generation():
    lru = SessionLRU(2)
    lru.put("a", 1)
    lru.put("b", 2)
    assert lru.get("a") == 1  # now b is the least recently used
    lru.put("c", 3)
    assert "b" not in lru and "a" in lru and len(lru) == 2
    generation = lru.generation
    lru.clear()
    lru.put("d", 4, generation)  # built before the clear: refused
    assert len(lru) == 0
    lru.put("d", 4, lru.generation)
    assert lru.get("d") == 4
