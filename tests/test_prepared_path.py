"""Prepared statements run on the statement path ``execute_sql`` runs.

Prepare gates the statement and analyzes only a parameterless query;
execute binds the values and runs the statement as a direct one runs:
the same gates, dialect rewrites, write bookkeeping (transactions,
cross-session refresh, plan invalidation), records and plan cache.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gizmosql_spark import security
from gizmosql_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark)
    eng.add_user("dev_writer", "x", role="user",
                 read_catalogs=["spark_catalog"], write_catalogs=["dev_*"])
    return eng


@pytest.fixture()
def session(engine):
    sid = engine.create_session(role="admin")
    yield sid
    engine.close_session(sid)


@pytest.fixture()
def table(engine, session):
    """A managed table ``(id bigint)`` holding one row."""
    name = f"pp_{time.monotonic_ns()}"
    engine.execute_sql(session, f"CREATE TABLE {name} AS SELECT 1L AS id")
    yield name
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")


def _count(engine, sid, table) -> int:
    res = engine.execute_sql(sid, f"SELECT count(*) FROM {table}")
    return engine.collect(sid, res)[0][0]


def _prepared_rows(engine, sid, sql, params=None) -> list[tuple]:
    ps = engine.prepare(sid, sql)
    try:
        res = engine.execute_prepared(sid, ps.handle, params)
        return [tuple(r) for r in engine.collect(sid, res)]
    finally:
        engine.close_prepared(sid, ps.handle)


def test_parameterless_insert_runs_once(engine, session, table):
    ps = engine.prepare(session, f"INSERT INTO {table} VALUES (7)")
    assert ps.schema is not None and not ps.schema.fields
    assert _count(engine, session, table) == 1
    res = engine.execute_prepared(session, ps.handle)
    assert res.affected_rows == 1
    assert _count(engine, session, table) == 2


def test_prepared_insert_obeys_catalog_acl(engine, session, table):
    sid = engine.create_session(
        token=engine.authenticate("dev_writer", "x"))
    try:
        denied0 = engine.telemetry.counter_value(
            "engine.statements_total", status="denied")
        with pytest.raises(security.CommandDenied):
            ps = engine.prepare(sid, f"INSERT INTO {table} VALUES (?)")
            engine.execute_prepared(sid, ps.handle, [5])
        assert engine.telemetry.counter_value(
            "engine.statements_total", status="denied") == denied0 + 1
        assert _count(engine, session, table) == 1
    finally:
        engine.close_session(sid)


def test_rollback_undoes_prepared_insert(engine, session, table):
    engine.execute_sql(session, "BEGIN")
    ps = engine.prepare(session, f"INSERT INTO {table} VALUES (?)")
    engine.execute_prepared(session, ps.handle, [5])
    assert _count(engine, session, table) == 2
    engine.execute_sql(session, "ROLLBACK")
    assert _count(engine, session, table) == 1


def test_prepared_insert_visible_to_other_session(engine, session, table):
    other = engine.create_session(role="admin")
    try:
        assert _count(engine, other, table) == 1
        assert _count(engine, other, table) == 1  # served from its cache
        ps = engine.prepare(session, f"INSERT INTO {table} VALUES (?)")
        engine.execute_prepared(session, ps.handle, [5])
        assert _count(engine, other, table) == 2
    finally:
        engine.close_session(other)


@pytest.fixture(scope="module")
def ids_file(tmp_path_factory):
    """Ten rows: id 0..9, g = id % 3."""
    path = tmp_path_factory.mktemp("prepared") / "ids.parquet"
    pq.write_table(pa.table({"id": pa.array(range(10), pa.int64()),
                             "g": pa.array([i % 3 for i in range(10)],
                                           pa.int64())}), str(path))
    return str(path)


#: each row runs directly with its literals and prepared with them
#: bound, in order, to its ``{}`` markers
_DIALECT_ROWS = {
    "read_parquet": ("SELECT id FROM read_parquet('{f}') WHERE id < {}",
                     [7]),
    "bare_scan": ("SELECT id FROM '{f}' WHERE id < {}", [7]),
    "qualify": ("SELECT g, id FROM '{f}' WHERE id < {} QUALIFY "
                "row_number() OVER (PARTITION BY g ORDER BY id) = 1", [7]),
    "distinct_on": ("SELECT DISTINCT ON (g) g, id FROM '{f}' "
                    "WHERE id < {} ORDER BY g, id", [7]),
    # the rewrite moves the keys after the select list and repeats the
    # ORDER BY inside the window
    "distinct_on_marker_keys": (
        "SELECT DISTINCT ON (id % {}) id, id * {} AS y FROM '{f}' "
        "WHERE id < {} ORDER BY id % {}, id", [3, 10, 8, 3]),
    "exclude": ("SELECT * EXCLUDE (g) FROM '{f}' WHERE id < {}", [7]),
    "order_by_all": ("SELECT g, id FROM '{f}' WHERE id < {} ORDER BY ALL",
                     [7]),
    "macro": ("SELECT pp_plus_ten(id) AS y FROM '{f}' WHERE id < {}", [7]),
    # the body names its parameters in the reverse order
    "macro_reversed": ("SELECT id, pp_sub({}, {}) AS y FROM '{f}' "
                       "WHERE id < {}", [10, 3, 4]),
    # the body uses its parameter twice
    "macro_twice": ("SELECT id + pp_square({}) AS y FROM '{f}' "
                    "WHERE id < {}", [3, 4]),
    "pipeline_op": ("SELECT count(*) AS n FROM pipeline_op("
                    "'dataset_split', '{sf}') WHERE n_docs > {}", [7]),
}


@pytest.mark.parametrize("name", sorted(_DIALECT_ROWS))
def test_dialect_parity(engine, session, ids_file, sf_smoke, name):
    for macro in ("pp_plus_ten(x) AS x + 10", "pp_sub(a, b) AS b - a",
                  "pp_square(x) AS x * x"):
        engine.execute_sql(session, f"CREATE OR REPLACE MACRO {macro}")
    template, values = _DIALECT_ROWS[name]
    template = template.replace("{f}", ids_file).replace("{sf}", sf_smoke)
    direct = engine.execute_sql(session, template.format(*values))
    expected = sorted(tuple(r) for r in engine.collect(session, direct))
    assert expected
    got = _prepared_rows(
        engine, session, template.format(*["?"] * len(values)), values)
    assert sorted(got) == expected


def test_parameterized_execution_is_not_cached(engine, session):
    ps = engine.prepare(session, "SELECT id FROM range(10) WHERE id = ?")
    answers, outcomes = [], []
    for value in (3, 4, 3):
        res = engine.execute_prepared(session, ps.handle, [value])
        answers.append([r[0] for r in engine.collect(session, res)])
        outcomes.append(res.plan_cache)
    assert answers == [[3], [4], [3]]
    assert outcomes == ["ineligible"] * 3
    # the schema was learned on the first execution
    assert ps.schema.fieldNames() == ["id"]


def test_parameterless_query_shares_the_plan_cache(engine, session):
    sql = "SELECT id FROM range(6) WHERE id > 2"
    tel = engine.telemetry
    miss0 = tel.counter_value("engine.plan_cache_total", result="miss")
    ps = engine.prepare(session, sql)
    assert ps.schema.fieldNames() == ["id"]
    assert tel.counter_value(
        "engine.plan_cache_total", result="miss") == miss0 + 1
    outcomes = []
    for _ in range(2):
        res = engine.execute_prepared(session, ps.handle)
        assert [r[0] for r in engine.collect(session, res)] == [3, 4, 5]
        outcomes.append(res.plan_cache)
    assert outcomes == ["hit", "hit"]
    # the same text sent directly reuses the same entry
    assert engine.execute_sql(session, sql).plan_cache == "hit"


def test_prepared_execution_is_recorded(engine, session):
    """One execution: one query-log entry and counter under the marker
    text, one statement row named for the prepared entry point, one
    statement.execute span, and the collect attached to both."""
    sql = "SELECT id FROM range(20) WHERE id < ?"
    ps = engine.prepare(session, sql)
    tel = engine.telemetry
    ok0 = tel.counter_value("engine.statements_total", status="ok")
    res = engine.execute_prepared(session, ps.handle, [4])
    assert len(engine.collect(session, res)) == 4
    assert tel.counter_value("engine.statements_total", status="ok") == ok0 + 1
    last = engine.query_log.entries()[-1]
    assert (last.session_id, last.sql, last.status) == (session, sql, "ok")
    rows = [s for s in engine.instr.statements if s[0] == res.statement_id]
    assert [(r[1], r[2], r[3], r[4]) for r in rows] == [
        (session, sql, "execute_prepared", True)]
    assert [e[2] for e in engine.instr.executions
            if e[1] == res.statement_id] == ["success"]
    spans = [s for s in tel.spans() if s.trace_id == res.trace_id]
    assert [s.name for s in spans] == ["statement.execute",
                                       "statement.collect"]
    assert spans[0].span_id == res.root_span_id
    assert spans[1].parent_id == res.root_span_id
    assert spans[1].attributes["rows"] == 4


def test_prepare_runs_no_statement(engine, session):
    """Prepare analyzes a parameterless query and runs nothing else; a
    denied prepare is recorded like a denied statement."""
    tel = engine.telemetry
    ok0 = tel.counter_value("engine.statements_total", status="ok")
    for sql in ("SELECT 1 AS one", "SET spark.sql.shuffle.partitions = 3",
                "CREATE TABLE pp_never AS SELECT 1 AS x"):
        engine.prepare(session, sql)
    assert tel.counter_value("engine.statements_total", status="ok") == ok0
    assert not engine.spark.catalog.tableExists("pp_never")
    user = engine.create_session(role="readonly")
    try:
        denied0 = tel.counter_value("engine.statements_total",
                                    status="denied")
        with pytest.raises(security.CommandDenied):
            engine.prepare(user, "DROP TABLE IF EXISTS pp_never")
        assert tel.counter_value(
            "engine.statements_total", status="denied") == denied0 + 1
        assert engine.instr.statements[-1][3:5] == ("prepare", False)
    finally:
        engine.close_session(user)


def test_prepare_analyzes_read_only_statements(engine, session, table):
    """Prepare analyzes a parameterless query, also one led by a comment
    or a parenthesis, and a SHOW/DESCRIBE/EXPLAIN command; a write gets
    no columns and does not run."""
    for sql, first in (("-- note\nSELECT 1 AS one", "one"),
                       ("/* note */ (SELECT 1 AS one)", "one"),
                       ("SHOW TABLES", "namespace"),
                       (f"DESCRIBE {table}", "col_name"),
                       ("EXPLAIN SELECT 1", "plan")):
        assert engine.prepare(session, sql).schema.fieldNames()[0] == first
    ps = engine.prepare(session, f"/* note */ INSERT INTO {table} VALUES (2)")
    assert not ps.schema.fields
    assert _count(engine, session, table) == 1


def test_explain_analyze_records_under_its_statement(engine, session):
    """The run inside EXPLAIN ANALYZE is an execution of the outer
    statement: every span of the statement shares one trace."""
    tel = engine.telemetry
    n0 = len(tel.spans())
    res = engine.execute_sql(
        session, "EXPLAIN ANALYZE SELECT id % 3 AS k FROM range(30)")
    engine.collect(session, res)
    spans = tel.spans()[n0:]
    assert sorted(s.name for s in spans) == [
        "statement.collect", "statement.collect", "statement.execute"]
    assert {s.trace_id for s in spans} == {res.trace_id}
    assert all(s.parent_id == res.root_span_id
               for s in spans if s.name == "statement.collect")
    execs = [e for e in engine.instr.executions if e[1] == res.statement_id]
    assert [e[5] for e in execs] == [30, 1]
