"""The catalog work around a write: one metadata lookup, one full
refresh, and a manifest commit only when the entry changes.

Every write path (ingest, INSERT, CTAS, COPY, the emulated
UPDATE/DELETE/MERGE, OPTIMIZE, rollback) ends in
``Engine._refresh_everywhere`` and ``WarehouseCatalog.record``. These
tests pin what that bookkeeping must keep doing while it got cheaper:
other sessions see every write, a restart finds the tables, and a
write behind a WITH list or a comment is classified as the write it
is."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.catalog import Catalog

from gizmosql_spark import engine as engine_mod
from gizmosql_spark.engine import Engine
from gizmosql_spark.security import CommandDenied
from gizmosql_spark.warehouse import WarehouseCatalog, warehouse_dir


def _count(eng: Engine, sid: str, table: str) -> int:
    return eng.collect(
        sid, eng.execute_sql(sid, f"SELECT count(*) AS n FROM {table}"))[0]["n"]


@pytest.fixture()
def eng(spark):
    engine = Engine(spark=spark)
    yield engine
    for sid in list(engine.sessions):
        engine.close_session(sid)


def test_append_leaves_manifest_alone(eng):
    """An append or INSERT into a recorded table changes no entry and
    writes no commit; a replace that changes the schema and a CTAS
    update the manifest."""
    sid = eng.create_session(role="admin")
    eng.ingest(sid, "t_wp_commit", pa.table({"id": [1, 2]}), mode="replace")
    seq = eng.warehouse._state()[1]
    entry = eng.warehouse.tables()["t_wp_commit"]
    eng.ingest(sid, "t_wp_commit", pa.table({"id": [3]}), mode="append")
    eng.execute_sql(sid, "INSERT INTO t_wp_commit VALUES (4)")
    assert eng.warehouse._state()[1] == seq
    assert eng.warehouse.tables()["t_wp_commit"] == entry
    assert _count(eng, sid, "t_wp_commit") == 4

    eng.ingest(sid, "t_wp_commit",
               pa.table({"id": [1], "tag": ["x"]}), mode="replace")
    assert eng.warehouse._state()[1] > seq
    assert "`tag` string" in eng.warehouse.tables()["t_wp_commit"]["schema"]
    eng.execute_sql(
        sid, "CREATE TABLE t_wp_ctas AS SELECT id, tag FROM t_wp_commit")
    assert "`tag` string" in eng.warehouse.tables()["t_wp_ctas"]["schema"]
    for t in ("t_wp_commit", "t_wp_ctas"):
        eng.execute_sql(sid, f"DROP TABLE {t}")
    assert "t_wp_commit" not in eng.warehouse.tables()


def test_append_records_the_table_its_job_left(eng, monkeypatch):
    """An append records the table's metadata as read after its job: a
    schema-changing replace from another session that lands between
    the append's first metadata read and its record stays recorded."""
    sid, other = (eng.create_session(role="admin") for _ in range(2))
    eng.ingest(sid, "t_wp_racing", pa.table({"id": [1]}), mode="replace")
    real = Engine._refresh_everywhere
    raced: list[bool] = []

    def refresh(self, table, spark):
        real(self, table, spark)
        if not raced:
            raced.append(True)
            eng.ingest(other, "t_wp_racing",
                       pa.table({"id": [2], "tag": ["x"]}), mode="replace")

    monkeypatch.setattr(Engine, "_refresh_everywhere", refresh)
    eng.ingest(sid, "t_wp_racing", pa.table({"id": [3]}), mode="append")
    monkeypatch.undo()
    assert raced
    assert "`tag` string" in eng.warehouse.tables()["t_wp_racing"]["schema"]
    eng.execute_sql(sid, "DROP TABLE t_wp_racing")


def test_restart_reattaches_appended_table(spark):
    """A child interpreter creates a table and appends to it (the
    append writes no commit); a new Engine in this process re-attaches
    it and reads every row."""
    child = f"""
import sys
sys.path.insert(0, {os.getcwd()!r})
import pyarrow as pa
from gizmosql_spark.session import get_spark
from gizmosql_spark.engine import Engine
eng = Engine(spark=get_spark("wp-child"))
sid = eng.create_session(role="admin")
eng.execute_sql(sid, "DROP TABLE IF EXISTS t_wp_restart")
eng.ingest(sid, "t_wp_restart", pa.table({{"id": [1, 2]}}), mode="replace")
seq = eng.warehouse._state()[1]
eng.ingest(sid, "t_wp_restart", pa.table({{"id": [3]}}), mode="append")
assert eng.warehouse._state()[1] == seq
print("CHILD_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True,
        timeout=300, cwd=os.getcwd(),
        env={**os.environ, "SPARK_GRAFT_WAREHOUSE": warehouse_dir(spark)})
    assert "CHILD_OK" in proc.stdout, proc.stderr[-2000:]
    assert "t_wp_restart" in WarehouseCatalog(spark).tables()
    eng = Engine(spark=spark)  # __init__ re-attaches the manifest
    sid = eng.create_session(role="admin")
    assert _count(eng, sid, "t_wp_restart") == 3
    eng.execute_sql(sid, "DROP TABLE t_wp_restart")
    eng.close_session(sid)


def test_other_sessions_see_every_write(eng):
    """Sessions that read the table before (one of them with the table
    cached) see each append, replace and INSERT another session makes."""
    writer = eng.create_session(role="admin")
    reader = eng.create_session(role="admin")
    cacher = eng.create_session(role="admin")
    eng.ingest(writer, "t_wp_seen", pa.table({"id": [1, 2]}), mode="replace")
    assert _count(eng, reader, "t_wp_seen") == 2
    eng.execute_sql(cacher, "CACHE TABLE t_wp_seen")
    try:
        assert _count(eng, cacher, "t_wp_seen") == 2
        writes = (
            (lambda: eng.ingest(writer, "t_wp_seen",
                                pa.table({"id": [3]}), mode="append"), 3),
            (lambda: eng.ingest(writer, "t_wp_seen",
                                pa.table({"id": [7]}), mode="replace"), 1),
            (lambda: eng.execute_sql(
                writer, "INSERT INTO t_wp_seen VALUES (8), (9)"), 3),
        )
        for write, rows in writes:
            write()
            assert _count(eng, reader, "t_wp_seen") == rows
            assert _count(eng, cacher, "t_wp_seen") == rows
    finally:
        eng.execute_sql(cacher, "UNCACHE TABLE IF EXISTS t_wp_seen")
        eng.execute_sql(writer, "DROP TABLE t_wp_seen")


@pytest.mark.parametrize("n_sessions", [1, 3])
def test_ingest_reads_no_describe_and_refreshes_once(eng, monkeypatch,
                                                     n_sessions):
    """One ingest runs no DESCRIBE FORMATTED and one full
    ``catalog.refreshTable``, however many sessions are open."""
    sids = [eng.create_session(role="admin") for _ in range(n_sessions)]
    eng.ingest(sids[0], "t_wp_calls", pa.table({"id": [1]}), mode="replace")
    for sid in sids:
        assert _count(eng, sid, "t_wp_calls") == 1
    calls: dict[str, int] = {"describe": 0, "refresh": 0}
    real_sql, real_refresh = SparkSession.sql, Catalog.refreshTable

    def sql(self, text, *a, **kw):
        if text.lstrip().upper().startswith("DESC"):
            calls["describe"] += 1
        return real_sql(self, text, *a, **kw)

    def refresh(self, name):
        calls["refresh"] += 1
        return real_refresh(self, name)

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(Catalog, "refreshTable", refresh)
    for mode, rows in (("append", 2), ("replace", 1)):
        calls.update(describe=0, refresh=0)
        eng.ingest(sids[0], "t_wp_calls", pa.table({"id": [5]}), mode=mode)
        assert calls == {"describe": 0, "refresh": 1}, mode
        for sid in sids:
            assert _count(eng, sid, "t_wp_calls") == rows
    monkeypatch.undo()
    eng.execute_sql(sids[0], "DROP TABLE t_wp_calls")


def test_session_opened_during_refresh(eng, monkeypatch):
    """A session opened while a write drops the other sessions' cached
    relations does not fail the write: the loop runs over a snapshot
    of the sessions taken under the engine lock."""
    sid = eng.create_session(role="admin")
    eng.create_session(role="admin")
    opened: list[str] = []
    real = engine_mod.drop_cached_relation

    def drop(sp, table):
        if not opened:
            opened.append(eng.create_session(role="admin"))
        real(sp, table)

    monkeypatch.setattr(engine_mod, "drop_cached_relation", drop)
    assert eng.ingest(sid, "t_wp_race", pa.table({"id": [1, 2]}),
                      mode="replace") == 2
    assert opened and opened[0] in eng.sessions
    assert _count(eng, opened[0], "t_wp_race") == 2
    eng.execute_sql(sid, "DROP TABLE t_wp_race")


_CTE_INSERT = "WITH c AS (SELECT 5L AS id) INSERT INTO t_wp_cte SELECT * FROM c"


#: writes Spark's lexer and parser read past comments, literals, quoted
#: names, a WITH list or a FROM clause to; each one wrote a row from a
#: readonly session before the gate read statements as Spark does
_READONLY_DENIED = (
    _CTE_INSERT,
    "/* c */ INSERT INTO t_wp_cte VALUES (9)",
    "-- c\nINSERT INTO t_wp_cte VALUES (9)",
    "WITH c AS (SELECT 5L AS id) /* x */ INSERT INTO t_wp_cte SELECT * FROM c",
    "WITH c AS (SELECT 5L AS id) -- x\nINSERT INTO t_wp_cte SELECT * FROM c",
    "WITH /* x */ c AS (SELECT 5L AS id) INSERT INTO t_wp_cte SELECT * FROM c",
    "WITH a AS (SELECT 1), /* x */ c AS (SELECT 5L AS id) "
    "INSERT INTO t_wp_cte SELECT * FROM c",
    "WITH c AS (SELECT 5L AS id -- )\n) INSERT INTO t_wp_cte SELECT * FROM c",
    "WITH c AS (SELECT 5L AS id, 'a\\')' AS s) "
    "INSERT INTO t_wp_cte SELECT id FROM c",
    "WITH c AS (SELECT 5L AS `)`) INSERT INTO t_wp_cte SELECT * FROM c",
    "FROM t_wp_cte INSERT INTO t_wp_cte SELECT *",
    "EXECUTE IMMEDIATE 'INSERT INTO t_wp_cte VALUES (9)'",
    "BEGIN INSERT INTO t_wp_cte VALUES (9); END",
)


def test_write_behind_a_with_list(eng):
    """``WITH … INSERT`` is a write: a readonly session is denied (as
    for a write behind a comment), a session that read the table sees
    the row, prepare does not run it and EXPLAIN ANALYZE refuses it."""
    admin = eng.create_session(role="admin")
    reader = eng.create_session(role="admin")
    ro = eng.create_session(role="readonly")
    eng.ingest(admin, "t_wp_cte", pa.table({"id": [1]}), mode="replace")
    try:
        for sql in _READONLY_DENIED:
            with pytest.raises(CommandDenied):
                eng.execute_sql(ro, sql)
        fresh = eng.create_session(role="admin")
        assert _count(eng, fresh, "t_wp_cte") == 1
        assert _count(eng, reader, "t_wp_cte") == 1
        eng.execute_sql(admin, _CTE_INSERT)
        assert _count(eng, reader, "t_wp_cte") == 2

        ps = eng.prepare(admin, _CTE_INSERT)
        assert _count(eng, reader, "t_wp_cte") == 2
        eng.execute_prepared(admin, ps.handle)
        assert _count(eng, reader, "t_wp_cte") == 3
        with pytest.raises(ValueError, match="query statements only"):
            eng.execute_sql(admin, f"EXPLAIN ANALYZE {_CTE_INSERT}")
        assert _count(eng, reader, "t_wp_cte") == 3
        # a query behind a WITH list is still prepared as a query
        ps = eng.prepare(admin, "WITH c AS (SELECT 1 AS x) SELECT x FROM c")
        assert ps.schema.fieldNames() == ["x"]
    finally:
        eng.execute_sql(admin, "DROP TABLE t_wp_cte")
