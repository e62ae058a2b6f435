"""Service-layer tests: sessions, settings, dialect shim, security
gates, admission, prepared statements, ingest, health.

Mirrors the reference's per-feature integration test layout (SURVEY §5:
test_authentication / test_admin_command_guard / test_admission_controller
/ test_kill_session / test_read_only_mode / test_bulk_ingest ...).
"""

from __future__ import annotations

import threading
import time

import pyarrow as pa
import pytest

from gizmosql_spark import security, session_cache
from gizmosql_spark.admission import AdmissionController, QueueFullError
from gizmosql_spark.dialect import (
    extract_file_scans,
    replace_pseudo_functions,
)
from gizmosql_spark.engine import (
    Engine,
    ServerDraining,
    SessionClosed,
    StatementCancelled,
    StatementTimeout,
)
from gizmosql_spark.settings import SettingError, SettingsState


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture()
def session(engine):
    sid = engine.create_session(role="admin")
    yield sid
    engine.close_session(sid)


# --- dialect ----------------------------------------------------------


def _command(engine, sid, sql):
    """The engine command that runs ``sql`` as sent (None: not one)."""
    got = engine._classify(engine._session(sid), sql, raw=True)
    return got and got[1]


def test_classify_set(engine, session):
    res = engine.execute_sql(session, "SET engine.query_timeout = 5")
    assert res.kind == "set" and res.info == {"engine.query_timeout": "5"}
    assert engine._session(session).settings.get(
        "engine.query_timeout", engine.global_settings) == 5
    prev = engine._admission.max_concurrent
    try:
        res = engine.execute_sql(
            session, "set global gizmosql.max_concurrent_statements TO 3;")
        assert res.info == {"engine.max_concurrent_statements": "3"}
        assert engine.global_settings.get(
            "engine.max_concurrent_statements") == 3
        assert engine._admission.max_concurrent == 3
    finally:
        engine.execute_sql(
            session, f"SET GLOBAL engine.max_concurrent_statements = {prev}")
    assert _command(engine, session, "SELECT 1") is None
    # plain Spark SET is not an engine command
    assert _command(engine, session,
                    "SET spark.sql.shuffle.partitions=8") is None


def test_classify_kill(engine, session):
    res = engine.execute_sql(session, "KILL SESSION 'abc-123'")
    assert res.kind == "kill" and res.info == {"killed": "false"}


def test_pseudo_function_replacement():
    out = replace_pseudo_functions(
        "SELECT ENGINE_VERSION(), gizmosql_user() AS u", {"version": "9.9", "user": "bob"}
    )
    assert "'9.9'" in out and "'bob'" in out
    # never rewrites inside string literals
    out = replace_pseudo_functions(
        "SELECT 'engine_version()' AS s", {"version": "9.9"}
    )
    assert out == "SELECT 'engine_version()' AS s"


def test_extract_file_scans():
    sql, scans = extract_file_scans(
        "SELECT * FROM read_parquet('/tmp/x.parquet') JOIN '/tmp/y.csv' ON 1=1"
    )
    assert len(scans) == 2
    assert scans[0][1] == "parquet" and scans[1][1] == "csv"
    assert "read_parquet" not in sql and "'/tmp/y.csv'" not in sql


# --- settings ---------------------------------------------------------


def test_settings_scope_and_validation():
    s = SettingsState()
    assert s.set("engine.query_timeout", "7", "session", is_admin=False) == 7
    with pytest.raises(SettingError):
        s.set("engine.query_timeout", "-1", "session", is_admin=False)
    with pytest.raises(SettingError):
        s.set("engine.max_concurrent_statements", "2", "global", is_admin=False)
    with pytest.raises(SettingError):
        s.set("engine.nope", "1", "session", is_admin=True)


# --- security gates ---------------------------------------------------


def _gated(engine, sid, sql):
    """``sql`` classified and checked for the session, not run."""
    return engine._rewrite(engine._session(sid), sql, None)


def test_admin_gate_blocks_non_admin(engine, session):
    user = engine.create_session(role="user")
    try:
        for sql in ("ATTACH '/tmp/x.db' AS x",
                    "SELECT * FROM read_csv('/etc/passwd')",
                    "COPY t TO '/tmp/out.csv'", "INSTALL httpfs",
                    "LOAD httpfs", "SET threads = 4",
                    # a local read inside a COPY to a remote path
                    "COPY (SELECT * FROM text.`/etc/hostname`)"
                    " TO 's3://b/out'"):
            with pytest.raises(security.CommandDenied):
                engine.execute_sql(user, sql)
        # remote schemes pass (proven-remote rule)
        _gated(engine, user, "SELECT * FROM read_parquet('s3://b/x.parquet')")
    finally:
        engine.close_session(user)
    # admin passes the gate: only a Flight engine attaches
    with pytest.raises(ValueError, match="Flight engine"):
        engine.execute_sql(session, "ATTACH '/tmp/x.db' AS x")


@pytest.mark.parametrize("sql", [
    "SELECT * FROM read_parquet('s3://b/x.parquet') WHERE note = '/tmp/a'",
    "SELECT * FROM read_parquet('s3://b/x.parquet') WHERE f LIKE '%.csv'",
    "SELECT 'a*b' AS x FROM read_parquet('https://h/x.parquet')",
])
def test_admin_gate_reads_paths_not_literals(engine, sql):
    """A literal that looks like a local path is no path the statement
    reads: a remote scan beside one passes a non-admin session."""
    user = engine.create_session(role="user")
    try:
        rw = _gated(engine, user, sql)
        assert [path for *_, path in rw.scans] == list(rw.stmt.paths)
        assert all(p.startswith(("s3://", "https://")) for p in rw.stmt.paths)
    finally:
        engine.close_session(user)


def test_readonly_blocks_writes(spark, engine):
    def check(sql, role="readonly"):
        security.check_readonly(security.classify(spark, sql), role)

    with pytest.raises(security.CommandDenied):
        check("INSERT INTO t VALUES (1)")
    with pytest.raises(security.CommandDenied):
        check("DROP TABLE t")
    check("SELECT 1")
    check("CREATE TEMP VIEW v AS SELECT 1")
    # BEGIN TRANSACTION is the engine's own command, which a readonly
    # session may run; BEGIN … END is a Spark script
    ro = engine.create_session(role="readonly")
    try:
        assert engine.execute_sql(ro, "BEGIN TRANSACTION").info == {
            "action": "begin"}
        engine.execute_sql(ro, "ROLLBACK")
    finally:
        engine.close_session(ro)
    with pytest.raises(security.CommandDenied):
        check("BEGIN DELETE FROM t; END")
    check("INSERT INTO t VALUES (1)", "user")


@pytest.mark.parametrize("role", ["user", "readonly"])
@pytest.mark.parametrize("sql", [
    "SELECT * FROM text.`/etc/hostname`",
    "SELECT count(*) FROM csv.`/etc/passwd`",
    "SELECT * FROM `org.apache.spark.sql.execution.datasources.text"
    ".TextFileFormat`.`/etc/hostname`",
    "ADD FILE '/etc/hostname'",
    "ADD JAR '/tmp/x.jar'",
    "ADD ARCHIVE '/tmp/x.zip'",
    "CREATE FUNCTION f_gate AS 'x.Y' USING JAR '/tmp/x.jar'",
    "CREATE TABLE t_gate (a INT) USING text LOCATION '/etc'",
    "LOAD DATA LOCAL INPATH '/etc/passwd' INTO TABLE t_gate",
    "INSERT OVERWRITE DIRECTORY '/tmp/gate_out' USING parquet SELECT 1",
    "SELECT TRANSFORM(id) USING 'cat' FROM range(1)",
    "SELECT reflect('java.lang.System', 'getProperty', 'user.name')",
    "SELECT id FROM range(1) WHERE java_method('java.lang.Math', 'abs', -1)"
    " = 1",
])
def test_admin_gate_spark_file_access(engine, role, sql):
    """Spark's own file syntax, code loading, script transforms and Java
    reflection are admin-only: each read or listed a server file, or
    would run a program or any static Java method."""
    sid = engine.create_session(role=role)
    try:
        with pytest.raises(security.CommandDenied):
            engine.execute_sql(sid, sql)
        assert engine.collect(sid, engine.execute_sql(sid, "LIST FILES")) == []
    finally:
        engine.close_session(sid)


def test_admin_gate_spark_file_access_remote_and_admin(spark, engine,
                                                       session):
    for sql in ("SELECT * FROM parquet.`s3://b/x.parquet`",
                "SELECT * FROM t AS a JOIN db.parquet b ON a.k = b.k"):
        security.check_admin_gate(security.classify(spark, sql), False)
    rows = engine.collect(session, engine.execute_sql(
        session, "SELECT * FROM text.`/etc/hostname`"))
    assert len(rows) == 1


# --- admission --------------------------------------------------------


def test_admission_fifo_cap():
    ac = AdmissionController(max_concurrent=1, max_queued=1)
    ac.acquire()
    order = []

    def waiter():
        ac.acquire()
        order.append("second")
        ac.release()

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.1)
    with pytest.raises(QueueFullError):
        ac.acquire()  # queue already holds the waiter
    ac.release()
    t.join(5)
    assert order == ["second"]


# --- engine lifecycle -------------------------------------------------


def test_engine_query_roundtrip(engine, session, sf_smoke):
    res = engine.execute_sql(
        session, f"SELECT count(*) AS n FROM parquet.`{sf_smoke}/nation.parquet`"
    )
    assert res.kind == "query"
    assert res.df.schema.fieldNames() == ["n"]  # schema without execution
    rows = engine.collect(session, res)
    assert rows[0]["n"] == 25


def test_engine_set_and_settings_view(engine, session):
    res = engine.execute_sql(session, "SET engine.query_timeout = 30")
    assert res.kind == "set"
    res = engine.execute_sql(session, "SELECT * FROM engine_settings() WHERE name = 'engine.query_timeout'")
    rows = engine.collect(session, res)
    assert rows[0]["value"] == "30"


def test_engine_pseudo_functions(engine, session):
    res = engine.execute_sql(session, "SELECT ENGINE_CURRENT_SESSION() AS sid")
    rows = engine.collect(session, res)
    assert rows[0]["sid"] == session


def test_engine_file_scan_rewrite(engine, session, sf_smoke):
    res = engine.execute_sql(
        session, f"SELECT count(*) AS n FROM read_parquet('{sf_smoke}/region.parquet')"
    )
    assert engine.collect(session, res)[0]["n"] == 5


def _jobs_during(spark, fn) -> int:
    """Spark jobs ``fn`` launches from this thread (its own job group)."""
    sc = spark.sparkContext
    group = f"jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_ids(path, ids, name="id") -> None:
    import pyarrow.parquet as pq

    pq.write_table(pa.table({name: pa.array(ids, pa.int64())}), str(path))


def _scan_ids(engine, sid, path) -> tuple[list[str], list[int]]:
    """(columns, first-column values) of a file scan."""
    res = engine.execute_sql(
        sid, f"SELECT * FROM read_parquet('{path}') ORDER BY 1")
    return res.df.columns, [r[0] for r in engine.collect(sid, res)]


def _fresh_ids(engine, path) -> list[int]:
    sid = engine.create_session(role="admin")
    try:
        return _scan_ids(engine, sid, path)
    finally:
        engine.close_session(sid)


def test_repeated_file_scan_launches_no_job(engine, session, spark,
                                            sf_smoke):
    """The second identical read_parquet statement reuses the session's
    relation: no listing or schema-inference job before its result."""
    sql = (f"SELECT count(*) AS n FROM "
           f"read_parquet('{sf_smoke}/region.parquet')")
    assert _jobs_during(spark, lambda: engine.execute_sql(session, sql)) == 1
    assert _jobs_during(spark, lambda: engine.execute_sql(session, sql)) == 0
    assert engine.collect(session, engine.execute_sql(session, sql)) \
        [0]["n"] == 5

# A reused relation carries the files' schema and listing, so each
# change below renames the column or changes the file set: a stale
# relation would answer with the old column (all NULL) or old files.


def test_file_scan_sees_in_place_rewrite(engine, session, tmp_path):
    f = tmp_path / "t.parquet"
    _write_ids(f, [1, 2, 3], name="id")
    assert _scan_ids(engine, session, f) == (["id"], [1, 2, 3])
    size = f.stat().st_size
    # identity is (path, size, mtime, inode): wait out the filesystem's
    # timestamp tick so the same-size rewrite moves the mtime
    time.sleep(0.05)
    _write_ids(f, [7, 8, 9], name="xy")
    assert f.stat().st_size == size
    assert _scan_ids(engine, session, f) == _fresh_ids(engine, f) == (
        ["xy"], [7, 8, 9])


def test_file_scan_sees_replace_by_rename(engine, session, tmp_path):
    import os

    f = tmp_path / "t.parquet"
    _write_ids(f, [1, 2], name="id")
    assert _scan_ids(engine, session, f) == (["id"], [1, 2])
    _write_ids(tmp_path / "next.tmp", [5, 6], name="xy")
    assert (tmp_path / "next.tmp").stat().st_size == f.stat().st_size
    os.replace(tmp_path / "next.tmp", f)
    assert _scan_ids(engine, session, f) == _fresh_ids(engine, f) == (
        ["xy"], [5, 6])


def test_file_scan_sees_file_added_to_directory(engine, session, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    _write_ids(d / "a.parquet", [1])
    assert _scan_ids(engine, session, d) == (["id"], [1])
    _write_ids(d / "b.parquet", [2])
    assert _scan_ids(engine, session, d) == _fresh_ids(engine, d) == (
        ["id"], [1, 2])


def test_file_scan_sees_new_glob_match(engine, session, tmp_path):
    _write_ids(tmp_path / "p1.parquet", [1])
    pattern = tmp_path / "p*.parquet"
    assert _scan_ids(engine, session, pattern) == (["id"], [1])
    _write_ids(tmp_path / "p2.parquet", [2])
    assert _scan_ids(engine, session, pattern) == \
        _fresh_ids(engine, pattern) == (["id"], [1, 2])


def test_spark_set_drops_file_relations(engine, session, tmp_path):
    f = tmp_path / "t.parquet"
    _write_ids(f, [1], name="ID")
    relations = session_cache.for_spark(engine._session(session).spark)
    _scan_ids(engine, session, f)
    assert ("parquet", str(f)) in relations
    engine.execute_sql(session, "SET spark.sql.caseSensitive = true")
    assert len(relations) == 0
    try:
        res = engine.execute_sql(
            session, f"SELECT ID FROM read_parquet('{f}')")
        assert [r[0] for r in engine.collect(session, res)] == [1]
        with pytest.raises(Exception, match="(?i)id"):
            engine.execute_sql(session, f"SELECT id FROM read_parquet('{f}')")
    finally:
        engine.execute_sql(session, "RESET spark.sql.caseSensitive")
    assert len(relations) == 0
    # a prepared SET runs only when executed
    _scan_ids(engine, session, f)
    ps = engine.prepare(session, "SET spark.sql.caseSensitive = false")
    assert ("parquet", str(f)) in relations
    engine.execute_prepared(session, ps.handle)
    assert len(relations) == 0
    engine.close_prepared(session, ps.handle)


class _PathReader:
    """Stands in for ``spark.read``: a load returns its path."""

    def __init__(self):
        self.read = self
        self.built: list[str] = []

    def format(self, fmt):
        return self

    def load(self, path):
        self.built.append(path)
        return path


def test_remote_file_scan_is_never_stored(engine, session, monkeypatch):
    from gizmosql_spark import engine as engine_mod

    st = engine._session(session)
    reader = _PathReader()
    built = reader.built
    monkeypatch.setattr(st, "spark", reader)
    for _ in range(2):
        engine_mod._file_relation(st, "parquet", "s3://bucket/t.parquet")
    assert built == ["s3://bucket/t.parquet"] * 2
    assert len(session_cache.for_spark(reader)) == 0
    assert session_cache.file_identity("s3a://bucket/t.parquet") is None
    assert session_cache.file_identity("/tmp/{a,b}.parquet") is None


def test_file_relations_bounded_under_concurrent_scans(engine, session,
                                                       monkeypatch, tmp_path):
    """Threads scanning many paths on one session each get their own
    path's relation, and the session keeps at most the bound."""
    import sys

    from gizmosql_spark import engine as engine_mod

    st = engine._session(session)
    monkeypatch.setattr(st, "spark", _PathReader())
    relations = session_cache.for_spark(st.spark)
    cap = session_cache.CAPACITY
    paths = []
    for i in range(cap + 96):
        f = tmp_path / f"f{i}.parquet"
        f.write_bytes(b"x")
        paths.append(str(f))
    errors, wrong = [], []

    def scan(mine):
        try:
            for _ in range(3):
                for p in mine:
                    if engine_mod._file_relation(st, "parquet", p)[0] != p:
                        wrong.append(p)
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    threads = [threading.Thread(target=scan, args=(paths[i::8],))
               for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert 0 < len(relations) <= cap
    # least recently used goes first: a hit keeps paths[0] past paths[1]
    relations.clear()
    for p in paths[:cap] + paths[:1] + paths[cap:cap + 1]:
        engine_mod._file_relation(st, "parquet", p)
    assert ("parquet", paths[0]) in relations
    assert ("parquet", paths[1]) not in relations
    assert len(relations) == cap


def test_version_as_of_read_is_reused(engine, session, spark, tmp_path):
    table = f"vao_{time.monotonic_ns()}"
    engine.execute_sql(
        session, f"CREATE TABLE {table} AS SELECT id FROM range(1, 3)")
    try:
        engine.execute_sql(session, f"DELETE FROM {table} WHERE id = 1")
        sql = f"SELECT id FROM {table} VERSION AS OF 1 ORDER BY id"
        assert [r[0] for r in engine.collect(
            session, engine.execute_sql(session, sql))] == [1, 2]
        assert _jobs_during(
            spark, lambda: engine.execute_sql(session, sql)) == 0
        assert [r[0] for r in engine.collect(
            session, engine.execute_sql(session, sql))] == [1, 2]
    finally:
        engine.execute_sql(session, f"DROP TABLE IF EXISTS {table}")


def test_close_session_drops_file_relations(engine, sf_smoke):
    sid = engine.create_session(role="admin")
    relations = session_cache.for_spark(engine._session(sid).spark)
    _scan_ids(engine, sid, f"{sf_smoke}/region.parquet")
    assert relations
    engine.close_session(sid)
    assert len(relations) == 0


@pytest.mark.parametrize("end", ["close", "kill"])
def test_ended_session_unpersists_its_frames(engine, sf_smoke, tmp_path,
                                             end):
    """Frames a session's operators persisted go with the session:
    after close_session or KILL SESSION, Spark's persistent-RDD count
    is back to its value before the session ran pipeline_op. The
    operators keep a persisted grouping frame (events_rfm), collected
    probe rows (knn_label_eval) and persisted shingle, band and pair
    frames (dedup_minhash_lsh); none hands back a localCheckpoint,
    whose RDD lives as long as the result frame (ROADMAP)."""
    import shutil

    data = str(tmp_path / "sf")
    shutil.copytree(sf_smoke, data)
    jsc = engine.spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    sid = engine.create_session(role="admin")
    for op in ("knn_label_eval", "events_rfm", "dedup_minhash_lsh"):
        engine.collect(sid, engine.execute_sql(
            sid, f"SELECT count(*) FROM pipeline_op('{op}', '{data}')"))
    assert jsc.getPersistentRDDs().size() > before
    if end == "close":
        engine.close_session(sid)
    else:
        admin = engine.create_session(role="admin")
        engine.execute_sql(admin, f"KILL SESSION '{sid}'")
        engine.close_session(admin)
    assert jsc.getPersistentRDDs().size() == before


def test_prepared_statement_roundtrip(engine, session, sf_smoke):
    ps = engine.prepare(
        session,
        f"SELECT n_name FROM parquet.`{sf_smoke}/nation.parquet` "
        "WHERE n_nationkey = :key ORDER BY n_name",
    )
    assert ps.parameter_names == ["key"]
    res = engine.execute_prepared(session, ps.handle, {"key": 3})
    rows = engine.collect(session, res)
    assert rows[0]["n_name"] == "NATION_3"
    engine.close_prepared(session, ps.handle)
    with pytest.raises(KeyError):
        engine.execute_prepared(session, ps.handle, {"key": 3})


def test_prepared_positional_with_colon_in_literal(engine, session, sf_smoke):
    # a ':word' inside a string literal (or comment) must not flip a
    # positional `?` query into named-parameter mode — the scan runs
    # over literal/comment-masked SQL (ADVICE r5)
    ps = engine.prepare(
        session,
        f"SELECT n_name FROM parquet.`{sf_smoke}/nation.parquet` "
        "WHERE n_name != 'a:b' -- :note\n AND n_nationkey = ?",
    )
    assert ps.positional and ps.parameter_names == ["param_1"]
    res = engine.execute_prepared(session, ps.handle, [3])
    assert engine.collect(session, res)[0]["n_name"] == "NATION_3"
    engine.close_prepared(session, ps.handle)


def test_prepared_cast_not_named_param(engine, session, sf_smoke):
    # DuckDB-style `::type` casts must not register as :type params
    ps = engine.prepare(
        session,
        f"SELECT n_nationkey::STRING AS k "
        f"FROM parquet.`{sf_smoke}/nation.parquet` ORDER BY n_nationkey",
    )
    assert ps.parameter_names == [] and not ps.positional
    engine.close_prepared(session, ps.handle)


def test_session_isolation_temp_views(engine, spark, sf_smoke):
    s1 = engine.create_session()
    s2 = engine.create_session()
    engine.execute_sql(s1, "CREATE TEMP VIEW iso_check AS SELECT 1 AS x")
    r1 = engine.execute_sql(s1, "SELECT * FROM iso_check")
    assert engine.collect(s1, r1)[0]["x"] == 1
    with pytest.raises(Exception):
        engine.execute_sql(s2, "SELECT * FROM iso_check").df.collect()
    engine.close_session(s1)
    engine.close_session(s2)


def test_kill_session_requires_admin(engine):
    victim = engine.create_session()
    user = engine.create_session(role="user")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(user, f"KILL SESSION '{victim}'")
    admin = engine.create_session(role="admin")
    res = engine.execute_sql(admin, f"KILL SESSION '{victim}'")
    assert res.info["killed"] == "true"
    with pytest.raises(SessionClosed):
        engine.execute_sql(victim, "SELECT 1")
    # idempotent
    res = engine.execute_sql(admin, f"KILL SESSION '{victim}'")
    assert res.info["killed"] == "false"
    engine.close_session(user)
    engine.close_session(admin)


def test_readonly_session_rejects_writes(engine):
    ro = engine.create_session(role="readonly")
    with pytest.raises(security.CommandDenied):
        engine.execute_sql(ro, "CREATE TABLE t_nope AS SELECT 1 AS x")
    engine.close_session(ro)


def test_ingest_modes(engine, session, spark):
    import pandas as pd

    spark.sql("DROP TABLE IF EXISTS ingest_t")
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert engine.ingest(session, "ingest_t", df, mode="create") == 3
    # append aligns by name even with reordered columns
    df2 = pd.DataFrame({"b": ["w"], "a": [4]})
    assert engine.ingest(session, "ingest_t", df2, mode="append") == 1
    rows = engine.collect(session, engine.execute_sql(session, "SELECT * FROM ingest_t ORDER BY a"))
    assert [r["a"] for r in rows] == [1, 2, 3, 4]
    assert rows[-1]["b"] == "w"
    assert engine.ingest(session, "ingest_t", df, mode="replace") == 3
    with pytest.raises(Exception):
        engine.ingest(session, "ingest_t", df, mode="create")
    spark.sql("DROP TABLE IF EXISTS ingest_t")


@pytest.fixture()
def ingest_table(engine, session):
    """A table name dropped (through the engine, so the warehouse
    manifest follows) before and after the test."""
    name = "ingest_contract"
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")
    yield name
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")


def _ingest_rows(n: int, start: int = 0) -> pa.Table:
    return pa.table({"id": pa.array(range(start, start + n), pa.int64()),
                     "v": [f"r{i}" for i in range(start, start + n)]})


# each input kind: rows → the object handed to Engine.ingest
_INGEST_INPUTS = {
    "arrow": lambda spark, t: t,
    "arrow_empty": lambda spark, t: t.slice(0, 0),
    "reader": lambda spark, t: pa.RecordBatchReader.from_batches(
        t.schema, t.to_batches(max_chunksize=2)),
    "batch_iter": lambda spark, t: iter(t.to_batches(max_chunksize=2)),
    "pandas": lambda spark, t: t.to_pandas(),
    "spark_df": lambda spark, t: spark.createDataFrame(t),
    "spark_df_empty": lambda spark, t: spark.createDataFrame(t.slice(0, 0)),
}


@pytest.mark.parametrize("mode", ["create", "replace", "append"])
@pytest.mark.parametrize("kind", sorted(_INGEST_INPUTS))
def test_ingest_returns_committed_rows(engine, session, spark, ingest_table,
                                       kind, mode):
    """Every input kind in every mode: the returned count is the rows
    received, and the table then holds exactly those rows (plus the
    prior ones on append)."""
    table = ingest_table
    prior = _ingest_rows(2, start=100)
    if mode != "create":
        engine.ingest(session, table, prior, mode="create")
    rows = _ingest_rows(5)
    data = _INGEST_INPUTS[kind](spark, rows)
    expected = [] if kind.endswith("_empty") else rows["id"].to_pylist()
    assert engine.ingest(session, table, data, mode=mode) == len(expected)
    if mode == "append":
        expected = prior["id"].to_pylist() + expected
    got = engine.collect(session, engine.execute_sql(
        session, f"SELECT id FROM {table} ORDER BY id"))
    assert [r["id"] for r in got] == sorted(expected)


@pytest.mark.parametrize("mode", ["create", "replace", "append"])
def test_ingest_is_one_spark_job(engine, session, spark, ingest_table, mode):
    """The row count rides inside the write and the manifest entry is
    recorded without a catalog listing: one upload, one Spark job."""
    table = ingest_table
    if mode != "create":
        engine.ingest(session, table, _ingest_rows(3), mode="create")
    sc = spark.sparkContext
    group = f"ingest-jobs-{mode}-{time.monotonic_ns()}"
    sc.setJobGroup(group, "ingest job count")
    try:
        assert engine.ingest(session, table, _ingest_rows(1000),
                             mode=mode) == 1000
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_ingest_create_over_existing_fails_promptly(engine, session,
                                                    ingest_table):
    """A failed write never waits on the row-count observation (which
    would block until an action that never ran finished)."""
    table = ingest_table
    engine.ingest(session, table, _ingest_rows(3), mode="create")
    out: dict = {}

    def run():
        try:
            engine.ingest(session, table, _ingest_rows(3), mode="create")
        except Exception as exc:  # noqa: BLE001 - asserted below
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(60)
    assert not t.is_alive(), "create over an existing table blocked"
    assert "already exists" in str(out.get("error", "")).lower()


def test_ingest_raises_when_committed_rows_differ(engine, session,
                                                   ingest_table, monkeypatch):
    from gizmosql_spark import engine as engine_mod

    real = engine_mod._counted_write
    monkeypatch.setattr(engine_mod, "_counted_write",
                        lambda df, write: real(df, write) - 1)
    with pytest.raises(RuntimeError, match="received 4 rows.*committed 3"):
        engine.ingest(session, ingest_table, _ingest_rows(4), mode="create")


def test_drain_rejects_new_work(spark):
    eng = Engine(spark)
    sid = eng.create_session()
    eng.begin_drain()
    with pytest.raises(ServerDraining):
        eng.execute_sql(sid, "SELECT 1")
    with pytest.raises(ServerDraining):
        eng.create_session()


def test_health_check(engine):
    assert engine.health_check() is True


def test_session_options(engine, session):
    opts = engine.get_session_options(session)
    assert opts["catalog"] == "spark_catalog"
    assert opts["schema"] == "default"


# --- transactions / script / cancel / DML counts ----------------------


def test_split_statements():
    from gizmosql_spark.dialect import split_statements

    stmts = split_statements(
        "CREATE TEMP VIEW v AS SELECT 1; -- a comment; with semicolon\n"
        "SELECT 'a;b' AS s;\nSELECT 2"
    )
    assert len(stmts) == 3
    assert stmts[1] == "SELECT 'a;b' AS s"


def test_classify_txn(engine, session):
    for sql, action in [
        ("BEGIN", "begin"),
        ("COMMIT", "commit"),
        ("begin transaction;", "begin"),
        ("ROLLBACK;", "rollback"),
        ("START TRANSACTION", "begin"),
        ("ABORT", "rollback"),
    ]:
        res = engine.execute_sql(session, sql)
        assert res.kind == "txn" and res.info == {"action": action}
    assert _command(engine, session, "BEGIN WORK NOW") is None


def test_dml_target(spark):
    def dml_target(sql):
        writes = security.classify(spark, sql).writes
        return ".".join(writes[0]) if writes else None

    assert dml_target("INSERT INTO t SELECT 1") == "t"
    assert dml_target("insert overwrite table db.t values (1)") == "db.t"
    assert dml_target("DELETE FROM t WHERE x = 1") == "t"
    assert dml_target("UPDATE t SET x = 2") == "t"
    assert dml_target("SELECT * FROM t") is None


def test_transaction_rollback_restores_table(engine, session, spark):
    spark.sql("DROP TABLE IF EXISTS txn_demo")
    engine.execute_sql(session, "CREATE TABLE txn_demo AS SELECT 1 AS x")
    try:
        engine.execute_sql(session, "BEGIN")
        r = engine.execute_sql(session, "INSERT INTO txn_demo VALUES (2)")
        assert r.kind == "update" and r.affected_rows == 1
        assert spark.table("txn_demo").count() == 2
        engine.execute_sql(session, "ROLLBACK")
        assert spark.table("txn_demo").count() == 1
        # committed txn keeps the write and clears the backup
        engine.execute_sql(session, "BEGIN")
        engine.execute_sql(session, "INSERT INTO txn_demo VALUES (3)")
        engine.execute_sql(session, "COMMIT")
        assert spark.table("txn_demo").count() == 2
        assert not [
            t for t in spark.catalog.listTables() if "__txn_" in t.name
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS txn_demo")


def test_transaction_rollback_drops_created_table(engine, session, spark):
    spark.sql("DROP TABLE IF EXISTS txn_new")
    sid = session
    engine.execute_sql(sid, "BEGIN")
    engine.ingest(sid, "txn_new", spark.range(3).toDF("x"), mode="create")
    assert spark.catalog.tableExists("txn_new")
    engine.execute_sql(sid, "ROLLBACK")
    assert not spark.catalog.tableExists("txn_new")


def test_nested_transaction_rejected(engine, session):
    engine.execute_sql(session, "BEGIN")
    with pytest.raises(RuntimeError):
        engine.begin_transaction(session)
    engine.execute_sql(session, "ROLLBACK")
    with pytest.raises(RuntimeError):
        engine.end_transaction(session, commit=True)


def test_execute_script(engine, session):
    results = engine.execute_script(
        session,
        "SET engine.query_timeout = 9; SELECT 1 AS one; SELECT 2 AS two",
    )
    assert [r.kind for r in results] == ["set", "query", "query"]
    assert results[1].df.collect()[0].one == 1


def test_cancel_noop_on_idle_session(engine, session):
    engine.cancel(session)  # no in-flight statement: must not raise


#: one task that sleeps 20 s in the JVM; ``cancelJobGroup`` interrupts it
_SLEEP_SQL = ("SELECT java_method('java.lang.Thread', 'sleep',"
              " CAST(20000 AS BIGINT)) AS s FROM range(1)")


@pytest.fixture()
def admission_cap(engine, session):
    """Two admission slots, so the gate counts executing statements."""
    before = engine._admission.max_concurrent
    engine.execute_sql(
        session, "SET GLOBAL engine.max_concurrent_statements = 2")
    yield
    engine.execute_sql(
        session, f"SET GLOBAL engine.max_concurrent_statements = {before}")


@pytest.mark.parametrize("interrupt", ["timeout", "cancel"])
@pytest.mark.parametrize("sink", ["collect", "collect_arrow"])
def test_watchdog_interrupts_both_sinks(engine, session, admission_cap,
                                        sink, interrupt):
    """Timeout and cancel take the same lifecycle whatever the sink: the
    job is interrupted, the admission slot comes back, and the execution
    row records the outcome with its duration."""
    res = engine.execute_sql(session, _SLEEP_SQL)
    materialize = getattr(engine, sink)
    t0 = time.monotonic()
    if interrupt == "timeout":
        with pytest.raises(StatementTimeout):
            materialize(session, res, timeout=1.0)
    else:
        timer = threading.Timer(1.5, engine.cancel, [session])
        timer.start()
        try:
            with pytest.raises(StatementCancelled):
                materialize(session, res)
        finally:
            timer.cancel()
    assert time.monotonic() - t0 < 10
    assert engine._admission.stats().executing == 0
    last = engine.instr.executions[-1]
    assert last[1] == res.statement_id
    assert last[2] == {"timeout": "timeout", "cancel": "cancelled"}[interrupt]
    assert last[4] > 0


# --- system catalog / query log / BY NAME -----------------------------


def test_insert_by_name_native(engine, session, spark):
    """INSERT INTO ... BY NAME (duckdb_server.cpp:1956-1957) is native
    Spark SQL; pin the column-alignment contract."""
    spark.sql("DROP TABLE IF EXISTS byname_t")
    try:
        engine.execute_sql(session, "CREATE TABLE byname_t (a INT, b STRING)")
        r = engine.execute_sql(
            session, "INSERT INTO byname_t BY NAME SELECT 'x' AS b, 1 AS a"
        )
        assert r.affected_rows == 1
        assert spark.table("byname_t").collect()[0].a == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS byname_t")


def test_system_catalog_views(engine, session, spark):
    from gizmosql_spark.constraints import tpch_constraints

    engine.system_catalog.registry = tpch_constraints()
    engine.execute_sql(
        session, "CREATE OR REPLACE TEMP VIEW syscat_v AS SELECT 1 AS x"
    )
    engine.refresh_system_views()
    idx = spark.table("global_temp.engine_index_info")
    assert idx.filter("table_name = 'lineitem'").count() >= 2  # composite pk
    vd = spark.table("global_temp.engine_view_definition")
    row = vd.filter("view_name = 'syscat_v'").collect()
    assert len(row) == 1 and "SELECT 1" in row[0].view_definition


def test_system_catalog_readonly(engine, session):
    for sql in (
        "DROP VIEW global_temp.engine_index_info",
        # a write behind a comment, a WITH list or a leading FROM
        "/* c */ INSERT INTO global_temp.engine_index_info"
        " SELECT * FROM global_temp.engine_index_info",
        "WITH c AS (SELECT * FROM global_temp.engine_index_info)"
        " INSERT INTO global_temp.engine_index_info SELECT * FROM c",
        "FROM global_temp.engine_index_info"
        " INSERT INTO global_temp.engine_index_info SELECT *",
    ):
        with pytest.raises(PermissionError):
            engine.execute_sql(session, sql)


def test_query_log_redaction(engine, session):
    try:
        engine.execute_sql(
            session,
            "CREATE OR REPLACE TEMP VIEW ql_v AS SELECT 'SECRET ''hunter2''' AS c",
        )
    except Exception:
        pass
    engine.execute_sql(session, "SELECT 1 AS ok_col")
    entries = engine.query_log.entries()
    assert entries[-1].status == "ok" and "SELECT 1" in entries[-1].sql
    user_sid = engine.create_session(role="user")
    try:
        with pytest.raises(security.CommandDenied):
            engine.execute_sql(user_sid, "ATTACH 'x.db' AS other")
        assert engine.query_log.entries()[-1].status == "denied"
    finally:
        engine.close_session(user_sid)


def test_redact_sql():
    from gizmosql_spark.querylog import redact_sql_for_logs

    out = redact_sql_for_logs(
        "CREATE SECRET s (TYPE S3, KEY_ID 'AKIA123', SECRET 'shh',"
        " PASSWORD 'pw'); COPY t TO 's3://u:topsecret@b/x'"
    )
    assert "AKIA123" not in out and "shh" not in out and "pw" not in out
    assert "topsecret" not in out
    assert "[REDACTED]" in out


def test_create_drop_index(engine, session, spark):
    """CREATE INDEX maps to engine metadata (Spark has no secondary
    indexes; reference test_v1_22_features.py:52-54)."""
    r = engine.execute_sql(
        session, "CREATE INDEX idx_t ON orders (o_orderdate, o_custkey)"
    )
    assert r.kind == "update" and r.info["index"] == "idx_t"
    assert engine.system_catalog.registry.indexes["orders"]["idx_t"] == (
        "o_orderdate",
        "o_custkey",
    )
    engine.execute_sql(session, "DROP INDEX idx_t")
    assert "idx_t" not in engine.system_catalog.registry.indexes.get("orders", {})


def test_readonly_cannot_create_index(engine):
    sid = engine.create_session(role="readonly")
    try:
        with pytest.raises(security.CommandDenied):
            engine.execute_sql(sid, "CREATE INDEX i ON t (c)")
    finally:
        engine.close_session(sid)


def test_query_profile_capture(engine, session):
    engine.execute_sql(session, "SET engine.capture_query_profile = true")
    res = engine.execute_sql(session, "SELECT 1 AS one")
    engine.collect(session, res)
    prof = engine.last_profile(session)
    assert prof is not None
    assert "Physical Plan" in prof["plan"]
    engine.execute_sql(session, "SET engine.capture_query_profile = false")


def test_cli_run_statement_and_repl(engine, session):
    """CLI shell (reference src/client analog): statement rendering,
    meta commands, REPL loop over an in-process engine."""
    import io

    from gizmosql_spark import cli

    out = cli.run_statement(engine, session, "SELECT 1 AS a, 'x' AS b")
    assert "a" in out and "x" in out and "(1 rows)" in out
    out = cli.run_statement(engine, session, "SET engine.query_timeout = 5")
    assert "engine.query_timeout=5" in out
    stdin = io.StringIO("SELECT 2 AS two;\n\\q\n")
    stdout = io.StringIO()
    cli.repl(engine, session, stdin=stdin, stdout=stdout)
    assert "two" in stdout.getvalue()


def test_query_log_table_function(engine, session):
    engine.execute_sql(session, "SELECT 42 AS marker_q")
    res = engine.execute_sql(
        session,
        "SELECT status, sql FROM engine_query_log() WHERE sql LIKE '%marker_q%'",
    )
    rows = engine.collect(session, res)
    assert any(r["status"] == "ok" for r in rows)


def test_query_log_redaction_in_view(engine, session):
    try:
        engine.execute_sql(
            session, "SELECT 'x' AS c /* PASSWORD 'hunter2' */"
        )
    except Exception:
        pass
    res = engine.execute_sql(
        session, "SELECT sql FROM engine_query_log() WHERE sql LIKE '%PASSWORD%'"
    )
    for r in engine.collect(session, res):
        assert "hunter2" not in r["sql"]


def test_health_monitor(engine):
    import time as _t

    engine.start_health_monitor(interval_seconds=0.5)
    deadline = _t.time() + 15
    while _t.time() < deadline and not engine.health_status()["healthy"]:
        _t.sleep(0.2)
    status = engine.health_status()
    engine.stop_health_monitor()
    assert status["healthy"] and not status["stale"]


def test_update_delete_on_managed_parquet(engine):
    """UPDATE/DELETE emulation (copy-on-write) on managed parquet
    tables — reference parity via DuckDB's native DML."""
    sid = engine.create_session(role="admin")
    try:
        engine.execute_sql(sid, "DROP TABLE IF EXISTS t_dml_emul")
        engine.execute_sql(
            sid,
            "CREATE TABLE t_dml_emul AS "
            "SELECT id, CAST(id * 10 AS DOUBLE) AS v FROM range(10)",
        )
        res = engine.execute_sql(
            sid, "UPDATE t_dml_emul SET v = v + 1 WHERE id >= 7"
        )
        assert res.affected_rows == 3
        rows = {
            r["id"]: r["v"]
            for r in engine.collect(
                sid, engine.execute_sql(sid, "SELECT * FROM t_dml_emul")
            )
        }
        assert rows[7] == 71.0 and rows[0] == 0.0
        res = engine.execute_sql(sid, "DELETE FROM t_dml_emul WHERE id < 5")
        assert res.affected_rows == 5
        res = engine.execute_sql(
            sid, "SELECT count(*) AS n FROM t_dml_emul"
        )
        assert engine.collect(sid, res)[0]["n"] == 5
        # multi-assignment update, no WHERE (all rows)
        res = engine.execute_sql(
            sid, "UPDATE t_dml_emul SET v = 0, id = id + 100"
        )
        assert res.affected_rows == 5
        res = engine.execute_sql(
            sid, "SELECT min(id) AS mn, sum(v) AS sv FROM t_dml_emul"
        )
        row = engine.collect(sid, res)[0]
        assert row["mn"] == 105 and row["sv"] == 0.0
        engine.execute_sql(sid, "DROP TABLE t_dml_emul")
    finally:
        engine.close_session(sid)


def test_update_rolls_back_in_transaction(engine):
    sid = engine.create_session(role="admin")
    try:
        engine.execute_sql(sid, "DROP TABLE IF EXISTS t_dml_txn")
        engine.execute_sql(
            sid, "CREATE TABLE t_dml_txn AS SELECT id FROM range(4)"
        )
        engine.execute_sql(sid, "BEGIN")
        engine.execute_sql(sid, "DELETE FROM t_dml_txn WHERE id > 0")
        engine.execute_sql(sid, "ROLLBACK")
        res = engine.execute_sql(sid, "SELECT count(*) AS n FROM t_dml_txn")
        assert engine.collect(sid, res)[0]["n"] == 4
        engine.execute_sql(sid, "DROP TABLE t_dml_txn")
    finally:
        engine.close_session(sid)


def test_merge_into_upsert(engine):
    """MERGE INTO emulation: matched rows update, unmatched insert."""
    sid = engine.create_session(role="admin")
    try:
        engine.execute_sql(sid, "DROP TABLE IF EXISTS t_merge_tgt")
        engine.execute_sql(
            sid,
            "CREATE TABLE t_merge_tgt AS "
            "SELECT id, CAST(id AS DOUBLE) AS v FROM range(5)",
        )
        res = engine.execute_sql(
            sid,
            "MERGE INTO t_merge_tgt t USING "
            "(SELECT id * 2 AS id, 99.0 AS v FROM range(4)) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
        )
        # matches: s.id in {0,2,4,6} ∩ t.id {0..4} = {0,2,4} → 3 updates
        # unmatched source: {6} → 1 insert
        assert res.affected_rows == 4
        rows = {
            r["id"]: r["v"]
            for r in engine.collect(
                sid, engine.execute_sql(sid, "SELECT * FROM t_merge_tgt")
            )
        }
        assert rows[0] == 99.0 and rows[2] == 99.0 and rows[6] == 99.0
        assert rows[1] == 1.0 and len(rows) == 6
        engine.execute_sql(sid, "DROP TABLE t_merge_tgt")
    finally:
        engine.close_session(sid)


def test_qualify_rewrite(engine, session, sf_smoke):
    """DuckDB QUALIFY dialect-ism runs through the engine (rewritten
    to a windowed subquery + filter)."""
    res = engine.execute_sql(
        session,
        f"""
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM read_parquet('{sf_smoke}/orders.parquet')
        QUALIFY row_number() OVER (
            PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) <= 2
        ORDER BY o_orderpriority, o_totalprice DESC
        """,
    )
    rows = engine.collect(session, res)
    assert len(rows) == 10  # 5 priorities x top-2
    prios = [r["o_orderpriority"] for r in rows]
    assert prios == sorted(prios)
    assert set(res.df.columns) == {"o_orderpriority", "o_orderkey", "o_totalprice"}


def test_exclude_rewrite(engine, session, sf_smoke):
    res = engine.execute_sql(
        session,
        f"SELECT * EXCLUDE (r_name) FROM read_parquet('{sf_smoke}/region.parquet')",
    )
    rows = engine.collect(session, res)
    assert len(rows) == 5
    assert set(res.df.columns) == {"r_regionkey"}
    res = engine.execute_sql(
        session,
        f"SELECT * EXCLUDE r_name FROM read_parquet('{sf_smoke}/region.parquet')",
    )
    assert set(res.df.columns) == {"r_regionkey"}


def test_distinct_on_rewrite(engine, session, sf_smoke):
    """DuckDB/Postgres DISTINCT ON dialect-ism: one row per key,
    picked by the ORDER BY."""
    res = engine.execute_sql(
        session,
        f"""
        SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey, o_totalprice
        FROM read_parquet('{sf_smoke}/orders.parquet')
        ORDER BY o_orderpriority, o_totalprice DESC
        """,
    )
    rows = engine.collect(session, res)
    assert len(rows) == 5  # one per priority
    assert set(res.df.columns) == {"o_orderpriority", "o_orderkey", "o_totalprice"}
    # each row carries its priority's max total price
    import duckdb

    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT o_orderpriority, max(o_totalprice) FROM "
            f"read_parquet('{sf_smoke}/orders.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        assert abs(r["o_totalprice"] - want[r["o_orderpriority"]]) < 1e-9


def test_instrumentation_pseudo_functions(engine, session):
    res = engine.execute_sql(
        session,
        "SELECT ENGINE_INSTRUMENTATION_ENABLED() AS en,"
        " GIZMOSQL_INSTRUMENTATION_CATALOG() AS cat",
    )
    row = engine.collect(session, res)[0]
    assert row["en"] in ("true", "false")
    assert row["cat"] == "spark_catalog"


class TestSummarizePragma:
    """SUMMARIZE + client-compat PRAGMAs (DuckDB statement classes the
    reference serves by pass-through; admin_command_guard.cpp:372)."""

    def test_summarize_table(self, engine, session):
        eng, sid = engine, session
        eng.execute_sql(sid, "DROP TABLE IF EXISTS t_summ")
        eng.execute_sql(
            sid, "CREATE TABLE t_summ AS"
                 " SELECT id, CAST(id * 2.5 AS DOUBLE) AS v FROM range(40)")
        rows = {r["column_name"]: r for r in eng.collect(
            sid, eng.execute_sql(sid, "SUMMARIZE t_summ"))}
        assert rows["id"]["count"] == 40
        assert rows["id"]["min"] == "0" and rows["id"]["max"] == "39"
        assert rows["v"]["null_percentage"] == 0.0
        assert float(rows["v"]["avg"]) == 48.75
        eng.execute_sql(sid, "DROP TABLE t_summ")

    def test_summarize_query(self, engine, session):
        rows = engine.collect(session, engine.execute_sql(
            session, "SUMMARIZE SELECT id FROM range(7)"))
        assert rows[0]["count"] == 7

    def test_summarize_runs_only_a_query(self, engine, session):
        """SUMMARIZE runs its statement eagerly, so a write there would
        run, a readonly session's included: any role is refused one."""
        eng = engine
        eng.execute_sql(session, "DROP TABLE IF EXISTS t_summ_w")
        eng.execute_sql(session, "CREATE TABLE t_summ_w AS SELECT 1 AS a")
        ro = eng.create_session(role="readonly")
        try:
            for sid in (ro, session):
                for sql in ("SUMMARIZE INSERT INTO t_summ_w VALUES (2)",
                            "SUMMARIZE DROP TABLE t_summ_w"):
                    with pytest.raises(ValueError, match="SUMMARIZE"):
                        eng.execute_sql(sid, sql)
            assert eng.collect(session, eng.execute_sql(
                session, "SELECT count(*) AS n FROM t_summ_w"))[0]["n"] == 1
        finally:
            eng.close_session(ro)
            eng.execute_sql(session, "DROP TABLE t_summ_w")

    def test_explain_analyze_runs_and_reports(self, engine, session):
        rows = engine.collect(session, engine.execute_sql(
            session,
            "EXPLAIN ANALYZE SELECT id % 3 AS k, count(*) AS n"
            " FROM range(100) GROUP BY k"))
        text = rows[0]["explain_analyze"]
        assert "rows: 3" in text
        assert "elapsed_sec:" in text
        # the AQE-finalized physical plan is included
        assert "HashAggregate" in text or "Physical Plan" in text

    def test_explain_analyze_obeys_query_timeout(self, engine, session):
        """The analyzed run is a statement execution: the session's
        engine.query_timeout interrupts it."""
        engine.execute_sql(session, "SET engine.query_timeout = 1")
        t0 = time.monotonic()
        with pytest.raises(StatementTimeout):
            engine.execute_sql(session, f"EXPLAIN ANALYZE {_SLEEP_SQL}")
        assert time.monotonic() - t0 < 10

    def test_explain_analyze_rejects_dml(self, engine, session):
        engine.execute_sql(session, "DROP TABLE IF EXISTS t_ea")
        engine.execute_sql(
            session, "CREATE TABLE t_ea AS SELECT id FROM range(3)")
        with pytest.raises(Exception, match="query statements only"):
            engine.execute_sql(
                session, "EXPLAIN ANALYZE UPDATE t_ea SET id = 0")
        engine.execute_sql(session, "DROP TABLE t_ea")

    def test_pragma_version_and_tables(self, engine, session):
        eng, sid = engine, session
        v = eng.collect(sid, eng.execute_sql(sid, "PRAGMA version"))[0]
        assert v["library_version"].startswith("spark-")
        eng.execute_sql(sid, "DROP TABLE IF EXISTS t_pragma")
        eng.execute_sql(
            sid, "CREATE TABLE t_pragma AS SELECT id FROM range(3)")
        names = [r["name"] for r in eng.collect(
            sid, eng.execute_sql(sid, "PRAGMA show_tables"))]
        assert "t_pragma" in names
        info = eng.collect(sid, eng.execute_sql(
            sid, "PRAGMA table_info('t_pragma')"))
        assert [(r["cid"], r["name"], r["type"]) for r in info] == [
            (0, "id", "bigint")]
        eng.execute_sql(sid, "DROP TABLE t_pragma")

    def test_pragma_unknown_fails_closed(self, engine, session):
        import pytest as _pytest

        with _pytest.raises(Exception):
            engine.execute_sql(session, "PRAGMA wal_autocheckpoint")


class TestPipelineOpTableFunction:
    """pipeline_op('<name>', '<dir>'): every registered operator
    callable from SQL over the engine (and hence the Flight wire) —
    the SQL surface for the extension tier."""

    def test_select_from_pipeline_op(self, engine, session):
        res = engine.execute_sql(
            session,
            "SELECT * FROM pipeline_op('token_count',"
            " '/root/testdata/sf0.001') LIMIT 5",
        )
        rows = engine.collect(session, res)
        assert 0 < len(rows) <= 5

    def test_pipeline_op_composes_with_sql(self, engine, session):
        res = engine.execute_sql(
            session,
            "SELECT count(*) AS n FROM pipeline_op('dataset_split',"
            " '/root/testdata/sf0.001') WHERE n_docs > 0",
        )
        rows = engine.collect(session, res)
        assert rows[0]["n"] >= 1

    def test_unknown_operator_rejected(self, engine, session):
        with pytest.raises(Exception, match="unknown pipeline operator"):
            engine.execute_sql(
                session,
                "SELECT * FROM pipeline_op('no_such_op',"
                " '/root/testdata/sf0.001')",
            )

    def test_non_admin_local_dir_denied(self, engine):
        sid = engine.create_session(role="user")
        try:
            with pytest.raises(security.CommandDenied):
                engine.execute_sql(
                    sid,
                    "SELECT * FROM pipeline_op('token_count',"
                    " '/root/testdata/sf0.001')",
                )
        finally:
            engine.close_session(sid)

    def test_default_data_dir_setting(self, engine, session):
        engine.execute_sql(
            session,
            "SET engine.pipeline_data_dir = '/root/testdata/sf0.001'",
        )
        res = engine.execute_sql(
            session, "SELECT * FROM pipeline_op('dataset_split')")
        rows = engine.collect(session, res)
        assert len(rows) >= 1
        engine.execute_sql(session, "SET engine.pipeline_data_dir = ''")
        with pytest.raises(Exception, match="pipeline_data_dir"):
            engine.execute_sql(
                session, "SELECT * FROM pipeline_op('dataset_split')")


# --- the engine's own commands on the statement path ------------------


def test_engine_commands_take_the_statement_path(spark):
    """SET engine.*, KILL SESSION, transactions and indexes are gated
    and recorded like every statement: one query-log row, one
    access-log row, one statement row and one statement.execute span
    each; a readonly CREATE INDEX is recorded denied."""
    eng = Engine(spark)
    sid = eng.create_session(role="admin")
    stmts = ["SET engine.query_timeout = 30", "KILL SESSION 'abc-123'",
             "BEGIN", "COMMIT", "BEGIN TRANSACTION", "ROLLBACK",
             "CREATE INDEX i_path ON t_path (a)", "DROP INDEX i_path"]
    for sql in stmts:
        eng.execute_sql(sid, sql)
    assert [(e.sql, e.status) for e in eng.query_log.entries()] == [
        (sql, "ok") for sql in stmts]
    assert [(e[6], e[4]) for e in eng.access_log.entries()] == [
        (sql, "OK") for sql in stmts]
    assert [(r[2], r[3]) for r in eng.instr.statements] == [
        (sql, "execute_sql") for sql in stmts]
    assert len([s for s in eng.telemetry.spans()
                if s.name == "statement.execute"]) == len(stmts)
    ro = eng.create_session(role="readonly")
    try:
        with pytest.raises(security.CommandDenied):
            eng.execute_sql(ro, "CREATE INDEX i_ro ON t_path (a)")
        assert eng.query_log.entries()[-1].status == "denied"
        assert "t_path" not in eng.system_catalog.registry.indexes or (
            "i_ro" not in eng.system_catalog.registry.indexes["t_path"])
    finally:
        eng.close_session(ro)
        eng.close_session(sid)


def test_engine_commands_keep_other_sessions_plans(spark):
    """SET engine.* and CREATE INDEX change no relation a query
    resolves, so another session's repeated query stays a plan-cache
    hit."""
    eng = Engine(spark)
    a, b = eng.create_session(role="admin"), eng.create_session(role="admin")
    q = "SELECT id FROM range(5)"
    outcomes = []
    for sql in (None, None, "SET engine.query_timeout = 30",
                "CREATE INDEX i_keep ON t_keep (a)"):
        if sql is not None:
            eng.execute_sql(a, sql)
        res = eng.execute_sql(b, q)
        eng.collect(b, res)
        outcomes.append(res.plan_cache)
    assert outcomes == ["miss", "hit", "hit", "hit"]
    eng.close_session(a)
    eng.close_session(b)


def test_view_definition_behind_a_comment(engine, session):
    """A view is recorded from what the statement creates, whatever
    comment comes before it."""
    sql = "/* c */ CREATE OR REPLACE TEMP VIEW v_obs AS SELECT 1 AS x"
    engine.execute_sql(session, sql)
    assert engine.system_catalog.view_definitions["v_obs"] == sql
