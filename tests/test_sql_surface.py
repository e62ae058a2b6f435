"""SQL-surface parity: the TPC-H oracle SQL strings — written for
DuckDB — must run UNCHANGED through the engine's SQL entry and produce
the same results as the DataFrame implementations.

This is the 'a user of the reference could switch engines and run every
query they run today' check: the corpus uses ANSI joins, correlated
subqueries, EXISTS/NOT EXISTS, IN, HAVING, intervals, year(), LIMIT —
all must parse and agree on Spark.
"""

from __future__ import annotations

import pytest

from gizmosql_spark.catalog import register_tables
from gizmosql_spark.operators import tpch

# q02's oracle correlates via the bare table name (region.r_regionkey
# outer reference) which Spark resolves differently; every other oracle
# is engine-neutral SQL.
SQL_PORTABLE = sorted(set(tpch.ORACLE) - {"q02"})


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    register_tables(spark, sf_dir)


@pytest.mark.parametrize("name", SQL_PORTABLE)
def test_oracle_sql_runs_on_spark(spark, sf_dir, name):
    via_sql = spark.sql(tpch.ORACLE[name])
    via_df = tpch.QUERIES[name](spark, sf_dir)
    sql_rows = sorted(map(str, via_sql.collect()))
    df_rows = sorted(map(str, via_df.collect()))
    assert len(sql_rows) == len(df_rows), name
    # allow float formatting wobble by comparing canonicalized tuples
    if sql_rows != df_rows:
        from gizmosql_spark.testing import _canon_cell, _rows_equal

        s = sorted(tuple(_canon_cell(v) for v in r) for r in via_sql.collect())
        d = sorted(tuple(_canon_cell(v) for v in r) for r in via_df.collect())
        for a, b in zip(s, d):
            assert _rows_equal(a, b), f"{name}: {a} != {b}"


def test_columns_star_expression(spark):
    """DuckDB COLUMNS('regex') dialect-ism through the engine."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW t_colregex AS"
             " SELECT id AS k_id, id * 2 AS k_two, id * 3 AS other"
             " FROM range(5)")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT COLUMNS('^k_') FROM t_colregex ORDER BY k_id"))
    assert rows[0].asDict() == {"k_id": 0, "k_two": 0}
    import pytest as _pytest

    with _pytest.raises(Exception, match="matched no columns"):
        eng.execute_sql(sid, "SELECT COLUMNS('^zzz') FROM t_colregex")
    # ALTER ... ADD COLUMNS must NOT trip the rewrite
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_colregex_tbl")
    eng.execute_sql(
        sid, "CREATE TABLE t_colregex_tbl AS SELECT 1 AS a")
    eng.execute_sql(
        sid, "ALTER TABLE t_colregex_tbl ADD COLUMNS (b STRING)")
    assert eng.spark.table("t_colregex_tbl").columns == ["a", "b"]
    eng.execute_sql(sid, "DROP TABLE t_colregex_tbl")
    eng.close_session(sid)


def test_star_replace_expression(spark):
    """DuckDB * REPLACE (expr AS col) dialect-ism."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW t_repl AS"
             " SELECT id AS a, id * 2 AS b FROM range(3)")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT * REPLACE (b + 100 AS b) FROM t_repl ORDER BY a"))
    assert [r.asDict() for r in rows] == [
        {"a": 0, "b": 100}, {"a": 1, "b": 102}, {"a": 2, "b": 104}]
    import pytest as _pytest

    with _pytest.raises(Exception, match="unknown column"):
        eng.execute_sql(
            sid, "SELECT * REPLACE (1 AS nope) FROM t_repl")
    eng.close_session(sid)


def test_order_by_all(spark):
    """DuckDB ORDER BY ALL [DESC] dialect-ism."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW t_oba AS"
             " SELECT id % 2 AS g, id AS v FROM range(4)")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT g, v FROM t_oba ORDER BY ALL"))
    assert [(r["g"], r["v"]) for r in rows] == [
        (0, 0), (0, 2), (1, 1), (1, 3)]
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT g, v FROM t_oba ORDER BY ALL DESC"))
    assert [(r["g"], r["v"]) for r in rows] == [
        (1, 3), (1, 1), (0, 2), (0, 0)]
    # star form resolves width from the table schema
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT * FROM t_oba ORDER BY ALL"))
    assert [(r["g"], r["v"]) for r in rows] == [
        (0, 0), (0, 2), (1, 1), (1, 3)]
    eng.close_session(sid)


def test_copy_statement_round_trip(spark, tmp_path):
    """COPY … TO 'path' (FORMAT csv, HEADER) and COPY t FROM 'path':
    the reference's two gated COPY directions as executable SQL."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_copy")
    eng.execute_sql(
        sid, "CREATE TABLE t_copy AS"
             " SELECT id, id * 3 AS v FROM range(10)")
    out = str(tmp_path / "csv_out")
    res = eng.execute_sql(
        sid, f"COPY (SELECT * FROM t_copy WHERE id < 6)"
             f" TO '{out}' (FORMAT csv, HEADER)")
    assert res.affected_rows == 6
    # re-import into a fresh table
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_copy2")
    eng.execute_sql(
        sid, "CREATE TABLE t_copy2 (id BIGINT, v BIGINT) USING parquet")
    res2 = eng.execute_sql(
        sid, f"COPY t_copy2 FROM '{out}' (FORMAT csv, HEADER)")
    assert res2.affected_rows == 6
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT sum(v) AS s, count(*) AS n FROM t_copy2"))[0]
    assert (rows["n"], rows["s"]) == (6, 3 * sum(range(6)))
    # parquet default format export of a bare table name
    out2 = str(tmp_path / "pq_out")
    res3 = eng.execute_sql(sid, f"COPY t_copy TO '{out2}'")
    assert res3.affected_rows == 10
    assert spark.read.parquet(out2).count() == 10
    eng.execute_sql(sid, "DROP TABLE t_copy")
    eng.execute_sql(sid, "DROP TABLE t_copy2")
    eng.close_session(sid)


@pytest.mark.parametrize("source,options", [
    ("x.parquet", ""),
    ("x.parquet", " (FORMAT parquet)"),
    ("parts", ""),
    ("parts.parquet", " (FORMAT parquet)"),
])
def test_copy_from_parquet_file_and_directory(spark, tmp_path, source,
                                              options):
    """COPY t FROM 'x.parquet' reads the file itself: the replacement
    scan rewrite leaves a COPY's source path alone. A directory source
    reads every file in it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gizmosql_spark.engine import Engine

    path = tmp_path / source
    rows = pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    if source.startswith("parts"):
        path.mkdir()
        pq.write_table(rows.slice(0, 2), str(path / "part-0.parquet"))
        pq.write_table(rows.slice(2), str(path / "part-1.parquet"))
    else:
        pq.write_table(rows, str(path))
    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_copy_pq")
    eng.execute_sql(
        sid, "CREATE TABLE t_copy_pq (id BIGINT, v STRING) USING parquet")
    try:
        res = eng.execute_sql(sid, f"COPY t_copy_pq FROM '{path}'{options}")
        assert res.affected_rows == 3
        got = eng.collect(sid, eng.execute_sql(
            sid, "SELECT id, v FROM t_copy_pq ORDER BY id"))
        assert [tuple(r) for r in got] == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        eng.execute_sql(sid, "DROP TABLE IF EXISTS t_copy_pq")
        eng.close_session(sid)


def test_copy_denied_for_non_admin(spark, tmp_path):
    from gizmosql_spark.security import CommandDenied

    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="user")
    with pytest.raises(CommandDenied):
        eng.execute_sql(sid, f"COPY x TO '{tmp_path}/nope'")
    eng.close_session(sid)


def test_export_import_database_statements(spark, tmp_path):
    """EXPORT DATABASE / IMPORT DATABASE as executable SQL (the
    reference's admin-gated backup pair)."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    for t in ("t_exp_a", "t_exp_b"):
        eng.execute_sql(sid, f"DROP TABLE IF EXISTS {t}")
    eng.execute_sql(
        sid, "CREATE TABLE t_exp_a AS SELECT id FROM range(7)")
    eng.execute_sql(
        sid, "CREATE TABLE t_exp_b AS SELECT id * 2 AS d FROM range(3)")
    out = str(tmp_path / "backup")
    res = eng.execute_sql(sid, f"EXPORT DATABASE '{out}'")
    assert res.affected_rows >= 2
    # wipe, then IMPORT restores both tables
    eng.execute_sql(sid, "DROP TABLE t_exp_a")
    eng.execute_sql(sid, "DROP TABLE t_exp_b")
    res2 = eng.execute_sql(sid, f"IMPORT DATABASE '{out}'")
    assert res2.affected_rows >= 2
    assert eng.collect(sid, eng.execute_sql(
        sid, "SELECT count(*) AS n FROM t_exp_a"))[0]["n"] == 7
    assert eng.collect(sid, eng.execute_sql(
        sid, "SELECT sum(d) AS s FROM t_exp_b"))[0]["s"] == 6
    # the import re-recorded the manifest
    assert "t_exp_a" in eng.warehouse.tables()
    for t in ("t_exp_a", "t_exp_b"):
        eng.execute_sql(sid, f"DROP TABLE {t}")
    eng.close_session(sid)


def test_checkpoint_statement(spark):
    """CHECKPOINT flushes the catalog commit log into the snapshot
    (DuckDB's WAL-flush analog); admin-gated."""
    import os

    from gizmosql_spark.engine import Engine
    from gizmosql_spark.security import CommandDenied

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_ckpt")
    eng.execute_sql(sid, "CREATE TABLE t_ckpt AS SELECT 1 AS a")
    res = eng.execute_sql(sid, "CHECKPOINT")
    assert res.affected_rows >= 1
    assert os.path.exists(eng.warehouse.manifest_path)
    import json

    snap = json.load(open(eng.warehouse.manifest_path))
    assert "t_ckpt" in snap["tables"]
    eng.execute_sql(sid, "DROP TABLE t_ckpt")
    eng.close_session(sid)

    sid2 = eng.create_session(role="user")
    with pytest.raises(CommandDenied):
        eng.execute_sql(sid2, "CHECKPOINT")
    eng.close_session(sid2)


def test_export_import_preserves_bucket_layout(spark, tmp_path):
    """EXPORT → IMPORT round-trips the bucket spec (the layout the
    shuffle-free join depends on), not just the rows."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    spark.sql("DROP TABLE IF EXISTS t_exp_bkt")
    spark.range(1000).selectExpr("id", "id % 10 AS k") \
        .write.bucketBy(4, "k").sortBy("k").saveAsTable("t_exp_bkt")
    out = str(tmp_path / "bkt_backup")
    eng.execute_sql(sid, f"EXPORT DATABASE '{out}'")
    spark.sql("DROP TABLE t_exp_bkt")
    eng.execute_sql(sid, f"IMPORT DATABASE '{out}'")
    d = {r["col_name"].strip(): (r["data_type"] or "").strip()
         for r in spark.sql("DESCRIBE FORMATTED t_exp_bkt").collect()
         if r["col_name"]}
    assert d.get("Num Buckets") == "4", d.get("Num Buckets")
    assert spark.table("t_exp_bkt").count() == 1000
    eng.execute_sql(sid, "DROP TABLE t_exp_bkt")
    eng.close_session(sid)


def test_asof_join_matches_duckdb(spark):
    """DuckDB ASOF [LEFT] JOIN dialect-ism: the IDENTICAL SQL runs
    through the engine (LATERAL LIMIT-1 rewrite) and natively in
    DuckDB, and the results agree — including the no-match NULL rows
    of the LEFT form and the flipped-comparator direction."""
    import duckdb

    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW asof_trades AS SELECT * FROM"
             " VALUES (1, 12, 100.0), (1, 25, 101.0), (2, 14, 102.0),"
             " (3, 9, 103.0) AS t(k, tts, amount)")
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW asof_quotes AS SELECT * FROM"
             " VALUES (1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0),"
             " (2, 15, 5.0) AS t(k, qts, px)")
    con = duckdb.connect()
    con.execute("CREATE TABLE asof_trades AS SELECT * FROM (VALUES"
                " (1, 12, 100.0), (1, 25, 101.0), (2, 14, 102.0),"
                " (3, 9, 103.0)) t(k, tts, amount)")
    con.execute("CREATE TABLE asof_quotes AS SELECT * FROM (VALUES"
                " (1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0),"
                " (2, 15, 5.0)) t(k, qts, px)")

    cases = [
        # inner, right-ts <= left-ts (most recent quote at trade time)
        "SELECT t.k, t.tts, q.qts, q.px FROM asof_trades t"
        " ASOF JOIN asof_quotes q ON t.k = q.k AND q.qts <= t.tts"
        " ORDER BY t.k, t.tts",
        # left outer form keeps unmatched trades with NULLs
        "SELECT t.k, t.tts, q.qts, q.px FROM asof_trades t"
        " ASOF LEFT JOIN asof_quotes q ON t.k = q.k AND q.qts <= t.tts"
        " ORDER BY t.k, t.tts",
        # flipped comparator: next quote AT or AFTER the trade
        "SELECT t.k, t.tts, q.qts FROM asof_trades t"
        " ASOF LEFT JOIN asof_quotes q ON t.k = q.k AND q.qts >= t.tts"
        " ORDER BY t.k, t.tts",
    ]
    for sql in cases:
        got = [
            tuple(None if v is None else float(v) if isinstance(v, float)
                  else v for v in r)
            for r in eng.collect(sid, eng.execute_sql(sid, sql))
        ]
        want = [
            tuple(None if v is None else float(v) if isinstance(v, float)
                  else v for v in r)
            for r in con.execute(sql).fetchall()
        ]
        assert got == want, sql
    con.close()
    eng.close_session(sid)


def test_create_macro_matches_duckdb(spark):
    """DuckDB CREATE MACRO dialect-ism: the IDENTICAL statements run
    through the engine (bind-time textual expansion) and natively in
    DuckDB — scalar macros, defaults (:=), named arguments, nesting,
    and table macros."""
    import duckdb

    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    con = duckdb.connect()
    eng.execute_sql(
        sid, "CREATE OR REPLACE TEMP VIEW m_nums AS"
             " SELECT * FROM VALUES (1, 10.0), (2, 20.0), (3, 35.0)"
             " AS t(k, amt)")
    con.execute("CREATE TABLE m_nums AS SELECT * FROM (VALUES"
                " (1, 10.0), (2, 20.0), (3, 35.0)) t(k, amt)")
    stmts = [
        "CREATE MACRO with_tax(x, rate := 0.2) AS x * (1 + rate)",
        "CREATE MACRO clamp2(v, lo, hi) AS least(greatest(v, lo), hi)",
        # macro calling macro
        "CREATE MACRO taxed_clamp(v) AS clamp2(with_tax(v), 12.0, 30.0)",
        "CREATE MACRO big_nums() AS TABLE"
        " SELECT k, amt FROM m_nums WHERE amt > 15",
    ]
    for s in stmts:
        eng.execute_sql(sid, s)
        con.execute(s)
    cases = [
        "SELECT k, with_tax(amt) AS t1,"
        " with_tax(amt, rate := 0.5) AS t2,"
        " taxed_clamp(amt) AS t3 FROM m_nums ORDER BY k",
        "SELECT * FROM big_nums() ORDER BY k",
    ]
    for sql in cases:
        got = [tuple(float(v) if isinstance(v, float) else v for v in r)
               for r in eng.collect(sid, eng.execute_sql(sid, sql))]
        want = [tuple(float(v) for v in r) for r in con.execute(sql).fetchall()]
        assert got == want, sql
    # DROP MACRO removes the template
    eng.execute_sql(sid, "DROP MACRO taxed_clamp")
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.collect(sid, eng.execute_sql(
            sid, "SELECT taxed_clamp(amt) FROM m_nums"))
    con.close()
    eng.close_session(sid)


def test_from_first_syntax(spark):
    """DuckDB's FROM-first forms (`FROM t SELECT …`, bare `FROM t`)
    run natively on Spark 4 — pinned so the parity surface stays."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "FROM range(3) SELECT id * 2 AS v ORDER BY v"))
    assert [r["v"] for r in rows] == [0, 2, 4]
    rows = eng.collect(sid, eng.execute_sql(sid, "FROM range(2)"))
    assert [r["id"] for r in rows] == [0, 1]
    eng.close_session(sid)


def test_upsert_matches_duckdb(spark):
    """DuckDB upsert dialect-isms (INSERT OR REPLACE / ON CONFLICT DO
    UPDATE / DO NOTHING) rewritten to MERGE: final table state equals
    DuckDB running the IDENTICAL statements on a PK'd table."""
    import duckdb

    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "DROP TABLE IF EXISTS ups_t")
    eng.execute_sql(
        sid, "CREATE TABLE ups_t AS SELECT * FROM VALUES"
             " (1, 'a', 10.0), (2, 'b', 20.0) AS t(k, tag, amt)")
    eng.system_catalog.registry.declare_primary_key("ups_t", "k")
    con = duckdb.connect()
    con.execute("CREATE TABLE ups_t (k INT PRIMARY KEY, tag VARCHAR,"
                " amt DECIMAL(5, 1))")
    con.execute("INSERT INTO ups_t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")

    stmts = [
        "INSERT OR REPLACE INTO ups_t VALUES (2, 'B', 21.0), (3, 'c', 30.0)",
        "INSERT INTO ups_t VALUES (1, 'x', 99.0), (4, 'd', 40.0)"
        " ON CONFLICT DO NOTHING",
        "INSERT INTO ups_t VALUES (3, 'C', 31.0), (5, 'e', 50.0)"
        " ON CONFLICT (k) DO UPDATE SET tag = excluded.tag,"
        " amt = excluded.amt + 0.5",
    ]
    for s in stmts:
        eng.execute_sql(sid, s)
        con.execute(s)
    got = sorted(
        (r["k"], r["tag"], float(r["amt"]))
        for r in eng.collect(sid, eng.execute_sql(
            sid, "SELECT k, tag, amt FROM ups_t")))
    want = sorted(
        (k, tag, float(amt))
        for k, tag, amt in con.execute(
            "SELECT k, tag, amt FROM ups_t").fetchall())
    assert got == want
    eng.execute_sql(sid, "DROP TABLE ups_t")
    con.close()
    eng.close_session(sid)


def test_pivot_statement_matches_duckdb(spark):
    """DuckDB's simplified PIVOT/UNPIVOT statements: identical SQL
    through the engine (bind-time DISTINCT probe → Spark PIVOT) and
    natively in DuckDB."""
    import duckdb

    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    seed = ("SELECT * FROM VALUES"
            " ('us', 'a', 2024, 10.0), ('us', 'b', 2024, 12.0),"
            " ('eu', 'a', 2024, 7.0), ('eu', 'a', 2025, 8.0),"
            " ('us', 'b', 2025, 15.0) AS t(region, sku, yr, amt)")
    eng.execute_sql(
        sid, f"CREATE OR REPLACE TEMP VIEW pv_sales AS {seed}")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE pv_sales AS {seed.replace(' AS t(', ' t(')}")

    sql = ("PIVOT pv_sales ON yr USING sum(amt) GROUP BY region"
           )
    got = sorted(
        tuple(None if v is None else float(v) if isinstance(v, float)
              else v for v in r)
        for r in eng.collect(sid, eng.execute_sql(sid, sql)))
    want = sorted(
        tuple(None if v is None else float(v) if v is not None and
              not isinstance(v, str) else v for v in r)
        for r in con.execute(sql).fetchall())
    assert got == want, (got, want)

    sql = "UNPIVOT pv_sales ON region, sku INTO NAME attr VALUE val"
    got = sorted(map(tuple, (
        r for r in eng.collect(sid, eng.execute_sql(sid, sql)))))
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert [g[-2:] for g in got] == [w[-2:] for w in want]
    con.close()
    eng.close_session(sid)


def test_engine_macros_listing(spark):
    """engine_macros() lists registered templates (duckdb_functions()
    analog for macros)."""
    from gizmosql_spark.engine import Engine

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    eng.execute_sql(sid, "CREATE MACRO m_list_probe(x) AS x * 2")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT macro_name, parameters, macro_type FROM"
             " engine_macros() WHERE macro_name = 'm_list_probe'"))
    assert [(r["macro_name"], list(r["parameters"]), r["macro_type"])
            for r in rows] == [("m_list_probe", ["x"], "scalar")]
    eng.execute_sql(sid, "DROP MACRO m_list_probe")
    rows = eng.collect(sid, eng.execute_sql(
        sid, "SELECT count(*) AS n FROM engine_macros()"
             " WHERE macro_name = 'm_list_probe'"))
    assert rows[0]["n"] == 0
    eng.close_session(sid)
