"""Constraint metadata, Arrow result streaming, and new function
gap-fillers."""

from __future__ import annotations

import duckdb
import pytest

from gizmosql_spark.constraints import tpch_constraints
from gizmosql_spark.engine import Engine
from gizmosql_spark.functions import register_all


@pytest.fixture(scope="module")
def registry():
    return tpch_constraints()


def test_primary_keys(spark, registry):
    pk = registry.get_primary_keys(spark, "lineitem").collect()
    assert [(r["column_name"], r["key_sequence"]) for r in pk] == [
        ("l_orderkey", 1),
        ("l_linenumber", 2),
    ]
    assert registry.get_primary_keys(spark, "nosuch").count() == 0


def test_imported_exported_keys(spark, registry):
    imported = registry.get_imported_keys(spark, "lineitem").collect()
    assert {r["pk_table_name"] for r in imported} == {"orders", "part", "supplier"}
    exported = registry.get_exported_keys(spark, "nation").collect()
    assert {r["fk_table_name"] for r in exported} == {"customer", "supplier"}
    xref = registry.get_cross_reference(spark, "orders", "lineitem").collect()
    assert len(xref) == 1
    assert xref[0]["fk_column_name"] == "l_orderkey"


def test_index_info(spark, registry):
    registry.declare_index("lineitem", "idx_shipdate", "l_shipdate")
    rows = registry.index_info(spark).collect()
    pk_rows = [r for r in rows if r["is_primary"]]
    idx_rows = [r for r in rows if not r["is_primary"]]
    assert any(r["index_name"] == "idx_shipdate" for r in idx_rows)
    assert any(r["table_name"] == "region" for r in pk_rows)


def test_collect_arrow(spark, sf_smoke):
    eng = Engine(spark)
    # a local path in Spark's parquet.`path` form is admin-only
    sid = eng.create_session(role="admin")
    res = eng.execute_sql(
        sid, f"SELECT n_nationkey, n_name FROM parquet.`{sf_smoke}/nation.parquet` ORDER BY n_nationkey"
    )
    tbl = eng.collect_arrow(sid, res)
    assert tbl.num_rows == 25
    assert tbl.column_names == ["n_nationkey", "n_name"]
    assert tbl.column("n_name")[0].as_py() == "NATION_0"
    eng.close_session(sid)


def test_strip_accents_nfc(spark):
    register_all(spark)
    row = spark.sql(
        "SELECT strip_accents('âbcdé') AS sa, nfc_normalize('café') AS n"
    ).collect()[0]
    want = duckdb.sql("SELECT strip_accents('âbcdé') AS sa").fetchall()[0][0]
    assert row["sa"] == want == "abcde"
    assert row["n"] == "café"


def test_ingest_record_batch_reader(spark):
    """Arrow stream ingest: a RecordBatchReader (the ADBC adbc_ingest
    wire shape) lands as a managed table with verified counts."""
    import pyarrow as pa

    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    tbl = pa.table({"k": list(range(50)), "v": [float(i) * 0.5 for i in range(50)]})
    reader = pa.RecordBatchReader.from_batches(tbl.schema, tbl.to_batches(max_chunksize=16))
    eng.execute_sql(sid, "DROP TABLE IF EXISTS t_ing_reader")
    n = eng.ingest(sid, "t_ing_reader", reader, mode="create")
    assert n == 50
    res = eng.execute_sql(sid, "SELECT count(*) AS c, sum(v) AS s FROM t_ing_reader")
    row = eng.collect(sid, res)[0]
    assert row["c"] == 50 and abs(row["s"] - sum(i * 0.5 for i in range(50))) < 1e-9
    # batch-iterable form
    n = eng.ingest(sid, "t_ing_reader", iter(tbl.to_batches(max_chunksize=8)), mode="append")
    assert n == 50
    res = eng.execute_sql(sid, "SELECT count(*) AS c FROM t_ing_reader")
    assert eng.collect(sid, res)[0]["c"] == 100
    eng.execute_sql(sid, "DROP TABLE t_ing_reader")
