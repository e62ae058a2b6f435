"""Sources/sinks + metadata surface tests (SURVEY §2A/§2D)."""

from __future__ import annotations

import os
import time

import pytest

from gizmosql_spark import catalog, sql_info
from gizmosql_spark.sources import registry as src


def test_read_parquet_glob(spark, sf_smoke):
    df = src.read_parquet(spark, f"{sf_smoke}/nation.parquet")
    assert df.count() == 25


def test_csv_json_text_blob_roundtrip(spark, tmp_path):
    out = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "concat('row', id) AS name")
    src.copy_to(df, out + ".csv", fmt="csv", header=True)
    back = src.read_csv(spark, out + ".csv")
    assert back.count() == 5 and set(back.columns) == {"id", "name"}

    src.copy_to(df, out + ".json", fmt="json")
    assert src.read_json(spark, out + ".json").count() == 5

    src.copy_to(df.selectExpr("name"), out + ".txt", fmt="text")
    assert src.read_text(spark, out + ".txt").count() == 5

    blobs = src.read_blob(spark, out + ".csv")
    assert "content" in blobs.columns and blobs.count() >= 1


def test_parquet_schema_no_scan(spark, sf_smoke):
    df = src.parquet_schema(spark, f"{sf_smoke}/region.parquet")
    rows = {r["column_name"]: r["column_type"] for r in df.collect()}
    assert rows["r_regionkey"] == "int"
    assert rows["r_name"] == "string"


def test_export_import_database(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS exp_t")
    spark.range(10).write.saveAsTable("exp_t")
    counts = src.export_database(spark, str(tmp_path / "exp"), ["exp_t"])
    assert counts == {"exp_t": 10}
    spark.sql("DROP TABLE exp_t")
    src.import_database(spark, str(tmp_path / "exp"), ["exp_t"])
    assert spark.table("exp_t").count() == 10
    spark.sql("DROP TABLE exp_t")


def test_sql_info(spark):
    info = sql_info.get_sql_info(spark)
    assert info["SQL_OUTER_JOINS_SUPPORT_LEVEL"] == "FULL"
    assert info["SQL_CORRELATED_SUBQUERIES_SUPPORTED"] is True
    assert "abs" in info["SQL_SUPPORTED_FUNCTIONS"]
    subset = sql_info.get_sql_info(spark, keys=["SQL_CATALOG_TERM"])
    assert subset == {"SQL_CATALOG_TERM": "catalog"}


def test_xdbc_type_info(spark):
    df = sql_info.get_xdbc_type_info(spark)
    names = [r["type_name"] for r in df.collect()]
    assert "BIGINT" in names and "TIMESTAMP" in names
    only_ts = sql_info.get_xdbc_type_info(spark, data_type=93)
    assert only_ts.count() == 2


def test_catalog_metadata(spark, sf_smoke):
    catalog.register_tables(spark, sf_smoke, ("nation", "region"))
    cats = [r["catalog_name"] for r in catalog.get_catalogs(spark).collect()]
    assert "spark_catalog" in cats
    tables = catalog.get_tables(spark, name_pattern="nati%").collect()
    assert any(t["table_name"] == "nation" for t in tables)
    assert all(t["table_type"] == "LOCAL TEMPORARY" for t in tables)
    with_schema = catalog.get_tables(spark, "nation", include_schema=True).collect()
    assert "n_nationkey" in with_schema[0]["table_schema_json"]
    types = [r["table_type"] for r in catalog.get_table_types(spark).collect()]
    assert types == ["BASE TABLE", "LOCAL TEMPORARY", "VIEW"]


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"catalog-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "catalog job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_frames_rows_and_no_spark_job(spark):
    """A base table, a permanent view and a temp view each get their
    table type, with and without a name pattern, and building plus
    collecting the catalog frames runs no Spark job."""
    s = spark.newSession()
    tag = f"cat{time.monotonic_ns()}"
    s.sql(f"CREATE TABLE {tag}_t USING parquet AS SELECT 1 AS x")
    try:
        s.sql(f"CREATE VIEW {tag}_v AS SELECT x FROM {tag}_t")
        s.sql(f"CREATE TEMP VIEW {tag}_tv AS SELECT 2 AS y")
        cat = s.catalog.currentCatalog()
        db = s.catalog.currentDatabase()
        expected = [
            (cat, db, f"{tag}_t", "BASE TABLE"),
            (cat, None, f"{tag}_tv", "LOCAL TEMPORARY"),
            (cat, db, f"{tag}_v", "VIEW"),
        ]
        rows, jobs = _jobs_during(
            s, lambda: catalog.get_tables(s).collect())
        assert jobs == 0
        assert sorted((tuple(r) for r in rows
                       if r.table_name.startswith(tag)),
                      key=lambda r: r[2]) == expected
        rows, jobs = _jobs_during(
            s, lambda: catalog.get_tables(s, f"{tag}_t%").collect())
        assert jobs == 0
        assert sorted((tuple(r) for r in rows), key=lambda r: r[2]) == [
            expected[0], expected[1]]
        rows, jobs = _jobs_during(s, lambda: catalog.get_tables(
            s, f"{tag}_v", include_schema=True).collect())
        assert jobs == 0
        assert [tuple(r)[:4] for r in rows] == [expected[2]]
        assert '"x"' in rows[0].table_schema_json

        cats, jobs = _jobs_during(
            s, lambda: catalog.get_catalogs(s).collect())
        assert jobs == 0
        assert [r.catalog_name for r in cats] == [
            c.name for c in s.catalog.listCatalogs()]
        dbs, jobs = _jobs_during(
            s, lambda: catalog.get_db_schemas(s).collect())
        assert jobs == 0
        assert [tuple(r) for r in dbs] == [
            (cat, d.name) for d in s.catalog.listDatabases()]
        assert [r.db_schema_name for r in catalog.get_db_schemas(
            s, db[:3] + "%").collect()] == [db]
    finally:
        s.sql(f"DROP VIEW IF EXISTS {tag}_v")
        s.sql(f"DROP TABLE IF EXISTS {tag}_t")


def test_python_datasource_batch(spark):
    """Custom Python DataSource: planner-integrated, partition-parallel."""
    from gizmosql_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 100)
        .option("numPartitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r["event_id"]: r for r in df.collect()}
    assert len(rows) == 100
    # deterministic generator contract
    h = (1103515245 * 7 + 12345) % 2**31
    assert rows[7]["user_id"] == h % 97
    assert rows[7]["value"] == (h % 10000) / 100.0


def test_python_datasource_stream(spark):
    """The same source as a streaming reader: fixed-size micro-batches
    driven to completion cover all rows exactly once."""
    from gizmosql_spark.sources import pydatasource

    pydatasource.register(spark)
    s = (
        spark.readStream.format("synthetic_events")
        .option("rows", 500)
        .option("batchSize", 100)
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("t_pyds_stream")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS c, count(DISTINCT event_id) AS d FROM t_pyds_stream").collect()[0]
    assert got["c"] == 500 and got["d"] == 500


def test_sniff_csv_and_glob(spark, tmp_path):
    import gizmosql_spark.sources.registry as reg

    p = tmp_path / "t.csv"
    p.write_text("a,b,c\n1,x,2.5\n2,y,3.5\n")
    sniff = {r["column_name"]: r["column_type"] for r in reg.sniff_csv(spark, str(p)).collect()}
    assert sniff == {"a": "int", "b": "string", "c": "double"}
    g = reg.glob_paths(spark, str(tmp_path / "*.csv")).collect()
    assert len(g) == 1 and g[0]["file"].endswith("t.csv")
    nd = tmp_path / "t.ndjson"
    nd.write_text('{"k": 1}\n{"k": 2}\n')
    assert reg.read_ndjson(spark, str(nd)).count() == 2


def test_parquet_metadata_row_groups(spark, sf_smoke):
    """Row-group metadata from footers only: row counts across groups
    must sum to the table's row count."""
    df = src.parquet_metadata(spark, f"{sf_smoke}/lineitem.parquet")
    rows = df.collect()
    assert rows and all(r["row_group_bytes"] > 0 for r in rows)
    total = sum(r["row_group_num_rows"] for r in rows)
    assert total == spark.read.parquet(
        f"{sf_smoke}/lineitem.parquet").count()
    assert all(r["num_columns"] >= 10 for r in rows)
