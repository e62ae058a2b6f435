"""Table registry + catalog metadata operators.

Mirrors the reference's metadata RPC surface (SURVEY §2A): DoGetCatalogs
/ DoGetDbSchemas / DoGetTables / DoGetTableTypes are information_schema
queries in the reference (/root/reference/src/duckdb/duckdb_server.cpp:
1310-1352, :1515-1539, :1597-1606); here they are DataFrames built from
``spark.catalog``.

The table registry loads the driver parquet fixtures as temp views so
both the SQL surface and the DataFrame operators address tables by name
— the Spark analog of DuckDB's attached-database catalog.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

#: The driver fixture tables (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Register each fixture parquet as a temp view; return the frames.

    Reads are plain ``spark.read.parquet`` so Catalyst gets the native
    vectorized reader with filter/column pushdown — never a manual scan.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --- metadata operators (Flight SQL metadata RPC analogs) -------------


def _local_frame(spark: SparkSession, columns: dict[str, list]) -> DataFrame:
    """A local frame of string columns. ``createDataFrame`` of an
    Arrow table is a LocalRelation: filtering and collecting it run no
    Spark job (a Python row list would launch one)."""
    return spark.createDataFrame(pa.table(
        {k: pa.array(v, pa.string()) for k, v in columns.items()}))


def get_catalogs(spark: SparkSession) -> DataFrame:
    """DoGetCatalogs analog (duckdb_server.cpp:1310-1319)."""
    names = [r.catalog for r in spark.sql("SHOW CATALOGS").collect()]
    return _local_frame(spark, {"catalog_name": names})


def get_db_schemas(spark: SparkSession, pattern: str | None = None) -> DataFrame:
    """DoGetDbSchemas analog (duckdb_server.cpp:1327-1352)."""
    cat = spark.catalog.currentCatalog()
    names = [r.namespace for r in spark.sql("SHOW NAMESPACES").collect()]
    df = _local_frame(spark, {"catalog_name": [cat] * len(names),
                              "db_schema_name": names})
    if pattern is not None:
        df = df.filter(df.db_schema_name.like(pattern))
    return df


def get_tables(
    spark: SparkSession,
    name_pattern: str | None = None,
    include_schema: bool = False,
) -> DataFrame:
    """DoGetTables analog (duckdb_server.cpp:1515-1539, :692-745).

    ``include_schema`` attaches each table's schema (as JSON, the Spark
    analog of the serialized Arrow schema the reference attaches via
    duckdb_tables_schema_batch_reader.cpp).
    """
    cat = spark.catalog.currentCatalog()
    # Two SHOW commands, collected and joined in Python: no Spark job
    # (a join of the two frames ran two). The reference runs one
    # information_schema query (duckdb_server.cpp:692-745).
    views = {(r.namespace, r.viewName)
             for r in spark.sql("SHOW VIEWS").collect()}
    rows = [
        (r.namespace or None, r.tableName,
         "LOCAL TEMPORARY" if r.isTemporary
         else "VIEW" if (r.namespace, r.tableName) in views
         else "BASE TABLE")
        for r in spark.sql("SHOW TABLES").collect()
    ]
    df = _local_frame(spark, {
        "table_catalog": [cat] * len(rows),
        "table_schema": [r[0] for r in rows],
        "table_name": [r[1] for r in rows],
        "table_type": [r[2] for r in rows],
    })
    if name_pattern is not None:
        df = df.filter(df.table_name.like(name_pattern))
    if include_schema:
        # schema resolution is the expensive per-table step — do it
        # only on request, and only for the pattern-filtered names
        got = df.collect()
        return _local_frame(spark, {
            "table_catalog": [r.table_catalog for r in got],
            "table_schema": [r.table_schema for r in got],
            "table_name": [r.table_name for r in got],
            "table_type": [r.table_type for r in got],
            "table_schema_json": [
                spark.table(f"{r.table_schema}.{r.table_name}"
                            if r.table_schema else r.table_name
                            ).schema.json()
                for r in got],
        })
    return df


def get_table_types(spark: SparkSession) -> DataFrame:
    """DoGetTableTypes analog — constant 3 rows (duckdb_server.cpp:1597-1606)."""
    return spark.createDataFrame(
        [("BASE TABLE",), ("LOCAL TEMPORARY",), ("VIEW",)], "table_type string"
    )
