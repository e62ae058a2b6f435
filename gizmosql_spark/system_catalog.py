"""Engine system catalog: JDBC-shaped metadata views.

Re-expresses the reference's in-memory ``_gizmosql_system`` catalog
(/root/reference/src/common/system_catalog.cpp:5-62): a
``gizmosql_index_info`` view (indexes ∪ PK/UNIQUE constraints, one row
per column) and a ``gizmosql_view_definition`` view (view DDL). The
reference materializes them from ``duckdb_indexes()`` /
``duckdb_constraints()`` / ``duckdb_views()``; Spark has no system
table functions for these, so the engine feeds them from its own
constraint registry and from DDL it has executed — the same
information flow (the reference's catalog also only reflects state
the server created).

Both views are **read-only for every role**, enforced in
:func:`check_system_catalog_write` the way the reference blocks writes
to the system catalog (duckdb_statement.cpp:1019-1050).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gizmosql_spark.constraints import ConstraintRegistry

#: the engine's system views (global temp views live in ``global_temp``)
SYSTEM_VIEWS = ("engine_index_info", "engine_view_definition")

_INDEX_INFO_SCHEMA = (
    "table_catalog string, table_schema string, table_name string,"
    " index_name string, column_name string, ordinal_position int,"
    " is_unique boolean"
)
_VIEW_DEF_SCHEMA = (
    "table_catalog string, table_schema string, view_name string,"
    " view_definition string"
)

class SystemCatalog:
    """Engine-maintained metadata, published as global temp views."""

    def __init__(self, registry: ConstraintRegistry | None = None):
        self.registry = registry or ConstraintRegistry()
        #: view name -> DDL text, recorded as DDL flows through the
        #: engine (system_catalog.cpp records from duckdb_views())
        self.view_definitions: dict[str, str] = {}

    def observe_statement(self, sql: str, stmt) -> None:
        """Record view DDL passing through the engine: the view a
        classified statement (``security.Statement``) creates."""
        if stmt.view:
            self.view_definitions[stmt.view[-1]] = sql.strip()

    def index_info(self, spark: SparkSession) -> DataFrame:
        """gizmosql_index_info analog: PK/UNIQUE constraints and
        declared indexes, UNNESTed to one row per column
        (system_catalog.cpp:5-40)."""
        cat = spark.catalog.currentCatalog()
        rows = []
        for table, cols in self.registry.primary_keys.items():
            for pos, col in enumerate(cols, start=1):
                rows.append((cat, "default", table, f"pk_{table}", col, pos, True))
        for table, indexes in self.registry.indexes.items():
            for name, cols in indexes.items():
                for pos, col in enumerate(cols, start=1):
                    rows.append((cat, "default", table, name, col, pos, False))
        return spark.createDataFrame(rows, _INDEX_INFO_SCHEMA)

    def view_definition(self, spark: SparkSession) -> DataFrame:
        """gizmosql_view_definition analog (system_catalog.cpp:42-62):
        engine-recorded DDL plus persistent-view DDL from the catalog."""
        cat = spark.catalog.currentCatalog()
        rows = [
            (cat, "default", name, ddl)
            for name, ddl in sorted(self.view_definitions.items())
        ]
        return spark.createDataFrame(rows, _VIEW_DEF_SCHEMA)

    def publish(self, spark: SparkSession) -> None:
        """Register/refresh both system views as global temp views
        (reachable as ``global_temp.engine_index_info`` from every
        session — the analog of the shared ``_gizmosql_system``
        catalog)."""
        self.index_info(spark).createOrReplaceGlobalTempView("engine_index_info")
        self.view_definition(spark).createOrReplaceGlobalTempView(
            "engine_view_definition"
        )


def check_system_catalog_write(stmt) -> None:
    """Reject a classified statement (``security.Statement``) that
    writes a system view, for **all** roles, like the reference
    (duckdb_statement.cpp:1019-1050)."""
    for parts in stmt.writes:
        if parts and parts[-1].lower() in SYSTEM_VIEWS:
            raise PermissionError(
                f"system catalog view is read-only: {parts[-1]}")
