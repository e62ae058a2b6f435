"""Table maintenance: schema evolution + compaction for managed tables.

The reference inherits full ``ALTER TABLE`` and storage maintenance
from its embedded database (readonly gate implies the surface,
admin_command_guard.cpp write-statement classes); a lakehouse engine
provides the same three levers:

- **Schema evolution.** ``ADD COLUMNS`` is metadata-only in Spark for
  parquet datasource tables (old files read the new column as NULL) and
  passes through. ``DROP COLUMN`` / ``RENAME COLUMN`` are unsupported
  on v1 tables, so the engine rewrites them copy-on-write — build the
  post-image with the evolved schema, stage it, replace the table —
  with a time-travel snapshot taken first, so ``VERSION AS OF`` still
  reads the pre-evolution schema (Delta calls this the same thing).
- **Compaction.** ``OPTIMIZE t`` rewrites the table's files into
  ~target-size outputs (small-file compaction, the Delta ``OPTIMIZE`` /
  Iceberg ``rewrite_data_files`` analog) and reports before/after file
  counts. The rewrite is one repartition-by-size pass; at 100 TB the
  identical statement runs per-partition (WHERE pruning) instead of
  whole-table, which is a planner detail, not an API change.

Both paths go through the engine's write gates (security ACLs treat
OPTIMIZE like any write DDL) and re-record the manifest after success.
"""

from __future__ import annotations

import math
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from gizmosql_spark.warehouse import table_metadata

_IDENT = r"[A-Za-z_][\w.]*|`[^`]+`"
_COL = r"[A-Za-z_]\w*|`[^`]+`"

_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+({_IDENT})"
    r"(?:\s+TARGET\s+(\d+)\s*MB)?"
    rf"(?:\s+ZORDER\s+BY\s+\(\s*({_COL})\s*,\s*({_COL})\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_COL_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN(?:S)?\s+"
    rf"(?:IF\s+EXISTS\s+)?\(?\s*({_COL}(?:\s*,\s*(?:{_COL}))*)\s*\)?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_COL_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+RENAME\s+COLUMN\s+({_COL})"
    rf"\s+TO\s+({_COL})\s*;?\s*$",
    re.IGNORECASE,
)

_RESTORE_RE = re.compile(
    rf"^\s*RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+VERSION\s+AS\s+OF"
    r"\s+(\d+)\s*;?\s*$",
    re.IGNORECASE,
)

_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+({_IDENT})"
    r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*;?\s*$",
    re.IGNORECASE,
)

#: default compaction target file size
DEFAULT_TARGET_MB = 128

#: snapshot versions VACUUM keeps by default
DEFAULT_RETAIN_VERSIONS = 2


def parse_optimize(sql: str):
    """``OPTIMIZE t [TARGET n MB] [ZORDER BY (c1, c2)]`` ->
    (table, target_mb, zorder_cols|None) or None."""
    m = _OPTIMIZE_RE.match(sql)
    if not m:
        return None
    table, mb, z1, z2 = m.groups()
    zcols = (z1.strip("`"), z2.strip("`")) if z1 else None
    return table.strip("`"), int(mb) if mb else DEFAULT_TARGET_MB, zcols


def parse_restore(sql: str):
    """``RESTORE TABLE t TO VERSION AS OF k`` -> (table, k) or None."""
    m = _RESTORE_RE.match(sql)
    if not m:
        return None
    return m.group(1).strip("`"), int(m.group(2))


def apply_restore(spark: SparkSession, table: str, version: int,
                  warehouse) -> DataFrame:
    """Roll ``table`` back to an archived snapshot (the Delta
    ``RESTORE TABLE`` statement over the warehouse's copy-based
    versions). The CURRENT state is snapshotted first, so a restore
    is itself undoable — exactly Delta's behavior (RESTORE commits a
    new version). Schema differences are fine: the rewrite goes
    through the schema-changing replace path."""
    vpath = warehouse.version_path(table, version)
    warehouse.snapshot(spark, table)
    post = spark.read.parquet(vpath)
    _replace_table(spark, table, post, warehouse=warehouse)
    n = spark.table(table).count()
    return spark.createDataFrame(
        [(table, version, n)],
        "table string, restored_version int, row_count bigint",
    )


def table_changes(spark: SparkSession, warehouse, table: str,
                  v_from: int, v_to: int | None = None) -> DataFrame:
    """Delta-CDF-style change feed between two table states: rows in
    ``v_to`` (None = live table) that are not in ``v_from`` surface as
    ``insert``, rows gone from ``v_from`` as ``delete``, with a
    ``_change_count`` multiplicity for duplicate rows. Without a
    declared primary key an update is a delete+insert pair — the
    documented deviation from Delta's keyed update_pre/postimage rows
    (docs/transactions_and_lakehouse.md §4).

    100 TB shape: both states reduce to (row-hash, count) partial aggs
    — map-side combinable, one shuffle each — then a hash-keyed
    full-outer join; nothing corpus-sized ever broadcasts and the
    diff never leaves the executors. Schema evolution between the
    versions is handled by projecting both sides onto the union of
    their columns (missing columns read as NULL), so an added column
    shows up as delete+insert of the affected rows, same as a
    copy-on-write rewrite."""
    from pyspark.sql import functions as F

    def _state(v):
        if v is None:
            return spark.table(table)
        return spark.read.parquet(warehouse.version_path(table, v))

    old, new = _state(v_from), _state(v_to)
    cols = list(new.columns) + [c for c in old.columns
                                if c not in new.columns]

    def _counted(df):
        proj = [
            (F.col(c) if c in df.columns
             else F.lit(None).cast("string").alias(c))
            for c in cols
        ]
        d = df.select(*proj)
        return (
            d.select(
                F.md5(F.to_json(F.struct(*cols))).alias("_k"),
                F.struct(*cols).alias("_row"),
            )
            .groupBy("_k")
            .agg(F.first("_row").alias("_row"),
                 F.count(F.lit(1)).alias("_n"))
        )

    o, n = _counted(old), _counted(new)
    j = n.withColumnRenamed("_row", "_nrow").withColumnRenamed(
        "_n", "_nn"
    ).join(
        o.withColumnRenamed("_row", "_orow").withColumnRenamed("_n", "_on"),
        "_k",
        "full_outer",
    )
    delta = F.coalesce("_nn", F.lit(0)) - F.coalesce("_on", F.lit(0))
    return (
        j.select(F.coalesce("_nrow", "_orow").alias("_row"),
                 delta.alias("_d"))
        .filter(F.col("_d") != 0)
        .select(
            "_row.*",
            F.when(F.col("_d") > 0, "insert").otherwise("delete")
            .alias("_change_type"),
            F.abs("_d").alias("_change_count"),
        )
    )


def parse_vacuum(sql: str):
    """``VACUUM t [RETAIN n VERSIONS]`` -> (table, retain) or None."""
    m = _VACUUM_RE.match(sql)
    if not m:
        return None
    table, n = m.groups()
    return table.strip("`"), int(n) if n else DEFAULT_RETAIN_VERSIONS


def parse_alter_evolution(sql: str):
    """The ALTER forms Spark v1 tables cannot run natively:
    ``('drop', table, [cols])`` / ``('rename', table, (old, new))``,
    else None (ADD COLUMNS and all other ALTERs pass through)."""
    m = _DROP_COL_RE.match(sql)
    if m:
        table, cols = m.groups()
        return ("drop", table.strip("`"),
                [c.strip().strip("`") for c in cols.split(",")])
    m = _RENAME_COL_RE.match(sql)
    if m:
        table, old, new = m.groups()
        return ("rename", table.strip("`"),
                (old.strip("`"), new.strip("`")))
    return None


def _replace_table(spark: SparkSession, table: str, post: DataFrame,
                   warehouse=None) -> None:
    """Copy-on-write table replacement for a SCHEMA-CHANGING rewrite
    (``dml._overwrite_via_stage`` keeps the schema; this one swaps it):
    stage the post-image, drop the target, recreate from the stage."""
    stage = f"_ddl_stage_{uuid.uuid4().hex[:12]}"
    post.write.mode("overwrite").saveAsTable(stage)
    try:
        if warehouse is not None:
            # re-attached EXTERNAL tables inside the warehouse drop
            # without deleting files; clear them or the recreate at the
            # same default location collides
            warehouse.prepare_write(spark, table, overwrite=True)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.table(stage).write.saveAsTable(table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")


def apply_alter(spark: SparkSession, kind: str, table: str, args,
                warehouse=None) -> None:
    df = spark.table(table)
    cols = set(df.columns)
    if kind == "drop":
        missing = [c for c in args if c not in cols]
        if missing:
            raise ValueError(
                f"ALTER TABLE {table} DROP COLUMN: no such column(s)"
                f" {missing}")
        if len(args) >= len(df.columns):
            raise ValueError("cannot drop every column of a table")
        post = df.drop(*args)
    elif kind == "rename":
        old, new = args
        if old not in cols:
            raise ValueError(
                f"ALTER TABLE {table} RENAME COLUMN: no such column"
                f" {old!r}")
        if new in cols:
            raise ValueError(
                f"ALTER TABLE {table} RENAME COLUMN: {new!r} exists")
        post = df.withColumnRenamed(old, new)
    else:  # pragma: no cover - parse gate
        raise ValueError(f"unknown evolution {kind!r}")
    _replace_table(spark, table, post, warehouse=warehouse)


def _file_stats(location: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a table location."""
    n = total = 0
    for root, _dirs, files in os.walk(location):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return n, total


def table_statistics(spark: SparkSession, table: str) -> dict:
    """Post-ANALYZE statistics for the manifest: table-level size/rows
    plus per-column min/max/ndv/nulls where computed. This is the
    'catalog holds statistics' half of the DuckLake contract — a
    fresh process reattaching the table gets the stats with it."""
    stats: dict = {}
    for row in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if (row["col_name"] or "").strip() == "Statistics":
            m = re.match(r"(\d+)\s+bytes(?:,\s*(\d+)\s+rows)?",
                         (row["data_type"] or "").strip())
            if m:
                stats["size_bytes"] = int(m.group(1))
                if m.group(2):
                    stats["row_count"] = int(m.group(2))
    cols: dict = {}
    for c in spark.table(table).columns:
        info = {r["info_name"]: r["info_value"]
                for r in spark.sql(f"DESCRIBE EXTENDED {table} {c}").collect()}
        if info.get("distinct_count", "NULL") != "NULL":
            cols[c] = {k: info[k] for k in
                       ("min", "max", "num_nulls", "distinct_count")
                       if info.get(k, "NULL") != "NULL"}
    if cols:
        stats["columns"] = cols
    return stats


def apply_vacuum(spark: SparkSession, table: str, retain: int,
                 warehouse) -> DataFrame:
    """Drop archived snapshot versions beyond the newest ``retain``
    (the Delta VACUUM / Iceberg expire_snapshots analog — here the
    archives are full copies, so retention is what bounds storage).
    Returns a one-row report."""
    import shutil

    removed: list[dict] = []

    def _apply(tables):
        name = table.split(".")[-1].lower()
        entry = tables.get(name)
        if not entry or not entry.get("versions"):
            return None
        versions = entry["versions"]
        if len(versions) <= retain:
            return None
        removed[:] = versions[:-retain] if retain > 0 else versions
        entry["versions"] = versions[-retain:] if retain > 0 else []
        return tables

    with warehouse._lock:
        warehouse._mutate(_apply)
    freed = 0
    for v in removed:
        path = v.get("path", "")
        for root, _d, files in os.walk(path):
            for f in files:
                try:
                    freed += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(table, len(removed), freed, retain)],
        "table string, versions_removed int, bytes_freed bigint,"
        " retained int",
    )


def _zorder_post_image(spark: SparkSession, table: str,
                       zcols: tuple[str, str], n_out: int) -> DataFrame:
    """The table range-partitioned on the Morton z-value of two NUMERIC
    columns (min/max scaled to 8-bit buckets, bits interleaved) —
    Delta's OPTIMIZE ZORDER BY layout: each output file's (c1, c2)
    min/max box is tight, so 2-D predicates prune files.

    One stats pass collects 4 scalars; the rewrite is ONE range
    shuffle. Clamp guards a constant column (span 0 -> bucket 0)."""
    from pyspark.sql import functions as F

    df = spark.table(table)
    c1, c2 = zcols
    for c in zcols:
        if dict(df.dtypes).get(c) is None:
            raise ValueError(f"ZORDER BY: no such column {c!r}")
    stats = df.agg(
        F.min(F.col(c1).cast("double")).alias("mn1"),
        F.max(F.col(c1).cast("double")).alias("mx1"),
        F.min(F.col(c2).cast("double")).alias("mn2"),
        F.max(F.col(c2).cast("double")).alias("mx2"),
    ).collect()[0]

    def bucket(c, mn, mx):
        span = (mx - mn) or 1.0
        return F.least(
            F.floor((F.col(c).cast("double") - mn) / span * 256),
            F.lit(255)).cast("int")

    zdf = (
        df.withColumn("_zb0", bucket(c1, stats["mn1"], stats["mx1"]))
        .withColumn("_zb1", bucket(c2, stats["mn2"], stats["mx2"]))
        .withColumn("_z", F.expr(
            "aggregate(sequence(0, 7), 0, (acc, i) -> acc"
            " + shiftleft(shiftright(_zb0, i) % 2, 2 * i)"
            " + shiftleft(shiftright(_zb1, i) % 2, 2 * i + 1))"))
    )
    return (
        zdf.repartitionByRange(n_out, "_z")
        .sortWithinPartitions("_z")
        .drop("_zb0", "_zb1", "_z")
    )


def apply_optimize(spark: SparkSession, table: str,
                   target_mb: int = DEFAULT_TARGET_MB,
                   zorder: tuple[str, str] | None = None) -> DataFrame:
    """Compact ``table`` into ~target_mb files (optionally z-order
    clustered); returns the one-row metrics report (Delta OPTIMIZE
    convention)."""
    from gizmosql_spark import dml

    meta = table_metadata(spark, table)
    location = meta.location if meta is not None else ""
    if not location or not os.path.isdir(location):
        raise ValueError(f"OPTIMIZE: {table!r} has no file location")
    files_before, bytes_total = _file_stats(location)
    n_out = max(1, math.ceil(bytes_total / (target_mb * 1024 * 1024)))
    if zorder is not None:
        # a re-cluster is worth a rewrite even at equal file count
        n_out = max(n_out, min(files_before, 8)) if files_before else n_out
        post = _zorder_post_image(spark, table, zorder, n_out)
        dml._overwrite_via_stage(spark, table, post)
        files_after, _ = _file_stats(location)
        rewritten = True
    elif files_before <= n_out:
        files_after = files_before
        rewritten = False
    else:
        dml._overwrite_via_stage(
            spark, table, spark.table(table).repartition(n_out))
        files_after, _ = _file_stats(location)
        rewritten = True
    return spark.createDataFrame(
        [(table, files_before, files_after, bytes_total, rewritten)],
        "table string, files_before int, files_after int,"
        " bytes bigint, rewritten boolean",
    )
