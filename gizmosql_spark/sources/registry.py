"""File sources & sinks (SURVEY §2D).

The reference exposes DuckDB's file functions — read_parquet/read_csv*/
read_json*/read_text/read_blob with glob support
(/root/reference/src/duckdb/admin_command_guard.cpp:107-115) — and COPY
TO for export (:348-381). Spark analogs, with schema/options mapped:

- globs are native to every Spark reader
- ``_auto`` variants ≈ ``inferSchema``/``multiLine`` options
- read_text → one row per line (``spark.read.text``); read_blob →
  ``binaryFile`` datasource (path/length/content columns)
- COPY t TO 'path' (FORMAT x) → ``df.write.format(x).save(path)``
- object-store schemes (s3a://, gs://, abfss://, …) ride the Hadoop FS
  connectors on a real cluster — same API, different URI.

parquet_metadata/parquet_schema analogs expose footer info via the
reader's schema (no data scan).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from gizmosql_spark.warehouse import table_metadata


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """read_parquet('glob') — vectorized scan, pushdown-capable."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession, path: str, header: bool = True, infer: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """read_csv_auto analog: header + schema inference by default."""
    return (
        spark.read.option("header", header)
        .option("inferSchema", infer)
        .option("delimiter", delimiter)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, multiline: bool = False) -> DataFrame:
    """read_json_auto / read_ndjson_auto analog (ndjson is the default
    line-delimited mode; multiline=True for single-document files)."""
    return spark.read.option("multiLine", multiline).json(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """read_text analog: one row per line, column ``value``."""
    return spark.read.text(path)


def read_blob(spark: SparkSession, path: str) -> DataFrame:
    """read_blob analog: binaryFile source → (path, modificationTime,
    length, content)."""
    return spark.read.format("binaryFile").load(path)


def parquet_schema(spark: SparkSession, path: str) -> DataFrame:
    """parquet_schema analog: column name/type rows from the footer
    (schema resolution only — no data scan)."""
    schema = spark.read.parquet(path).schema
    rows = [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields]
    return spark.createDataFrame(rows, "column_name string, column_type string, nullable boolean")


def parquet_metadata(spark: SparkSession, path: str) -> DataFrame:
    """parquet_metadata analog (the reference gates DuckDB's
    row-group-level table function, admin_command_guard.cpp:108-113):
    one row per (file, row group) with row counts, byte sizes, and
    compression — footer reads only, no data scan. Globs expand the
    same way the scan does."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(path)) if any(
        ch in path for ch in "*?[") else [path]
    expanded: list[str] = []
    for f in files:
        if os.path.isdir(f):
            expanded.extend(sorted(
                os.path.join(f, n) for n in os.listdir(f)
                if n.endswith(".parquet")))
        else:
            expanded.append(f)
    rows = []
    for f in expanded:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            comp = rg.column(0).compression if rg.num_columns else ""
            rows.append((
                f, g, rg.num_rows, rg.total_byte_size,
                meta.num_columns, comp,
            ))
    return spark.createDataFrame(
        rows,
        "file_name string, row_group_id int, row_group_num_rows bigint,"
        " row_group_bytes bigint, num_columns int, compression string",
    )


import re as _re

_COPY_TO_RE = _re.compile(
    r"^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'([^']+)'"
    r"\s*(?:\(\s*([^)]*)\s*\))?\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_COPY_FROM_RE = _re.compile(
    r"^\s*COPY\s+([A-Za-z_][\w.]*)\s+FROM\s+'([^']+)'"
    r"\s*(?:\(\s*([^)]*)\s*\))?\s*;?\s*$",
    _re.IGNORECASE,
)


def _copy_options(raw: str | None) -> tuple[str, dict]:
    """DuckDB-style option list: ``FORMAT CSV, HEADER, DELIMITER '|'``
    -> (format, spark reader/writer options)."""
    fmt, opts = "parquet", {}
    for part in (raw or "").split(","):
        part = part.strip()
        if not part:
            continue
        key, _, val = part.partition(" ")
        key = key.upper()
        val = val.strip().strip("'")
        if key == "FORMAT":
            fmt = val.lower()
        elif key == "HEADER":
            opts["header"] = val.lower() if val else "true"
        elif key == "DELIMITER":
            opts["sep"] = val
        else:
            opts[key.lower()] = val or "true"
    return fmt, opts


def parse_copy(sql: str):
    """``COPY (query)|table TO 'path' (opts)`` /
    ``COPY table FROM 'path' (opts)`` ->
    ("to", source, path, fmt, opts) | ("from", table, path, fmt, opts)
    | None. (The reference gates both directions,
    admin_command_guard.cpp:348-381.)"""
    m = _COPY_FROM_RE.match(sql)
    if m:
        fmt, opts = _copy_options(m.group(3))
        return "from", m.group(1), m.group(2), fmt, opts
    m = _COPY_TO_RE.match(sql)
    if m:
        fmt, opts = _copy_options(m.group(3))
        return "to", m.group(1), m.group(2), fmt, opts
    return None


def copy_to(df: DataFrame, path: str, fmt: str = "parquet",
            mode: str = "overwrite", **options) -> None:
    """COPY <query> TO 'path' (FORMAT fmt) analog."""
    writer = df.write.mode(mode).format(fmt)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def export_database(spark: SparkSession, out_dir: str, tables: list[str] | None = None) -> dict[str, int]:
    """EXPORT DATABASE analog: every (or named) catalog table → parquet
    under out_dir, plus a ``_layout.json`` carrying bucket specs so an
    import restores the physical layout (the reference's export writes
    full DDL for the same reason); returns per-table row counts."""
    import json as _json
    import os as _os

    names = tables or [t.name for t in spark.catalog.listTables() if not t.isTemporary]
    counts = {}
    layouts: dict[str, dict] = {}
    for name in names:
        df = spark.table(name)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        counts[name] = df.count()
        meta = table_metadata(spark, name)
        if meta is not None and meta.buckets:
            layouts[name] = meta.buckets
    _os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/_layout.json", "w", encoding="utf-8") as f:
        _json.dump({"version": 1, "layouts": layouts}, f, indent=1)
    return counts


def import_database(spark: SparkSession, in_dir: str, tables: list[str]) -> None:
    """IMPORT DATABASE analog: parquet dirs → managed tables, restoring
    any bucket spec recorded by the matching export."""
    import json as _json

    try:
        with open(f"{in_dir}/_layout.json", encoding="utf-8") as f:
            layouts = _json.load(f).get("layouts", {})
    except (OSError, _json.JSONDecodeError):
        layouts = {}
    for name in tables:
        df = spark.read.parquet(f"{in_dir}/{name}")
        lay = layouts.get(name)
        if lay:
            (df.write.mode("overwrite")
             .bucketBy(lay["num_buckets"], *lay["bucket_columns"])
             .sortBy(*(lay["sort_columns"] or lay["bucket_columns"]))
             .saveAsTable(name))
        else:
            df.write.mode("overwrite").saveAsTable(name)


def read_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """read_ndjson[_auto] — Spark's json reader is newline-delimited by
    default (one object per line)."""
    return spark.read.json(path)


def sniff_csv(spark: SparkSession, path: str, sample_rows: int = 1000) -> DataFrame:
    """sniff_csv analog: infer and report the CSV's column layout
    without materializing the data (schema from a bounded sample)."""
    inferred = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("samplingRatio", 1.0)
        .csv(path)
        .limit(sample_rows)
        .schema
    )
    rows = [
        (i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(inferred.fields)
    ]
    return spark.createDataFrame(
        rows, "column_index int, column_name string, column_type string, nullable boolean"
    )


def glob_paths(spark: SparkSession, pattern: str) -> DataFrame:
    """glob('pattern') — file listing as a DataFrame. Local patterns use
    Python's glob; on a cluster the Hadoop FS listing backs the same
    shape via the binaryFile reader's path column."""
    import glob as _glob
    import os

    paths = sorted(_glob.glob(pattern))
    rows = [(p, os.path.getsize(p)) for p in paths]
    return spark.createDataFrame(rows or [], "file string, size long")
