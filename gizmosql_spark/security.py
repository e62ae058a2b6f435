"""Admin-command gate + role-based statement checks.

Re-expresses the reference's parser-based admin gate
(/root/reference/src/duckdb/admin_command_guard.cpp: entry :393-409,
classification :282-389, remote schemes :68-76, gated functions
:107-120, dangerous settings :129-144) and the readonly-role write
block (duckdb_statement.cpp:1080-1094) as fail-closed SQL
classification. The reference walks DuckDB's parse tree; here
classification is keyword/function matching over the literal-masked
statement plus path-scheme rules — same observable policy, and Spark's
own analyzer re-validates everything that passes.
"""

from __future__ import annotations

import re

from gizmosql_spark.dialect import _mask_literals, statement_body

#: remote schemes allowed for non-admin reads (admin_command_guard.cpp:68-76)
REMOTE_SCHEMES = (
    "s3://", "s3a://", "s3n://", "gs://", "gcs://", "r2://",
    "az://", "azure://", "abfs://", "abfss://",
    "http://", "https://", "hf://",
)

#: statement openers only admins may run (admin_command_guard.cpp:282-389)
_ADMIN_STMT_RE = re.compile(
    r"^\s*(ATTACH|DETACH|INSTALL|LOAD|CHECKPOINT|EXPORT\s+DATABASE"
    r"|IMPORT\s+DATABASE|CREATE\s+(?:OR\s+REPLACE\s+)?(?:PERSISTENT\s+)?SECRET"
    r"|DROP\s+SECRET)\b",
    re.IGNORECASE,
)

#: gated table functions when pointed at the local filesystem
#: (admin_command_guard.cpp:107-120)
_GATED_FN_RE = re.compile(
    r"\b(read_parquet|parquet_scan|parquet_metadata|parquet_schema|read_csv_auto"
    r"|read_csv|sniff_csv|read_json_auto|read_json|read_ndjson_auto|read_ndjson"
    r"|read_text|read_blob|glob|pipeline_op)\s*\(",
    re.IGNORECASE,
)

#: dangerous global SETs for non-admins (admin_command_guard.cpp:129-144)
_DANGEROUS_SET_RE = re.compile(
    r"^\s*SET\s+(?:GLOBAL\s+)?(memory_limit|threads|temp_directory"
    r"|extension_directory|allow_unsigned_extensions|enable_external_access)\b",
    re.IGNORECASE,
)

#: a write, matched on ``statement_body``: besides the DML and DDL
#: words, Spark's COMMENT ON, EXECUTE IMMEDIATE (its SQL text is a
#: value the gate cannot read) and a BEGIN … END script (a bare BEGIN
#: [TRANSACTION] is the engine's transaction command)
_WRITE_STMT_RE = re.compile(
    r"^\s*(INSERT|UPDATE|DELETE|MERGE|CREATE|DROP|ALTER|TRUNCATE|REPLACE"
    r"|COPY|CALL|VACUUM|ANALYZE|REFRESH|CACHE|UNCACHE|GRANT|REVOKE|MSCK"
    r"|OPTIMIZE|RESTORE|COMMENT|EXECUTE"
    r"|BEGIN(?!(?:\s+TRANSACTION)?\s*;?\s*$))\b",
    re.IGNORECASE,
)

_PATH_LITERAL_RE = re.compile(r"'([^']*)'")


class CommandDenied(PermissionError):
    pass


def _is_remote(path: str) -> bool:
    p = path.lower()
    return any(p.startswith(s) for s in REMOTE_SCHEMES)


def _local_paths(sql: str) -> list[str]:
    """String literals that look like local filesystem paths."""
    out = []
    for lit in _PATH_LITERAL_RE.findall(sql):
        looks_pathy = (
            lit.startswith(("/", "./", "~", "../"))
            or re.search(r"\.(parquet|csv|json|ndjson|txt|db|duckdb)$", lit, re.IGNORECASE)
            or "*" in lit
        )
        if looks_pathy and not _is_remote(lit):
            out.append(lit)
    return out


def check_admin_gate(sql: str, is_admin: bool) -> None:
    """Raise CommandDenied if a non-admin statement is gated.

    Mirrors ClassifyStatement (admin_command_guard.cpp:282-389):
    admin-only statement classes, local-filesystem file functions and
    replacement scans, and dangerous bare SETs. Remote object-store
    paths pass (the reference's proven-remote rule)."""
    if is_admin:
        return
    masked = _mask_literals(sql)
    m = _ADMIN_STMT_RE.match(masked)
    if m:
        raise CommandDenied(f"statement requires admin role: {m.group(1).upper()}")
    if _DANGEROUS_SET_RE.match(masked):
        raise CommandDenied("setting requires admin role")
    if _GATED_FN_RE.search(masked) or re.search(
        r"(\bFROM\s+|\bJOIN\s+)'", sql, re.IGNORECASE
    ):
        local = _local_paths(sql)
        if local:
            raise CommandDenied(
                f"local filesystem access requires admin role: {local[0]!r}"
            )
    if re.match(r"^\s*COPY\b", masked, re.IGNORECASE):
        local = _local_paths(sql)
        if local:
            raise CommandDenied(
                f"local COPY requires admin role: {local[0]!r}"
            )


def check_readonly(sql: str, role: str) -> None:
    """Reject write statements for the readonly role
    (duckdb_statement.cpp:1080-1094), read as Spark reads them
    (``statement_body``): a write behind comments, a WITH list or a
    FROM clause is a write. TEMP VIEW creation is allowed
    (session-local, like DuckDB temp schema writes)."""
    if role != "readonly":
        return
    masked = statement_body(sql)
    m = _WRITE_STMT_RE.match(masked)
    if m and not re.match(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+VIEW\b",
        masked,
        re.IGNORECASE,
    ):
        raise CommandDenied(f"readonly role may not execute {m.group(1).upper()}")


# --- catalog permissions (Enterprise tier) ---------------------------
#
# The reference checks the prepared statement's read_databases /
# modified_databases property sets against per-catalog ACLs carried in
# JWT claims, with wildcard patterns
# (catalog_permissions_handler.cpp; check sites
# duckdb_statement.cpp:1052-1077). Here the referenced catalogs are the
# explicit three-part identifiers plus the session's current catalog,
# checked against fnmatch-style patterns. None = unrestricted (the
# non-Enterprise default).

# A bare three-part-dotted regex would also match qualified struct
# access (``SELECT e.props.k FROM events e`` → alias 'e' read as a
# catalog) and spuriously deny ACL-restricted sessions. Catalog
# references are therefore only recognized in table positions — after
# FROM / JOIN / INTO / UPDATE / TABLE keywords, plus comma
# continuations of a FROM list.
_QUAL3 = r"(?:[A-Za-z_][\w]*)\s*\.\s*(?:[A-Za-z_][\w]*)\s*\.\s*(?:[A-Za-z_][\w]*)"
_TABLE_POS_RE = re.compile(
    r"\b(?:FROM|JOIN|INTO|UPDATE|TABLE)\s+(" + _QUAL3 + r")", re.IGNORECASE
)
_COMMA_CONT_RE = re.compile(r"\s*,\s*(" + _QUAL3 + r")")

DEFAULT_CATALOG = "spark_catalog"


def _referenced_catalogs(masked: str) -> set[str]:
    """Catalogs of three-part table identifiers in table positions."""
    cats: set[str] = set()
    for m in _TABLE_POS_RE.finditer(masked):
        cats.add(m.group(1).split(".")[0].strip())
        pos = m.end()
        while True:
            c = _COMMA_CONT_RE.match(masked, pos)
            if c is None:
                break
            cats.add(c.group(1).split(".")[0].strip())
            pos = c.end()
    return cats


def catalog_allowed(patterns: list[str] | None, catalog: str) -> bool:
    import fnmatch

    if patterns is None:
        return True
    return any(fnmatch.fnmatchcase(catalog.lower(), p.lower()) for p in patterns)


def check_catalog_access(
    sql: str,
    read_catalogs: list[str] | None,
    write_catalogs: list[str] | None,
    write_target: str | None,
    current_catalog: str = DEFAULT_CATALOG,
) -> None:
    """Raise CommandDenied when the statement touches a catalog outside
    the session's ACL. Reads: every referenced catalog (three-part
    table identifiers; unqualified names resolve to the session's
    current catalog). Writes: the DML/DDL target's catalog."""
    if read_catalogs is None and write_catalogs is None:
        return
    masked = _mask_literals(sql)
    referenced = _referenced_catalogs(masked)
    referenced = {c for c in referenced if c.lower() not in ("global_temp",)}
    for cat in referenced or {current_catalog}:
        if not catalog_allowed(read_catalogs, cat):
            raise CommandDenied(f"catalog not readable by this session: {cat}")
    if write_target is not None:
        parts = write_target.split(".")
        target_cat = parts[0] if len(parts) == 3 else current_catalog
        if not catalog_allowed(write_catalogs, target_cat):
            raise CommandDenied(
                f"catalog not writable by this session: {target_cat}"
            )
