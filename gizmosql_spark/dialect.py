"""SQL dialect shim: pre-``spark.sql`` rewrites.

The reference intercepts/rewrites SQL before handing it to DuckDB
(SURVEY §2B): pseudo-function textual replacement
(/root/reference/src/duckdb/duckdb_statement.cpp:355-587),
``gizmosql_settings()`` table-function rewrite (:1636-1704),
``SET gizmosql.*`` detection (:82-93), KILL SESSION detection
(:176-193), and replacement-scan/`read_*()` handling gated in
admin_command_guard.cpp. This module is the Spark analog: all rewrites
resolve *before* analysis, so no Catalyst extension is needed
(SURVEY §4.2 conclusion).

Rewrites are quote-aware (single-quoted strings and double-quoted
identifiers are never rewritten inside), matching the reference's
quote-aware scanner.
"""

from __future__ import annotations

import re


def _mask_literals(sql: str) -> str:
    """Returns sql with quoted regions replaced by spaces (same length)
    so regex matching never fires inside literals/identifiers."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"'):
            quote = c
            out.append(" ")
            i += 1
            while i < n:
                if sql[i] == quote:
                    if i + 1 < n and sql[i + 1] == quote:  # escaped ''
                        out.append("  ")
                        i += 2
                        continue
                    out.append(" ")
                    i += 1
                    break
                out.append(" ")
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons.

    Quote-aware (single/double quotes with '' escaping) and skips
    ``--`` line comments — the client-side splitter the reference uses
    for init SQL (gizmosql_library.cpp:122-157)."""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    while i < n:
        c = script[i]
        if c in ("'", '"'):
            quote = c
            buf.append(c)
            i += 1
            while i < n:
                buf.append(script[i])
                if script[i] == quote:
                    if i + 1 < n and script[i + 1] == quote:
                        buf.append(script[i + 1])
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
        elif c == "-" and i + 1 < n and script[i + 1] == "-":
            while i < n and script[i] != "\n":
                i += 1
        elif c == ";":
            s = "".join(buf).strip()
            if s:
                stmts.append(s)
            buf = []
            i += 1
        else:
            buf.append(c)
            i += 1
    s = "".join(buf).strip()
    if s:
        stmts.append(s)
    return stmts


# --- pseudo-function replacement --------------------------------------

#: pseudo-functions replaced with literal values pre-analysis, exactly
#: the reference's strategy (duckdb_statement.cpp:355-587). Accepts
#: both ENGINE_* and the reference's GIZMOSQL_* spellings.
PSEUDO_FUNCTIONS = (
    "current_session",
    "current_instance",
    "current_cluster",
    "version",
    "user",
    "role",
    "edition",
    # instrumentation trio (duckdb_statement.cpp:242-249)
    "instrumentation_enabled",
    "instrumentation_catalog",
    "instrumentation_schema",
)


def replace_pseudo_functions(sql: str, values: dict[str, str]) -> str:
    """Replace ENGINE_X()/GIZMOSQL_X() with quoted literal values,
    aliased when in a top-level select position so result columns keep
    the function name (mirrors the alias heuristic at
    duckdb_statement.cpp:255-353 without re-implementing its parser:
    we always alias, which is valid in select lists and harmless in
    WHERE via a subexpression-safe plain literal)."""
    masked = _mask_literals(sql)
    out = sql
    for fn in PSEUDO_FUNCTIONS:
        for prefix in ("engine_", "gizmosql_"):
            pat = re.compile(rf"\b{prefix}{fn}\s*\(\s*\)", re.IGNORECASE)
            while True:
                m = pat.search(_mask_literals(out))
                if not m:
                    break
                lit = values.get(fn, "")
                out = out[: m.start()] + f"'{lit}'" + out[m.end() :]
    return out


# --- table-function / replacement-scan rewrites -----------------------

_READ_FN_RE = re.compile(
    r"\b(read_parquet|parquet_scan|read_csv_auto|read_csv|read_json_auto|read_json"
    r"|read_ndjson_auto|read_ndjson|read_text)\s*\(\s*'([^']+)'[^)]*\)",
    re.IGNORECASE,
)
_REPLACEMENT_SCAN_RE = re.compile(
    r"(\bFROM\s+|\bJOIN\s+)'([^']+\.(?:parquet|csv|json|ndjson))'",
    re.IGNORECASE,
)

_FORMAT_BY_FN = {
    "read_parquet": "parquet",
    "parquet_scan": "parquet",
    "read_csv_auto": "csv",
    "read_csv": "csv",
    "read_json_auto": "json",
    "read_json": "json",
    "read_ndjson_auto": "json",
    "read_ndjson": "json",
    "read_text": "text",
}
_FORMAT_BY_EXT = {"parquet": "parquet", "csv": "csv", "json": "json", "ndjson": "json"}
#: the text before the quoted source of ``COPY t FROM 'path'``
_COPY_FROM_HEAD_RE = re.compile(r"\s*COPY\s+[A-Za-z_][\w.]*\s+FROM\s+",
                                re.IGNORECASE)


def extract_file_scans(sql: str) -> tuple[str, list[tuple[str, str, str]]]:
    """Rewrite DuckDB file-scan syntax to named table references.

    Returns (rewritten_sql, [(view_name, format, path), ...]); the
    caller registers each path as a temp view before execution
    (the Spark analog of DuckDB replacement scans,
    admin_command_guard.cpp:81-103).
    """
    scans: list[tuple[str, str, str]] = []

    def _name(path: str) -> str:
        return "file_scan_" + re.sub(r"[^A-Za-z0-9]", "_", path).strip("_")

    def _fn_sub(m: re.Match) -> str:
        fn, path = m.group(1).lower(), m.group(2)
        view = _name(path)
        scans.append((view, _FORMAT_BY_FN[fn], path))
        return view

    def _scan_sub(m: re.Match) -> str:
        kw, path = m.group(1), m.group(2)
        if _COPY_FROM_HEAD_RE.fullmatch(m.string, 0, m.end(1)):
            return m.group(0)  # COPY's source file, read by COPY itself
        ext = path.rsplit(".", 1)[-1].lower()
        view = _name(path)
        scans.append((view, _FORMAT_BY_EXT[ext], path))
        return kw + view

    out = _READ_FN_RE.sub(_fn_sub, sql)
    out = _REPLACEMENT_SCAN_RE.sub(_scan_sub, out)
    return out, scans


# --- pipeline-operator table function -------------------------------
# ``pipeline_op('<name>', '<dir>')`` exposes every registered pipeline
# operator (operators/registry.py — dedup tiers, quality gates,
# samplers, sketches, …) to SQL clients over the same wire as any
# query, so a Flight SQL user can run the training-data operators
# without touching Python. A non-admin may name no local dir: the dir
# joins the statement's paths, which the admin gate reads.

_PIPELINE_OP_RE = re.compile(
    r"\bpipeline_op\s*\(\s*'([A-Za-z0-9_]+)'\s*(?:,\s*'([^']+)'\s*)?\)",
    re.IGNORECASE,
)


def extract_pipeline_ops(sql: str) -> tuple[str, list[tuple[str, str, str]]]:
    """Rewrite pipeline_op(name[, dir]) calls to named view references.

    Returns (rewritten_sql, [(view_name, op_name, sf_dir), ...]); the
    caller materializes each operator DataFrame as a temp view. The
    dir argument may be omitted — sf_dir is then '' and the engine
    resolves it from the ``engine.pipeline_data_dir`` setting."""
    ops: list[tuple[str, str, str]] = []

    def _sub(m: re.Match) -> str:
        name, sf_dir = m.group(1), m.group(2) or ""
        view = "pipeline_op_" + re.sub(
            r"[^A-Za-z0-9]", "_", f"{name}_{sf_dir}").strip("_")
        ops.append((view, name, sf_dir))
        return view

    return _PIPELINE_OP_RE.sub(_sub, sql), ops


# --- remote-engine scans over Arrow Flight (adbc_scanner analog,
# docs/adbc_scanner_duckdb.md:60-120) --------------------------------

_FLIGHT_SCAN_RE = re.compile(
    r"\bflight_scan\s*\(\s*'([^']+)'\s*,\s*'((?:[^']|'')*)'"
    r"(?:\s*,\s*'([^']*)')?(?:\s*,\s*'([^']*)')?\s*\)",
    re.IGNORECASE,
)


def extract_flight_scans(
    sql: str,
) -> tuple[str, list[tuple[str, str, str, str | None, str | None]]]:
    """Rewrite ``flight_scan('uri', 'query' [, user, password])`` table
    functions to named views. Returns (rewritten_sql, [(view, uri,
    remote_sql, user, password), ...]); the caller fetches each remote
    result and registers it before execution."""
    scans: list[tuple[str, str, str, str | None, str | None]] = []

    def _sub(m: re.Match) -> str:
        uri, rsql, user, pw = m.groups()
        rsql = rsql.replace("''", "'")
        view = f"flight_scan_{len(scans)}_" + re.sub(
            r"[^A-Za-z0-9]", "_", uri).strip("_")
        scans.append((view, uri, rsql, user, pw))
        return view

    return _FLIGHT_SCAN_RE.sub(_sub, sql), scans


_ATTACH_FLIGHT_RE = re.compile(
    r"^\s*ATTACH\s+'((?:grpc|grpc\+tls)://[^']+)'\s+AS\s+([A-Za-z_]\w*)"
    r"\s*\(\s*TYPE\s+(?:flight|adbc)\s*"
    r"(?:,\s*USER\s+'([^']*)'\s*)?(?:,\s*PASSWORD\s+'([^']*)'\s*)?\)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DETACH_RE = re.compile(
    r"^\s*DETACH\s+(?:DATABASE\s+)?([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE)


def parse_attach_flight(sql: str):
    """``ATTACH 'grpc://…' AS alias (TYPE flight [, USER …, PASSWORD
    …])`` → (alias, uri, user, password), else None. The reference's
    ADBC attach carries credentials in a SECRET scoped to the uri; the
    inline clause is this engine's stand-in."""
    m = _ATTACH_FLIGHT_RE.match(sql)
    if not m:
        return None
    uri, alias, user, pw = m.groups()
    return alias, uri, user, pw


def parse_detach(sql: str) -> str | None:
    m = _DETACH_RE.match(sql)
    return m.group(1) if m else None


_SETTINGS_FN_RE = re.compile(
    r"\b(?:engine_settings|gizmosql_settings)\s*\(\s*\)", re.IGNORECASE
)


def rewrite_settings_function(sql: str) -> tuple[str, bool]:
    """engine_settings()/gizmosql_settings() table function → the
    ``engine_settings`` temp view (registered by the engine per
    statement, mirroring duckdb_statement.cpp:1636-1704)."""
    out, n = _SETTINGS_FN_RE.subn("engine_settings", sql)
    return out, n > 0


def _find_top_level(masked: str, keyword: str, start: int = 0) -> int | None:
    """Offset of ``keyword`` at paren-depth 0 (case-insensitive,
    word-bounded) in a literal-masked statement, or None."""
    depth = 0
    pat = re.compile(rf"\b{keyword}\b", re.IGNORECASE)
    i = start
    while i < len(masked):
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(masked, i)
            if m:
                return i
        i += 1
    return None


_PIVOT_STMT_RE = re.compile(
    r"^\s*PIVOT\s+([A-Za-z_][\w.]*)\s+ON\s+([A-Za-z_]\w*)"
    r"(?:\s+USING\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNPIVOT_STMT_RE = re.compile(
    r"^\s*UNPIVOT\s+([A-Za-z_][\w.]*)\s+ON\s+(.+?)"
    r"(?:\s+INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _pivot_literal(v) -> str:
    """SQL literal for a collected pivot value, typed by the Python
    object the column's dataType produced — ``str(v)`` unquoted turned
    DATE/TIMESTAMP/BOOLEAN values into invalid or silently-wrong IN
    entries (``IN (2024-01-01)`` parses as integer arithmetic)."""
    import datetime
    import decimal

    q = str(v).replace("'", "''")
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{q}'"
    if isinstance(v, datetime.date):
        return f"DATE '{q}'"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    return f"'{q}'"


def parse_pivot(sql: str) -> tuple | None:
    """DuckDB's simplified ``PIVOT t ON col [USING aggs] [GROUP BY
    cols]`` statement → (table, column, aggregates, group-by columns),
    else None."""
    m = _PIVOT_STMT_RE.match(sql)
    return m and m.groups()


def pivot_source(pivot: tuple) -> str:
    """A query reading what a ``PIVOT`` statement (``parse_pivot``)
    reads (its table, pivot column and aggregates): the statement's
    distinct-value probe is a job, so its source is gated first."""
    table, on_col, using, _ = pivot
    return f"SELECT {on_col}, {using or 'count(*)'} FROM {table}"


def rewrite_pivot_statement(pivot: tuple, spark) -> str:
    """A ``PIVOT`` statement (``parse_pivot``) → standard Spark PIVOT.
    DuckDB detects the pivot values with a bind-time DISTINCT scan
    (pivot.cpp) — the rewrite does the identical probe, so both
    engines emit one column per observed value in sorted order."""
    table, on_col, using, group_by = pivot
    using = (using or "count(*)").strip()
    # bound bind-time probe: a pivot over a high-cardinality column
    # would otherwise collect unbounded values onto the driver AND
    # emit an absurd column count — refuse past the cap (DuckDB's
    # bind-time pivot has the same practical ceiling)
    cap = 10_000
    vals = [
        r[0]
        for r in spark.sql(
            f"SELECT DISTINCT {on_col} FROM {table}"
            f" WHERE {on_col} IS NOT NULL ORDER BY 1 LIMIT {cap + 1}"
        ).collect()
    ]
    if not vals:
        raise ValueError(f"PIVOT ON {on_col}: no values")
    if len(vals) > cap:
        raise ValueError(
            f"PIVOT ON {on_col}: more than {cap} distinct values")
    quoted = ", ".join(_pivot_literal(v) for v in vals)
    if group_by:
        # restrict the id columns: the inner projection keeps only the
        # GROUP BY cols, the pivot col, and columns the aggs reference
        cols = [f.name for f in spark.table(table).schema.fields]
        used = {
            c for c in cols
            if re.search(rf"\b{re.escape(c)}\b", using, re.IGNORECASE)
        }
        keep = [c.strip() for c in group_by.split(",")] + [on_col] + [
            c for c in cols
            if c in used and c != on_col
        ]
        src = f"(SELECT {', '.join(dict.fromkeys(keep))} FROM {table})"
    else:
        src = table
    return (
        f"SELECT * FROM {src}"
        f" PIVOT ({using} FOR {on_col} IN ({quoted}))"
    )


def rewrite_unpivot_statement(sql: str) -> str:
    """DuckDB's ``UNPIVOT t ON c1, c2 [INTO NAME n VALUE v]`` →
    standard Spark UNPIVOT (defaults: name/value)."""
    m = _UNPIVOT_STMT_RE.match(sql)
    if m is None:
        return sql
    table, on_cols, name_col, value_col = m.groups()
    name_col = name_col or "name"
    value_col = value_col or "value"
    return (
        f"SELECT * FROM {table}"
        f" UNPIVOT ({value_col} FOR {name_col} IN ({on_cols}))"
    )


_UPSERT_RE = re.compile(
    r"^\s*INSERT\s+(OR\s+REPLACE\s+)?INTO\s+([A-Za-z_][\w.]*)"
    r"\s*(?:\(([^)]*)\))?\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ON_CONFLICT_RE = re.compile(
    r"\sON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*DO\s+"
    r"(NOTHING|UPDATE\s+SET\s+(.*))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _upsert(sql: str):
    """``(or_replace, table, columns, source, on_conflict_match)`` of a
    DuckDB upsert (the source ends before its ON CONFLICT clause), else
    None."""
    m = _UPSERT_RE.match(sql)
    if m is None:
        return None
    or_replace, table, col_list, source = m.groups()
    oc = _ON_CONFLICT_RE.search(_mask_literals(sql))
    if not or_replace and oc is None:
        return None
    if oc is not None:
        # slice from the ORIGINAL sql (masking only located it)
        source = source[: oc.start() - m.start(4)]
    return or_replace, table, col_list, source, oc


def upsert_parts(sql: str) -> tuple[str, list[str]] | None:
    """A DuckDB upsert's target table and the Spark statements that
    read what it reads: the INSERT without OR REPLACE and ON CONFLICT,
    and a DO UPDATE SET list as a select list. None for any other
    statement."""
    up = _upsert(sql)
    if up is None:
        return None
    _, table, col_list, source, oc = up
    cols = f" ({col_list})" if col_list else ""
    texts = [f"INSERT INTO {table}{cols} {source.strip().rstrip(';')}"]
    if oc is not None and oc.group(3):
        texts.append(f"SELECT {oc.group(3)}")
    return table, texts


def rewrite_insert_upsert(sql: str, spark, pk_of) -> str:
    """DuckDB upsert forms → MERGE INTO (executed by dml.apply_merge):

    - ``INSERT OR REPLACE INTO t …`` — conflict target = t's declared
      primary key; the whole row image is replaced (unspecified
      columns become NULL, DuckDB insert-or-replace semantics)
    - ``INSERT INTO t … ON CONFLICT [(cols)] DO UPDATE SET a =
      excluded.a`` — ``excluded`` is the candidate row (→ src)
    - ``… ON CONFLICT [(cols)] DO NOTHING`` — matched rows keep their
      target image

    ``pk_of(table)`` supplies declared key columns when the conflict
    target is implicit. Plain INSERTs pass through unchanged."""
    up = _upsert(sql)
    if up is None:
        return sql
    or_replace, table, col_list, source, oc = up
    conflict_cols, action, set_clause = None, None, None
    if oc is not None:
        conflict_cols = (
            [c.strip() for c in oc.group(1).split(",")] if oc.group(1)
            else None)
        action = "nothing" if oc.group(2).upper() == "NOTHING" else "update"
        set_clause = oc.group(3)
    if conflict_cols is None:
        conflict_cols = list(pk_of(table) or ())
        if not conflict_cols:
            raise ValueError(
                f"upsert into {table} needs a declared PRIMARY KEY or an"
                " explicit ON CONFLICT (columns) target")
    source = source.strip().rstrip(";").strip()
    if re.match(r"^VALUES\b", source, re.IGNORECASE):
        source = f"SELECT * FROM ({source}) __v"
    tgt_fields = [f.name for f in spark.table(table).schema.fields]
    ins_cols = (
        [c.strip().strip("`") for c in col_list.split(",")] if col_list
        else tgt_fields)
    src_names = spark.sql(source).columns
    if len(src_names) != len(ins_cols):
        raise ValueError(
            f"upsert column count mismatch: {len(src_names)} vs"
            f" {len(ins_cols)}")
    proj = ", ".join(
        f"__s.{s} AS {t}" for s, t in zip(src_names, ins_cols))
    using = f"(SELECT {proj} FROM ({source}) __s)"
    on = " AND ".join(f"tgt.{c} = src.{c}" for c in conflict_cols)
    if or_replace:
        sets = []
        for c in tgt_fields:
            if c in conflict_cols:
                continue
            sets.append(
                f"{c} = src.{c}" if c in ins_cols
                else f"{c} = CAST(NULL AS STRING)")
        if not sets:  # key-only table: matched rows keep their image
            pk = conflict_cols[0]
            sets = [f"{pk} = tgt.{pk}"]
        set_sql = ", ".join(sets)
    elif action == "nothing":
        pk = conflict_cols[0]
        set_sql = f"{pk} = tgt.{pk}"
    else:
        set_sql = re.sub(
            r"\bexcluded\.", "src.", set_clause, flags=re.IGNORECASE
        ).strip()
    ins_vals = ", ".join(f"src.{c}" for c in ins_cols)
    return (
        f"MERGE INTO {table} AS tgt USING {using} AS src ON {on}"
        f" WHEN MATCHED THEN UPDATE SET {set_sql}"
        f" WHEN NOT MATCHED THEN INSERT ({', '.join(ins_cols)})"
        f" VALUES ({ins_vals})"
    )


_CREATE_MACRO_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO\s+"
    r"([A-Za-z_]\w*)\s*\(",
    re.IGNORECASE,
)
_DROP_MACRO_RE = re.compile(
    r"^\s*DROP\s+MACRO\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)


def parse_create_macro(sql: str):
    """DuckDB ``CREATE [OR REPLACE] [TEMP] MACRO name(params) AS
    [TABLE] body`` → (name, params, defaults, body, is_table, replace)
    or None. Macros are bind-time textual templates in DuckDB
    (macro_function.cpp semantics) — parameters are untyped, so the
    engine expands call sites textually rather than declaring typed
    SQL UDFs. Defaults use ``p := expr``."""
    m = _CREATE_MACRO_RE.match(sql)
    if m is None:
        return None
    name, replace = m.group(2), bool(m.group(1))
    # balanced-paren parameter list
    depth, i = 1, m.end()
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError("unterminated MACRO parameter list")
    raw_params = sql[m.end():i - 1]
    rest = sql[i:].strip()
    mm = re.match(r"AS\s+(TABLE\s+)?(.*)$", rest,
                  re.IGNORECASE | re.DOTALL)
    if mm is None:
        raise ValueError("MACRO requires AS <expression>")
    is_table = bool(mm.group(1))
    body = mm.group(2).strip().rstrip(";").strip()
    params, defaults = [], {}
    for p in _split_top_level_commas(raw_params):
        p = p.strip()
        if not p:
            continue
        dm = re.match(r"([A-Za-z_]\w*)\s*:=\s*(.+)$", p, re.DOTALL)
        if dm:
            params.append(dm.group(1))
            defaults[dm.group(1)] = dm.group(2).strip()
        else:
            if not re.fullmatch(r"[A-Za-z_]\w*", p):
                raise ValueError(f"bad MACRO parameter {p!r}")
            params.append(p)
    return name, params, defaults, body, is_table, replace


def parse_drop_macro(sql: str):
    """``DROP MACRO [IF EXISTS] name`` → (name, if_exists) or None."""
    m = _DROP_MACRO_RE.match(sql)
    if m is None:
        return None
    return m.group(2), bool(m.group(1))


_MACRO_MAX_DEPTH = 8


def expand_macros(sql: str, macros: dict) -> str:
    """Expand registered macro invocations textually (DuckDB binds
    macros as templates the same way). Handles nested parens in
    arguments, named ``p := v`` arguments, defaults, and
    macro-calling-macro up to a fixed depth; skips occurrences inside
    string literals."""
    for _ in range(_MACRO_MAX_DEPTH):
        replaced = False
        for name, (params, defaults, body, _is_table) in macros.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
            pos = 0
            while True:
                masked = _mask_literals(sql)
                m = pat.search(masked, pos)
                if m is None:
                    break
                # parse balanced argument list
                depth, i = 1, m.end()
                while i < len(sql) and depth:
                    if masked[i] == "(":
                        depth += 1
                    elif masked[i] == ")":
                        depth -= 1
                    i += 1
                if depth:
                    break
                args = [
                    a.strip()
                    for a in _split_top_level_commas(sql[m.end():i - 1])
                    if a.strip()
                ]
                named, positional = {}, []
                for a in args:
                    am = re.match(
                        r"([A-Za-z_]\w*)\s*:=\s*(.+)$", a, re.DOTALL)
                    if am and am.group(1) in params:
                        named[am.group(1)] = am.group(2).strip()
                    else:
                        positional.append(a)
                bound = dict(defaults) | named
                free = [p for p in params if p not in named]
                if len(positional) > len(free):
                    raise ValueError(
                        f"macro {name} got too many arguments")
                for p, a in zip(free, positional):
                    bound[p] = a
                missing = [p for p in params if p not in bound]
                if missing:
                    raise ValueError(
                        f"macro {name} missing argument(s) {missing}")
                # substitute all params in ONE simultaneous pass over
                # the literal-masked body: masking keeps a body string
                # literal containing a param-name word intact, and the
                # single pass keeps an ARGUMENT containing another
                # param's name (as literal text or a column reference)
                # from being re-substituted
                expansion = body
                if params:
                    ppat = re.compile("|".join(
                        rf"\b{re.escape(p)}\b"
                        for p in sorted(params, key=len, reverse=True)))
                    masked_body = _mask_literals(body)
                    parts, last = [], 0
                    for pm in ppat.finditer(masked_body):
                        parts.append(body[last:pm.start()])
                        parts.append(f"({bound[body[pm.start():pm.end()]]})")
                        last = pm.end()
                    parts.append(body[last:])
                    expansion = "".join(parts)
                sql = f"{sql[:m.start()]}({expansion}){sql[i:]}"
                pos = m.start() + 1
                replaced = True
        if not replaced:
            return sql
    raise ValueError("macro expansion exceeded max depth (cycle?)")


_ASOF_RE = re.compile(
    r"\bASOF\s+(LEFT\s+)?JOIN\s+([A-Za-z_][\w.]*)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?\s+ON\b",
    re.IGNORECASE,
)
_ASOF_INEQ_RE = re.compile(r"(<=|>=|<|>)")


def rewrite_asof_join(sql: str) -> str:
    """DuckDB's ``ASOF [LEFT] JOIN`` → a correlated LATERAL LIMIT-1
    subquery (reference: DuckDB asof join docs; the engine-level
    operator sibling is operators/events.events_asof_join).

    ``a ASOF JOIN b ON a.k = b.k AND a.ts >= b.ts`` picks, per left
    row, the single b row with the greatest b.ts satisfying the
    inequality (least for a flipped comparator). Spark decorrelates
    the LATERAL LIMIT 1 into a hash join + per-key top-1 — no
    nested-loop join. Scope: one ASOF join per statement, plain-table
    right side, conjunctive ON with exactly one inequality."""
    masked = _mask_literals(sql)
    m = _ASOF_RE.search(masked)
    if m is None:
        return sql
    # the ON condition runs to the next clause keyword at the SAME
    # paren depth, or to the first unmatched ')' — an ASOF JOIN inside
    # a subquery/CTE must not swallow the subquery's closing paren and
    # the outer statement into its condition
    cond_start = m.end()
    end = len(sql)
    kw_re = re.compile(
        r"\b(WHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY|LIMIT"
        r"|UNION|INTERSECT|EXCEPT|JOIN|LEFT|RIGHT|FULL|INNER|CROSS)\b",
        re.IGNORECASE)
    depth, i = 0, cond_start
    while i < len(masked):
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                end = i
                break
            depth -= 1
        elif depth == 0 and kw_re.match(masked, i):
            end = i
            break
        i += 1
    cond = sql[cond_start:end].strip()
    suffix = sql[end:]
    is_left = bool(m.group(1))
    rtbl = m.group(2)
    # a schema-qualified right table with no explicit alias cannot be
    # reused as the subquery alias (") sch.tbl" is invalid) — alias to
    # its last path component, which is also how the ON condition
    # typically references it
    ralias = m.group(3) or rtbl.split(".")[-1]

    # locate the single inequality term and its right-side ts column
    terms = re.split(r"\bAND\b", cond, flags=re.IGNORECASE)
    ineq_col, ineq_desc = None, True
    for t in terms:
        mm = _ASOF_INEQ_RE.search(t)
        if not mm:
            continue
        op = mm.group(1)
        lhs, rhs = t[:mm.start()].strip(), t[mm.end():].strip()
        r_pref = f"{ralias}."
        if lhs.lower().startswith(r_pref.lower()):
            ineq_col = lhs[len(r_pref):]
            ineq_desc = op in ("<", "<=")
        elif rhs.lower().startswith(r_pref.lower()):
            ineq_col = rhs[len(r_pref):]
            ineq_desc = op in (">", ">=")
        else:
            raise ValueError(
                "ASOF JOIN inequality must reference the right table")
        break
    if ineq_col is None:
        raise ValueError("ASOF JOIN requires an inequality in ON")
    cond_inner = re.sub(
        rf"\b{re.escape(ralias)}\.", "__asof_r.", cond,
        flags=re.IGNORECASE)
    if rtbl != ralias:
        cond_inner = re.sub(
            rf"\b{re.escape(rtbl)}\.", "__asof_r.", cond_inner,
            flags=re.IGNORECASE)
    direction = "DESC" if ineq_desc else "ASC"
    sub = (
        f"(SELECT * FROM {rtbl} __asof_r WHERE {cond_inner}"
        f" ORDER BY __asof_r.{ineq_col} {direction} LIMIT 1) {ralias}"
    )
    joiner = (
        f"LEFT JOIN LATERAL {sub} ON true" if is_left
        else f"JOIN LATERAL {sub}"
    )
    return f"{sql[:m.start()]}{joiner} {suffix}".rstrip()


def rewrite_qualify(sql: str) -> str:
    """DuckDB's QUALIFY clause → standard Spark SQL (SURVEY §7 hard
    part 6: dialect permissiveness). The window predicate moves into
    the select list as ``__qualify`` and an outer
    ``SELECT * EXCEPT (__qualify) … WHERE __qualify`` filters on it —
    semantically QUALIFY exactly (filter after windows).

    Handles the common single-SELECT shape; statements without a
    top-level QUALIFY pass through untouched."""
    masked = _mask_literals(sql)
    q_idx = _find_top_level(masked, "QUALIFY")
    if q_idx is None:
        return sql
    end = len(sql)
    for kw in ("ORDER\\s+BY", "LIMIT"):
        j = _find_top_level(masked, kw, q_idx + 7)
        if j is not None and j < end:
            end = j
    pred = sql[q_idx + len("QUALIFY"):end].strip()
    suffix = sql[end:]
    head = sql[:q_idx].rstrip()
    from_idx = _find_top_level(_mask_literals(head), "FROM")
    if from_idx is None:
        return sql
    inner = f"{head[:from_idx].rstrip()}, ({pred}) AS __qualify {head[from_idx:]}"
    return (
        f"SELECT * EXCEPT (__qualify) FROM ({inner}) __qualify_q"
        f" WHERE __qualify {suffix}"
    )


_COLUMNS_FN_RE = re.compile(r"COLUMNS\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE)
_FROM_TABLE_RE = re.compile(r"\bFROM\s+([A-Za-z_][\w.]*)", re.IGNORECASE)


def rewrite_columns(sql: str, spark) -> str:
    """DuckDB's ``COLUMNS('regex')`` star-expression → the expanded
    column list, resolved against the statement's FROM table (DuckDB
    star_expression.cpp semantics: regex SEARCH over column names, in
    table order). Scope: standalone select-list uses over a named
    single FROM target; function-wrapped expansion (``min(COLUMNS(…))``
    fans the call out per column in DuckDB) is not rewritten —
    documented dialect subset."""
    m = _COLUMNS_FN_RE.search(sql)
    if m is None:
        return sql
    frm = _FROM_TABLE_RE.search(_mask_literals(sql))
    if frm is None:
        raise ValueError("COLUMNS() requires a named FROM table")
    cols = [f.name for f in spark.table(frm.group(1)).schema.fields]
    while m is not None:
        matched = [c for c in cols if re.search(m.group(1), c)]
        if not matched:
            raise ValueError(
                f"COLUMNS({m.group(1)!r}) matched no columns of"
                f" {frm.group(1)}")
        sql = sql[:m.start()] + ", ".join(matched) + sql[m.end():]
        m = _COLUMNS_FN_RE.search(sql)
    return sql


_STAR_REPLACE_RE = re.compile(
    r"\*\s*REPLACE\s*\(([^()]*(?:\([^()]*\)[^()]*)*)\)", re.IGNORECASE)


def star_replace_items(sql: str) -> str:
    """``sql`` with each ``* REPLACE (items)`` read as ``*, items``: the
    same relations and expressions, in a form Spark's parser reads."""
    return _STAR_REPLACE_RE.sub(lambda m: "*, " + m.group(1), sql)


def rewrite_star_replace(sql: str, spark) -> str:
    """DuckDB's ``SELECT * REPLACE (expr AS col, …)`` → the full
    column list with the named columns substituted by their
    replacement expressions (aliased back to the same name), resolved
    against the FROM table in table order — same scope rules as
    ``rewrite_columns``."""
    m = _STAR_REPLACE_RE.search(sql)
    if m is None:
        return sql
    frm = _FROM_TABLE_RE.search(_mask_literals(sql))
    if frm is None:
        raise ValueError("* REPLACE requires a named FROM table")
    cols = [f.name for f in spark.table(frm.group(1)).schema.fields]
    while m is not None:
        repl: dict[str, str] = {}
        for part in _split_top_level_commas(m.group(1)):
            mm = re.match(r"(?s)^\s*(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$",
                          part, re.IGNORECASE)
            if mm is None:
                raise ValueError(f"bad * REPLACE item: {part!r}")
            repl[mm.group(2).lower()] = mm.group(1)
        unknown = set(repl) - {c.lower() for c in cols}
        if unknown:
            raise ValueError(
                f"* REPLACE names unknown column(s) {sorted(unknown)}")
        items = [
            f"{repl[c.lower()]} AS {c}" if c.lower() in repl else c
            for c in cols
        ]
        sql = sql[:m.start()] + ", ".join(items) + sql[m.end():]
        m = _STAR_REPLACE_RE.search(sql)
    return sql


def _split_top_level_commas(s: str) -> list[str]:
    out, depth, cur, quote = [], 0, [], None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


_ORDER_BY_ALL_RE = re.compile(
    r"\bORDER\s+BY\s+ALL\b(\s+(?:ASC|DESC))?", re.IGNORECASE)


def rewrite_order_by_all(sql: str, spark) -> str:
    """DuckDB's ``ORDER BY ALL [ASC|DESC]`` → explicit ordinals
    1..n over the select list. n comes from counting top-level
    select-list items; a bare ``*``/``t.*`` item falls back to the
    FROM table's schema width."""
    masked = _mask_literals(sql)
    m = _ORDER_BY_ALL_RE.search(masked)
    if m is None:
        return sql
    sel = _find_top_level(masked, "SELECT")
    frm = _find_top_level(masked, "FROM")
    if sel is None or frm is None:
        return sql
    items = _split_top_level_commas(masked[sel + len("SELECT"):frm])
    n = 0
    for it in items:
        it = it.strip()
        if it.removeprefix("DISTINCT").strip() in ("*",) or \
                re.fullmatch(r"[A-Za-z_]\w*\.\*", it):
            t = _FROM_TABLE_RE.search(masked)
            if t is None:
                raise ValueError("ORDER BY ALL with * needs a table")
            n += len(spark.table(t.group(1)).schema.fields)
        elif it:
            n += 1
    direction = m.group(1) or ""
    ordinals = ", ".join(f"{i + 1}{direction}" for i in range(n))
    return sql[:m.start()] + f"ORDER BY {ordinals}" + sql[m.end():]


_EXCLUDE_RE = re.compile(
    r"(\*\s*)EXCLUDE\s*(\(([^)]*)\)|([A-Za-z_][\w]*))", re.IGNORECASE
)


def rewrite_exclude(sql: str) -> str:
    """DuckDB's ``SELECT * EXCLUDE (cols)`` → Spark's
    ``SELECT * EXCEPT (cols)`` (both paren and bare single-column
    forms)."""
    def _sub(m: re.Match) -> str:
        cols = m.group(3) if m.group(3) is not None else m.group(4)
        return f"{m.group(1)}EXCEPT ({cols})"

    return _EXCLUDE_RE.sub(_sub, sql)


_DISTINCT_ON_RE = re.compile(
    r"^(\s*SELECT\s+)DISTINCT\s+ON\s*\(", re.IGNORECASE
)


def rewrite_distinct_on(sql: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) …`` → a ranked
    window: one row per key group, ordered by the statement's ORDER BY
    (falling back to the keys themselves). Spark has no DISTINCT ON;
    the rewrite is the standard row_number() formulation."""
    m = _DISTINCT_ON_RE.match(sql)
    if not m:
        return sql
    masked = _mask_literals(sql)
    # extract the paren-balanced key list
    start = masked.index("(", m.end(1))
    depth, i = 0, start
    while i < len(masked):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    keys = sql[start + 1:i]
    rest = sql[i + 1:]
    rest_masked = masked[i + 1:]
    ob = _find_top_level(rest_masked, r"ORDER\s+BY")
    if ob is not None:
        body, order_clause = rest[:ob], rest[ob:]
        order_exprs = re.sub(r"^ORDER\s+BY\s+", "", order_clause.strip(),
                             flags=re.IGNORECASE).rstrip(";")
    else:
        body, order_clause = rest, ""
        order_exprs = keys
    from_idx = _find_top_level(_mask_literals(body), "FROM")
    if from_idx is None:
        return sql
    inner = (
        f"SELECT {body[:from_idx].strip()},"
        f" row_number() OVER (PARTITION BY {keys} ORDER BY {order_exprs})"
        f" AS __don_rn {body[from_idx:]}"
    )
    return (
        f"SELECT * EXCEPT (__don_rn) FROM ({inner}) __don_q"
        f" WHERE __don_rn = 1 {order_clause}"
    )


# --- SUMMARIZE / PRAGMA (DuckDB statement classes the reference
# serves via pass-through; admin_command_guard.cpp:372-380 shows
# PRAGMA handling, e.g. IMPORT DATABASE parses as a PRAGMA) ----------

_SUMMARIZE_RE = re.compile(
    r"^\s*SUMMARIZE\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL)
_PRAGMA_RE = re.compile(
    r"^\s*PRAGMA\s+(\w+)\s*(?:\(\s*'([^']*)'\s*\))?\s*;?\s*$",
    re.IGNORECASE)


def parse_summarize(sql: str) -> str | None:
    """SUMMARIZE <table | SELECT …> → the summarized target."""
    m = _SUMMARIZE_RE.match(sql)
    return m.group(1) if m else None


def parse_pragma(sql: str) -> tuple[str, str | None] | None:
    """PRAGMA name[('arg')] → (name, arg)."""
    m = _PRAGMA_RE.match(sql)
    return (m.group(1).lower(), m.group(2)) if m else None


# --- time travel (DuckLake AT (VERSION => n) analog) ----------------

_VERSION_AS_OF_RE = re.compile(
    r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+VERSION\s+AS\s+OF\s+(\d+)"
    r"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
    re.IGNORECASE)

_TIMESTAMP_AS_OF_RE = re.compile(
    r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+TIMESTAMP\s+AS\s+OF\s+"
    r"'([^']+)'"
    r"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
    re.IGNORECASE)

_TT_RESERVED = {"WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "JOIN",
                "ON", "UNION", "INTERSECT", "EXCEPT", "QUALIFY",
                "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "USING",
                "WINDOW", "VALUES", "SELECT"}


def extract_time_travel(
    sql: str,
) -> tuple[str, list[tuple[str, str, int | str]]]:
    """Rewrite ``FROM t VERSION AS OF n [alias]`` and Delta-style
    ``FROM t TIMESTAMP AS OF 'ts' [alias]`` to versioned temp views;
    returns (sql, [(view, table, spec)]) where spec is the int
    version or the timestamp string (the engine resolves it against
    the snapshot archive's commit times)."""
    found: list[tuple[str, str, int | str]] = []

    def _mk_sub(kind: str):
        def _sub(m: re.Match) -> str:
            kw, table, spec, alias = m.groups()
            if kind == "version":
                view = f"{table}__v{spec}"
                found.append((view, table, int(spec)))
            else:
                import hashlib

                digest = hashlib.md5(spec.encode()).hexdigest()[:8]
                view = f"{table}__ts{digest}"
                found.append((view, table, spec))
            if alias and alias.upper() in _TT_RESERVED:
                # not an alias — keep the keyword, bind the original name
                return f"{kw} {view} {table} {alias}"
            return f"{kw} {view} {alias or table}"

        return _sub

    sql = _VERSION_AS_OF_RE.sub(_mk_sub("version"), sql)
    sql = _TIMESTAMP_AS_OF_RE.sub(_mk_sub("timestamp"), sql)
    return sql, found
