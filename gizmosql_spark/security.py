"""Statement classification and the gates that read it.

Re-expresses the reference's parser-based admin gate
(src/duckdb/admin_command_guard.cpp: entry :393-409,
classification :282-389, remote schemes :68-76, gated functions
:107-120, dangerous settings :129-144), the readonly-role write block
(duckdb_statement.cpp:1080-1094) and the catalog ACL over the prepared
statement's read and modified databases (:1052-1077). The reference
walks DuckDB's parse tree; here :func:`classify` walks the plan Spark's
own parser builds for the statement, once, and every gate reads that
one :class:`Statement`: its kind, the tables and views it writes, the
relations it reads, the files it names by path and why only an admin
may run it. The engine's own commands, which Spark cannot parse, are
classified by their row of the engine's command table
(``Engine._COMMANDS``); no gate reads the statement's text.
"""

from __future__ import annotations

import fnmatch
import json
import re
from dataclasses import dataclass

#: remote schemes allowed for non-admin reads (admin_command_guard.cpp:68-76)
REMOTE_SCHEMES = (
    "s3://", "s3a://", "s3n://", "gs://", "gcs://", "r2://",
    "az://", "azure://", "abfs://", "abfss://",
    "http://", "https://", "hf://",
)

DEFAULT_CATALOG = "spark_catalog"


class CommandDenied(PermissionError):
    pass


# --- classification ----------------------------------------------------

#: kinds, in the order a statement takes the greatest of its nodes':
#: a query; a command that only reads metadata (prepare runs it for its
#: schema); a command that changes only this session (SET, USE, a temp
#: view) or runs a query to report on it; anything else is a write
KINDS = ("query", "describe", "command", "write")


@dataclass(frozen=True)
class Statement:
    """What one statement does, as the gates read it."""

    kind: str
    #: name parts of each table or view the statement writes
    writes: tuple[tuple[str, ...], ...] = ()
    #: name parts of each relation, namespace or object it reads
    reads: tuple[tuple[str, ...], ...] = ()
    #: files and directories it reads or writes by path
    paths: tuple[str, ...] = ()
    #: why only an admin may run it (None: any role may)
    admin: str | None = None
    #: it names an object the plan does not show exactly (IDENTIFIER(),
    #: EXECUTE IMMEDIATE, a quoted name holding ", " or brackets)
    opaque: bool = False
    #: the plan's root node below a WITH list ("" for engine commands)
    root: str = ""
    #: name parts of the view it creates or replaces, temp views too
    view: tuple[str, ...] = ()

    def merge(self, other: Statement) -> Statement:
        """Both statements' effects, as one statement has them."""
        return Statement(
            max(self.kind, other.kind, key=KINDS.index),
            self.writes + other.writes, self.reads + other.reads,
            self.paths + other.paths, self.admin or other.admin,
            self.opaque or other.opaque, self.root or other.root,
            self.view or other.view)


#: nodes a query plan is built of, and leaves that only name an object
_QUERY_NODES = frozenset("""
    Project Filter Join Aggregate Sort GlobalLimit LocalLimit Offset Tail
    Union Intersect Except Distinct Deduplicate SubqueryAlias
    UnresolvedRelation UnresolvedWith OneRowRelation LocalRelation
    UnresolvedInlineTable Window WithWindowDefinition Generate Expand
    Sample Pivot Unpivot UnresolvedTableValuedFunction UnresolvedTVFAliases
    UnresolvedSubqueryColumnAliases UnresolvedHaving UnresolvedHint
    RepartitionByExpression Repartition RebalancePartitions LateralJoin
    RelationTimeTravel PipeOperator Range UnresolvedTable
    UnresolvedTableOrView UnresolvedView UnresolvedNamespace
    UnresolvedFunctionName UnresolvedIdentifier CurrentNamespace$""".split())
#: unresolved expressions (every other expression class lives in
#: ``catalyst.expressions``)
_EXPRESSIONS = frozenset("""
    UnresolvedAttribute UnresolvedStar UnresolvedFunction UnresolvedAlias
    UnresolvedExtractValue UnresolvedOrdinal UnresolvedRegex
    UnresolvedGenerator UnresolvedSeed UnresolvedFieldName
    UnresolvedFieldPosition PosParameter NamedParameter""".split())
_EXPRESSION_PKG = "org.apache.spark.sql.catalyst.expressions."
#: commands that only read metadata
_DESCRIBE_NODES = frozenset("""
    ShowTables ShowTableExtended ShowViews ShowNamespaces ShowCatalogsCommand
    ShowColumns ShowPartitions ShowCreateTable ShowTableProperties
    ShowFunctions ShowCurrentNamespaceCommand DescribeRelation
    DescribeColumn DescribeNamespace DescribeFunction DescribeQueryCommand
    ExplainCommand ListFilesCommand ListJarsCommand
    ListArchivesCommand""".split())
#: commands that change only the session (a temp view: below)
_COMMAND_NODES = frozenset("""
    SetCommand ResetCommand SetCatalogAndNamespace SetCatalogCommand
    SetNamespaceCommand""".split())
#: write nodes → the field that holds the written table or view
_TARGET_FIELDS = {
    **dict.fromkeys("""InsertIntoStatement UpdateTable DeleteFromTable
        TruncateTable AddColumns ReplaceColumns DropColumns RenameColumn
        AlterColumns SetTableProperties UnsetTableProperties""".split(),
                    "table"),
    **dict.fromkeys("""CreateTable CreateTableAsSelect ReplaceTable
        ReplaceTableAsSelect""".split(), "name"),
    **dict.fromkeys("""DropTable RenameTable CreateView DropView AlterViewAs
        LoadData""".split(), "child"),
    "MergeIntoTable": "targetTable",
}
#: writes whose target the statement reads as well (DuckDB binds the
#: target of UPDATE, DELETE and MERGE as a table reference)
_READ_TARGET = frozenset({"UpdateTable", "DeleteFromTable", "MergeIntoTable"})
#: nodes only an admin may run: they load code, run a program or write
#: the server's files (admin_command_guard.cpp:206-212, 315-319)
_ADMIN_NODES = {
    "AddJarsCommand": "ADD JAR", "AddFilesCommand": "ADD FILE",
    "AddArchivesCommand": "ADD ARCHIVE",
    "ScriptTransformation": "TRANSFORM USING",
    "InsertIntoDir": "INSERT OVERWRITE DIRECTORY",
}
#: functions only an admin may call: they call any static Java method
#: (``java.lang.System.exit`` included)
_ADMIN_FUNCTIONS = frozenset({"reflect", "java_method", "try_reflect"})
#: DuckDB file functions no rewrite took (admin_command_guard.cpp:
#: 107-120): their first argument is the path they read
_FILE_FUNCTIONS = frozenset("""glob sniff_csv read_blob parquet_metadata
    parquet_schema read_parquet parquet_scan read_csv read_csv_auto read_json
    read_json_auto read_ndjson read_ndjson_auto read_text""".split())
#: DuckDB settings only an admin may change (admin_command_guard.cpp:
#: 129-144)
_ADMIN_SETTINGS = frozenset("""memory_limit threads temp_directory
    extension_directory allow_unsigned_extensions
    enable_external_access""".split())
#: first parts of ``fmt.`path``` relations Spark reads as files (any
#: dotted first part names a data source class)
_DATA_SOURCES = frozenset("""parquet csv json orc text avro binaryfile xml
    jdbc libsvm image delta iceberg hive noop""".split())
#: Spark's lexer tokens that can hold a backquote: a comment (not a
#: ``/*+`` hint), a string literal (a raw ``r'…'`` takes no escapes)
#: and a quoted name. A nested comment ends early here, which only
#: shows more names.
_QUOTED_RE = re.compile(r"""--(?:\\\n|[^\r\n])*|/\*(?!\+).*?\*/
    |(?<!\w)[rR](?:'[^']*'|"[^"]*")|'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"
    |`(?:[^`]|``)*`""", re.X | re.S)
#: what a name part must not hold for the plan's JSON (which renders
#: ``[a, b]``) to show it exactly
_AMBIGUOUS_PART_RE = re.compile(r", |[\[\]]")


def _parts(rendered: str) -> tuple[str, ...]:
    """``"[cat, db, t]"`` (a Seq[String] as toJSON renders it) → parts."""
    return tuple(rendered[1:-1].split(", "))


def _table_ident(ident: dict) -> tuple[str, ...]:
    """A TableIdentifier field (``{"catalog", "database", "table"}``)
    → name parts."""
    return tuple(ident[k] for k in ("catalog", "database", "table")
                 if ident.get(k))


def _tree(nodes: list, i: int = 0) -> tuple[tuple, int]:
    """``((node, children), next)`` of the pre-order node list from ``i``."""
    node, i = nodes[i], i + 1
    kids = []
    for _ in range(node["num-children"]):
        kid, i = _tree(nodes, i)
        kids.append(kid)
    return (node, kids), i


def _nested(value):
    """Node lists nested in a field value (expressions, subquery plans,
    a CTE's definition)."""
    if isinstance(value, list):
        if value and isinstance(value[0], dict) and "class" in value[0]:
            yield value
        else:
            for v in value:
                yield from _nested(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _nested(v)


class _Walk:
    """One pass over a parsed plan, subquery plans included."""

    def __init__(self):
        self.kind = 0
        self.writes: list[tuple[str, ...]] = []
        self.reads: list[tuple[str, ...]] = []
        self.paths: list[str] = []
        self.admin: str | None = None
        self.opaque = False
        self.view: tuple[str, ...] = ()

    def plan(self, nodes: list, ctes: frozenset) -> None:
        self.visit(_tree(nodes)[0], ctes)

    def field(self, tree, name: str):
        """The subtree a node field holds: a child index or a node list."""
        node, kids = tree
        value = node.get(name)
        if isinstance(value, int) and not isinstance(value, bool):
            return kids[value]
        if isinstance(value, list) and value and isinstance(value[0], dict):
            return _tree(value)[0]
        return None

    def target(self, tree) -> tuple[str, ...] | None:
        node = tree[0] if tree is not None else {}
        parts = node.get("multipartIdentifier") or node.get("nameParts")
        if isinstance(parts, str):
            return _parts(parts)
        self.opaque = True
        return None

    def visit(self, tree, ctes: frozenset) -> None:
        node, kids = tree
        cls = node["class"]
        name = cls.rsplit(".", 1)[-1]
        kind, skip = 0, None
        if name == "UnresolvedWith":
            # a CTE's name is in scope after its definition (and in it,
            # for a recursive one, where reading the name as a table
            # only denies more)
            for rel in node["cteRelations"]:
                self.plan(rel["_2"], ctes)
                ctes = ctes | {rel["_1"].lower()}
            for kid in kids:
                self.visit(kid, ctes)
            return
        if name == "UnresolvedRelation":
            parts = _parts(node["multipartIdentifier"])
            if len(parts) == 2 and (parts[0].lower() in _DATA_SOURCES
                                    or "." in parts[0]):
                self.paths.append(parts[1])
            elif not (len(parts) == 1 and parts[0].lower() in ctes):
                self.reads.append(parts)
        elif name in ("UnresolvedTable", "UnresolvedTableOrView",
                      "UnresolvedView"):
            self.reads.append(_parts(node["multipartIdentifier"]))
        elif name == "UnresolvedNamespace":
            self.reads.append(_parts(node["multipartIdentifier"]) + ("*",))
        elif name in _TARGET_FIELDS:
            kind = 3
            skip = self.field(tree, _TARGET_FIELDS[name])
            target = self.target(skip)
            if target is not None:
                self.writes.append(target)
                if name in ("CreateView", "AlterViewAs"):
                    self.view = target
                if name in _READ_TARGET:
                    self.reads.append(target)
            if name == "RenameTable":
                self.writes.append(_parts(node["newName"]))
            if name == "LoadData":
                self.paths.append(node["path"])
        elif name == "CreateViewCommand":
            temp = node["viewType"]["object"].rsplit(".", 1)[-1]
            self.view = (("global_temp", node["name"]["table"])
                         if temp == "GlobalTempView$"
                         else _table_ident(node["name"]))
            if temp == "LocalTempView$":
                kind = 2
            else:
                kind = 3
                self.writes.append(self.view)
        elif name == "CreateTableLikeCommand":
            kind = 3
            self.writes.append(_table_ident(node["targetTable"]))
            self.reads.append(_table_ident(node["sourceTable"]))
        elif name == "UnresolvedTableSpec":
            if node.get("location"):
                self.paths.append(node["location"])
        elif name in _ADMIN_NODES:
            kind, self.admin = 3, _ADMIN_NODES[name]
        elif name in ("UnresolvedFunction", "UnresolvedTableValuedFunction"):
            fn = _parts(node.get("nameParts") or node["name"])[-1].lower()
            args = ([kid[0] for kid in kids] if name == "UnresolvedFunction"
                    else [arg[0] for arg in node["functionArgs"]])
            if fn in _ADMIN_FUNCTIONS:
                self.admin = f"{fn}()"
            elif fn in _FILE_FUNCTIONS:
                if args and args[0]["class"].endswith(".Literal") \
                        and args[0].get("dataType") == "string":
                    self.paths.append(args[0]["value"])
                else:  # a path the plan does not show
                    self.admin = f"{fn}()"
        elif name in ("CreateFunction", "CreateFunctionCommand"):
            kind = 3
            if node.get("resources"):
                self.admin = "CREATE FUNCTION ... USING"
        elif name in _DESCRIBE_NODES:
            kind = 1
        elif name in _COMMAND_NODES:
            kind = 2
        elif not (name in _QUERY_NODES or name in _EXPRESSIONS
                  or cls.startswith(_EXPRESSION_PKG)):
            # fail closed: an unknown node is a write (its target, when
            # the plan does not name one, is the current catalog)
            kind = 3
            if name in ("UnresolvedExecuteImmediate",
                        "PlanWithUnresolvedIdentifier"):
                self.opaque = True
        self.kind = max(self.kind, kind)
        for kid in kids:
            if kid is not skip:
                self.visit(kid, ctes)
        for key, value in node.items():
            if key in ("class", "num-children"):
                continue
            for nodes in _nested(value):
                if skip is not None and nodes and nodes[0] is skip[0]:
                    continue
                self.plan(nodes, ctes)


def _ambiguous_names(spark, sql: str) -> bool:
    """Whether a quoted name part in ``sql`` holds ``", "`` or a
    bracket (a ``"…"`` token is a name only under
    ``spark.sql.ansi.doubleQuotedIdentifiers``)."""
    for m in _QUOTED_RE.finditer(sql):
        tok = m.group()
        if tok[0] in "`\"" and _AMBIGUOUS_PART_RE.search(tok, 1, len(tok) - 1) \
                and (tok[0] == "`" or spark.conf.get(
                    "spark.sql.ansi.doubleQuotedIdentifiers") == "true"):
            return True
    return False


def classify(spark, sql: str) -> Statement:
    """Classify ``sql`` from the plan the session's parser builds for
    it (no analysis, no job): its kind, the tables and views it writes,
    the relations it reads and the paths it names. A text the parser
    rejects raises the ``ParseException`` ``spark.sql`` would."""
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    nodes = json.loads(plan.toJSON())
    walk = _Walk()
    walk.plan(nodes, frozenset())
    root = nodes[0]["class"]
    if root.endswith(".SetCommand") and plan.kv().isDefined():
        key = plan.kv().get()._1()
        if key.lower() in _ADMIN_SETTINGS:
            walk.admin = f"SET {key}"
    if root.endswith(".UnresolvedWith"):  # its child follows it
        root = nodes[1]["class"]
    return Statement(
        KINDS[walk.kind], tuple(walk.writes), tuple(walk.reads),
        tuple(walk.paths), walk.admin,
        walk.opaque or _ambiguous_names(spark, sql),
        root.rsplit(".", 1)[-1], walk.view)


# --- the gates ---------------------------------------------------------


def _is_remote(path: str) -> bool:
    p = path.lower()
    return any(p.startswith(s) for s in REMOTE_SCHEMES)


def check_admin_gate(stmt: Statement, is_admin: bool) -> None:
    """Raise CommandDenied if a non-admin may not run the classified
    statement (ClassifyStatement, admin_command_guard.cpp:282-389): an
    admin-only command or setting, a call that loads code or runs a
    program, or a local path it names (a file scan, a data-source
    relation, a table LOCATION, LOAD DATA, COPY, a ``pipeline_op``
    dir). Remote object-store paths pass (the reference's proven-remote
    rule)."""
    if is_admin:
        return
    if stmt.admin is not None:
        raise CommandDenied(f"statement requires admin role: {stmt.admin}")
    for path in stmt.paths:
        if not _is_remote(path):
            raise CommandDenied(
                f"local filesystem access requires admin role: {path!r}")


def check_readonly(stmt: Statement, role: str) -> None:
    """Reject writes for the readonly role
    (duckdb_statement.cpp:1080-1094). A statement is a write unless
    every node of its plan is a query, describe or session node, so a
    write behind comments, a WITH list or a FROM clause is a write.
    TEMP VIEW creation is allowed (session-local, like DuckDB temp
    schema writes)."""
    if role == "readonly" and stmt.kind == "write":
        raise CommandDenied(
            f"readonly role may not execute {stmt.root or 'this statement'}")


# --- catalog permissions (Enterprise tier) ---------------------------
#
# The reference checks the prepared statement's read_databases /
# modified_databases property sets against per-catalog ACLs carried in
# JWT claims, with wildcard patterns (catalog_permissions_handler.cpp;
# check sites duckdb_statement.cpp:1052-1077). Here they are the
# classified statement's reads and writes, each name resolved to its
# catalog as Spark resolves it, checked against fnmatch-style
# patterns. None = unrestricted (the non-Enterprise default).


def catalog_allowed(patterns: list[str] | None, catalog: str) -> bool:
    if patterns is None:
        return True
    return any(fnmatch.fnmatchcase(catalog.lower(), p.lower()) for p in patterns)


def _catalog_of(parts: tuple[str, ...], current: str,
                is_catalog) -> str | None:
    """The catalog a name resolves to (Spark's CatalogAndIdentifier):
    a first part that names a catalog, else the current catalog; None
    for a global temp view."""
    if len(parts) < 2:
        return current
    if parts[0].lower() == "global_temp":
        return None
    if len(parts) > 2 or is_catalog(parts[0]):
        return parts[0]
    return current


def check_catalog_access(
    stmt: Statement,
    read_catalogs: list[str] | None,
    write_catalogs: list[str] | None,
    current_catalog: str = DEFAULT_CATALOG,
    is_catalog=lambda name: name.lower() == DEFAULT_CATALOG,
) -> None:
    """Raise CommandDenied when the statement touches a catalog outside
    the session's ACL: every relation it reads (none: the current
    catalog) must be readable and every table or view it writes
    writable (a write that names no target: the current catalog).
    ``is_catalog(name)`` tells whether a two-part name's
    first part is a catalog. A name the plan does not show exactly is
    denied to a restricted session."""
    if read_catalogs is None and write_catalogs is None:
        return
    if stmt.opaque:
        raise CommandDenied(
            "statement names objects the catalog ACL cannot read exactly")
    for parts in stmt.reads or ((),):
        cat = _catalog_of(parts, current_catalog, is_catalog)
        if cat is not None and not catalog_allowed(read_catalogs, cat):
            raise CommandDenied(f"catalog not readable by this session: {cat}")
    for parts in stmt.writes or (((),) if stmt.kind == "write" else ()):
        cat = _catalog_of(parts, current_catalog, is_catalog)
        if cat is not None and not catalog_allowed(write_catalogs, cat):
            raise CommandDenied(
                f"catalog not writable by this session: {cat}")
