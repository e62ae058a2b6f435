"""Engine/session facade — the service layer over SparkSession.

Re-expresses the reference's Flight SQL server surface (SURVEY §2A,
§3.1-3.3) Spark-first:

- sessions = ``SparkSession.newSession()`` clones (temp-view + conf
  isolation ≈ per-connection DuckDB state, session_context.h:64-113)
- statement lifecycle = job tags + watchdog timeout + cancel
  (duckdb_statement.cpp:2042-2192 → ``cancelJobGroup``)
- prepared statements = Spark parameterized SQL
  (duckdb_server.cpp:1354-1513 → ``spark.sql(q, args=...)``)
- bulk ingest modes create/append/replace (duckdb_server.cpp:1804-1985
  → ``df.write.mode(...).saveAsTable``; append aligns columns by name,
  the reference's ``INSERT INTO ... BY NAME``)
- settings registry, admission FIFO, admin/readonly gates, graceful
  drain, kill-session, health check (SURVEY §2A rows)

Schema-before-execution comes free from the analyzed plan
(``spark.sql(q).schema`` triggers no job), matching the reference's
prepare-only pass (duckdb_statement.cpp:2456-2467).
"""

from __future__ import annotations

import os
import re
import threading
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Any, Callable

import pyarrow as pa
from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gizmosql_spark import dml, maintenance, security
from gizmosql_spark.admission import AdmissionController
from gizmosql_spark.dialect import (
    extract_file_scans,
    extract_flight_scans,
    parse_attach_flight,
    parse_create_macro,
    parse_detach,
    parse_drop_macro,
    parse_pragma,
    parse_pivot,
    parse_summarize,
    pivot_source,
    replace_pseudo_functions,
    rewrite_settings_function,
    split_statements,
    upsert_parts,
)
from gizmosql_spark.querylog import QueryLog
from gizmosql_spark.secrets import parse_secret_ddl
from gizmosql_spark.security import Statement
from gizmosql_spark.session import get_spark
from gizmosql_spark import session_cache
from gizmosql_spark.session_cache import SessionLRU
from gizmosql_spark.sources.registry import parse_copy
from gizmosql_spark.settings import (
    SETTINGS_SCHEMA,
    SettingsState,
    settings_rows,
)
from gizmosql_spark.system_catalog import (
    SystemCatalog,
    check_system_catalog_write,
)
from gizmosql_spark.types import widen_for_spark
from gizmosql_spark.warehouse import (
    WarehouseCatalog,
    drop_cached_relation,
    table_metadata,
    warehouse_dir,
)

__version__ = "0.1.0"


class SessionClosed(RuntimeError):
    pass


class ServerDraining(RuntimeError):
    """Retriable UNAVAILABLE analog (duckdb_server.cpp:806-818)."""


class StatementTimeout(RuntimeError):
    pass


class StatementCancelled(RuntimeError):
    pass


@dataclass
class PreparedStatement:
    handle: str
    sql: str  # as sent, markers included
    #: StructType (empty for a parameterless statement prepare did not
    #: analyze); None for one with markers until its first execution
    schema: Any
    parameter_names: list[str]
    #: True when the statement uses JDBC/ADBC-style positional `?`
    #: markers (the form stock Flight SQL clients send) rather than
    #: named :params; a batch of values may then bind in column order.
    positional: bool = False
    #: values last bound to the handle (Flight DoPut), used by an
    #: execution that brings none
    bound: dict[str, Any] | list | None = None

    def args(self, params: dict[str, Any] | list | None
             ) -> dict[str, Any] | None:
        """``params`` (None: the bound values) as Spark's named
        ``args``; None for a statement without markers. The i-th `?`
        binds as ``param_i`` (``_name_positional_params``)."""
        params = self.bound if params is None else params
        if not self.parameter_names:
            return None
        if not self.positional:
            return dict(params or {})
        # A stock client's parameter batch carries arbitrary column
        # names, so bind in column order unless the names cover our
        # synthetic param_i placeholders.
        names = self.parameter_names
        if isinstance(params, dict):
            if set(params) >= set(names):
                return {k: params[k] for k in names}
            params = params.values()
        return dict(zip(names, params or ()))


@dataclass
class StatementResult:
    kind: str  # "query" | "update" | "set" | "kill"
    df: DataFrame | None = None
    affected_rows: int | None = None
    info: dict[str, str] = field(default_factory=dict)
    #: instrumentation key (sql_statements.statement_id)
    statement_id: str | None = None
    #: trace context (telemetry.py; collect spans parent onto these)
    trace_id: str | None = None
    root_span_id: str | None = None
    #: plan cache outcome of a query (``hit``/``miss``/``ineligible``);
    #: None for every other statement
    plan_cache: str | None = None


@dataclass
class Transaction:
    """Session-scoped transaction over managed tables.

    The reference runs BEGIN/COMMIT/ROLLBACK on the per-session DuckDB
    connection (duckdb_server.cpp:1987-2014). Core Spark has no
    multi-statement ACID, so the engine provides rollback by
    snapshotting each managed table the first time the transaction
    writes it (created tables are simply dropped on rollback). On a
    lakehouse deployment the same API maps to Delta/Iceberg snapshots
    instead of table copies (SURVEY §7 hard part 3)."""

    txn_id: str
    #: table -> backup table name, or None when the table did not exist
    backups: dict[str, str | None] = field(default_factory=dict)


@dataclass
class SessionState:
    session_id: str
    role: str
    spark: SparkSession
    settings: SettingsState = field(default_factory=SettingsState)
    prepared: dict[str, PreparedStatement] = field(default_factory=dict)
    txn: Transaction | None = None
    closed: bool = False
    killed: bool = False
    statement_seq: int = 0
    username: str = "anonymous"
    #: catalog ACL patterns from token claims; None = unrestricted
    read_catalogs: list[str] | None = None
    write_catalogs: list[str] | None = None
    #: remote engines attached over Flight: alias -> (uri, user, pw)
    #: (adbc_scanner ATTACH analog)
    attached: dict[str, tuple[str, str | None, str | None]] = field(
        default_factory=dict)
    #: analyzed queries: (rewritten SQL, file scans) -> _Plan
    #: (Engine._cached_plan)
    plans: SessionLRU = field(
        default_factory=lambda: SessionLRU(_PLANS_PER_SESSION))
    #: held while an upload lowers the session's local-relation
    #: threshold (_upload_frame)
    upload_lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def is_admin(self) -> bool:
        return self.role == "admin"


# `::` excluded so DuckDB-style casts (x::int) never read as a param
_PARAM_RE = __import__("re").compile(r"(?<!:):([A-Za-z_][A-Za-z0-9_]*)")


def _mask_sql_literals(sql: str) -> str:
    """Blank out string literals, quoted identifiers, and comments
    (space-preserving, so match offsets survive). Both parameter
    scanners run over the masked text — a positional query containing
    ':word' inside a literal (``WHERE s = 'a:b' AND id = ?``) must not
    be misclassified as named-parameter."""
    out = list(sql)
    i, ln = 0, len(sql)
    while i < ln:
        c = sql[i]
        if c == "'":  # string literal, '' escapes
            i += 1
            while i < ln:
                if sql[i] == "'":
                    if i + 1 < ln and sql[i + 1] == "'":
                        out[i] = out[i + 1] = " "
                        i += 2
                        continue
                    break
                out[i] = " "
                i += 1
        elif c in ('"', "`"):  # quoted identifier
            q = c
            i += 1
            while i < ln and sql[i] != q:
                out[i] = " "
                i += 1
        elif c == "-" and sql[i:i + 2] == "--":
            while i < ln and sql[i] != "\n":
                out[i] = " "
                i += 1
            continue
        elif c == "/" and sql[i:i + 2] == "/*":
            j = sql.find("*/", i + 2)
            end = ln if j < 0 else j + 2
            for k in range(i, end):
                out[k] = " "
            i = end
            continue
        i += 1
    return "".join(out)


def _named_params(sql: str) -> list[str]:
    """Named `:param` markers outside literals/comments, sorted."""
    return sorted(set(_PARAM_RE.findall(_mask_sql_literals(sql))))


def _count_positional_params(sql: str) -> int:
    """Count JDBC/ADBC-style `?` markers outside string literals,
    quoted identifiers, and comments (the form stock Flight SQL
    clients prepare with; the reference inherits it from DuckDB's
    prepared statements)."""
    return _mask_sql_literals(sql).count("?")


def _name_positional_params(sql: str) -> str:
    """``sql`` with the i-th `?` marker (as counted above) renamed
    `:param_i`. A dialect rewrite may copy or reorder the text around a
    marker (a macro body names its parameters in its own order, DISTINCT
    ON repeats its keys); a name binds the right value wherever the
    marker ends up, a position does not."""
    out, n = list(sql), 0
    for i, c in enumerate(_mask_sql_literals(sql)):
        if c == "?":
            n += 1
            out[i] = f":param_{n}"
    return "".join(out)


#: ``Engine.ingest`` mode → ``DataFrameWriter`` save mode (``fail`` is
#: the ADBC name for ``create``).
_INGEST_SAVE_MODES = {"create": "errorifexists", "fail": "errorifexists",
                      "replace": "overwrite", "append": "append"}

#: uploads under this size ``createDataFrame`` decodes on the driver
#: into a LocalRelation (Spark's default: 48 MB); see _upload_frame
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


#: analyzed queries one session keeps; the least recently used is
#: dropped past this
_PLANS_PER_SESSION = 64

#: analyzed-plan leaves a reused plan may read: file and catalog
#: relations, a one-row or inline relation, range()
_REUSABLE_LEAVES = frozenset({"LogicalRelation", "HiveTableRelation",
                              "OneRowRelation", "LocalRelation", "Range"})
#: current-time and current-user calls, which the optimizer folds into
#: a literal once per plan
_NOW_CALL_RE = re.compile(
    r"\b(?:current_\w+|now|localtimestamp|session_user|user)\(",
    re.IGNORECASE)
#: physical nodes a re-run would not run again (shuffle and broadcast
#: exchanges, subquery results, adaptive stages) and eagerly run
#: commands
_STATEFUL_EXEC_RE = re.compile(
    r"Exchange|Subquery|AdaptiveSparkPlan|CommandResult")
#: analyzed-plan operators and subqueries that plan an exchange; a run
#: of such a plan keeps its shuffle or broadcast output alive for as
#: long as the plan is held, so its first run is not kept
_EXCHANGE_OPS_RE = re.compile(
    r"\b(?:Aggregate|Join|Sort|Window|Distinct|Deduplicate\w*|"
    r"Repartition\w*|RebalancePartitions|Intersect|Except)\b|"
    r"\b(?:scalar-subquery|exists|list)#\d")

#: plan roots of the DML that runs on the DML path (a FROM-first
#: multi-insert is a Union of INSERTs)
_DML_ROOTS = frozenset({"InsertIntoStatement", "UpdateTable",
                        "DeleteFromTable", "MergeIntoTable", "Union"})

#: the grammars of the engine's own commands (``Engine._COMMANDS``)
_SET_RE = re.compile(
    r"^\s*SET\s+(?:(SESSION|GLOBAL)\s+)?((?:engine|gizmosql)\.[a-z_.]+)"
    r"\s*(?:=|\s+TO\s+)\s*(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL)
_KILL_RE = re.compile(
    r"^\s*KILL\s+SESSION\s+'?([0-9a-fA-F-]+)'?\s*;?\s*$", re.IGNORECASE)
_TXN_RE = re.compile(
    r"^\s*(BEGIN(?:\s+TRANSACTION)?|START\s+TRANSACTION|COMMIT|ROLLBACK"
    r"|ABORT)\s*;?\s*$", re.IGNORECASE)
_TXN_ACTIONS = {"BEGIN": "begin", "START": "begin", "COMMIT": "commit",
                "ROLLBACK": "rollback", "ABORT": "rollback"}
_CREATE_INDEX_RE = re.compile(
    r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_]\w*)\s+ON\s+([A-Za-z_][\w.]*)\s*\(([^)]+)\)\s*;?\s*$",
    re.IGNORECASE)
_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE)
_EXPLAIN_ANALYZE_RE = re.compile(r"^\s*EXPLAIN\s+ANALYZE\s+(.+)$",
                                 re.IGNORECASE | re.DOTALL)
_ATTACH_RE = re.compile(r"^\s*ATTACH\b", re.IGNORECASE)
_EXTENSION_RE = re.compile(r"^\s*(?:FORCE\s+)?(INSTALL|LOAD)\b(?!\s+DATA\b)",
                           re.IGNORECASE)
_CHECKPOINT_RE = re.compile(r"^\s*CHECKPOINT\s*;?\s*$", re.IGNORECASE)
_DATABASE_RE = re.compile(
    r"^\s*(EXPORT|IMPORT)\s+DATABASE\s+'([^']+)'\s*;?\s*$", re.IGNORECASE)


def _file_relation(st: SessionState, fmt: str, path: str,
                   telemetry=None) -> tuple[DataFrame, tuple | None]:
    """The session's relation for a file scan, and the files' identity
    (``session_cache.file_identity``; None when the path has none).
    The relation is an entry of the session's data map, keyed
    ``(format, path)``, and is rebuilt only when the identity changes,
    so a repeated scan skips Spark's listing and schema-inference job;
    a path without an identity is read anew on every call. A
    Spark-level SET/RESET empties the map (confs such as
    ``spark.sql.caseSensitive`` shape inference).

    A rebuild empties the session's plan cache: the scan's temp view
    now names a new relation, and so does every view defined over it."""

    def build() -> DataFrame:
        df = st.spark.read.format(fmt).load(path)
        st.plans.clear()
        return df

    df, ident, hit = session_cache.for_spark(st.spark).get_or_build(
        (fmt, path), path, build)
    if telemetry is not None:
        telemetry.add_counter("engine.file_relations_total",
                              result="hit" if hit else "miss")
    return df, ident


def _resolve_stars(st: SessionState, sql: str) -> str:
    """``sql`` with its schema-resolved rewrites applied (COLUMNS('re'),
    ``* REPLACE``, ORDER BY ALL), which read the schemas of the tables
    it names."""
    from gizmosql_spark.dialect import (
        rewrite_columns,
        rewrite_order_by_all,
        rewrite_star_replace,
    )

    if "COLUMNS" in sql.upper():
        # ADD COLUMNS etc. never match the call-form regex
        sql = rewrite_columns(sql, st.spark)
    if "REPLACE" in sql.upper():
        sql = rewrite_star_replace(sql, st.spark)
    if "ALL" in sql.upper():
        sql = rewrite_order_by_all(sql, st.spark)
    return sql


@dataclass(frozen=True)
class _Command:
    """One engine command: a row of ``Engine._COMMANDS``."""

    #: (engine, session, text) → (what the gates read, what the parse
    #: read), or None when the text is not this command
    parse: Callable
    #: (engine, session, _Rewritten) → the command's result
    run: Callable
    #: it reads the text as sent (else the text after the rewrites)
    raw: bool = False
    #: it changes no relation a query resolves, so the sessions' cached
    #: plans stay fresh
    keeps_plans: bool = False


@dataclass
class _Rewritten:
    """A statement after its text rewrites, classified and gated
    (``Engine._rewrite``): the text that runs, what it does, and what
    must be registered or fetched before it runs."""

    sql: str
    stmt: security.Statement
    #: the engine command that runs it (``Engine._run_command``) and
    #: what that command's parser read; None: Spark runs the text
    command: _Command | None = None
    parsed: Any = None
    #: the values bound to its markers (None: it has none)
    args: dict[str, Any] | None = None
    #: the statement row and span a run inside it records under
    #: (EXPLAIN ANALYZE)
    trace: tuple = (None, None)
    #: it registers views of its own other than file scans, so its
    #: plan is never reused (``Engine._run_statement``)
    ephemeral: bool = False
    #: table functions whose call became a view (``_register_table_fn``)
    table_fns: list = field(default_factory=list)
    #: (view, table, from, to) of each table_changes call
    changes: list = field(default_factory=list)
    #: (view, table, version or timestamp) of each time-travel read
    travels: list = field(default_factory=list)
    #: (view, operator, dir) of each pipeline_op call
    pops: list = field(default_factory=list)
    #: (view, format, path) of each file scan
    scans: list = field(default_factory=list)
    #: (view, uri, query, user, password) of each flight_scan call
    fscans: list = field(default_factory=list)
    #: (view, alias, table) of each read of an attached engine's table
    remote: list = field(default_factory=list)

    @property
    def dml(self) -> str | None:
        """The first table a DML statement writes (None: not DML)."""
        writes = self.stmt.writes
        return (".".join(writes[0])
                if writes and self.stmt.root in _DML_ROOTS else None)

    @property
    def targets(self) -> list[str]:
        """The catalog tables and views the statement writes."""
        return [".".join(p) for p in self.stmt.writes
                if p and p[0].lower() != "global_temp"]


@dataclass(frozen=True)
class _Plan:
    """A plan cache entry: a query's analyzed DataFrame and the engine's
    write sequence number read before it was analyzed."""

    #: None once the plan was found not reusable
    df: DataFrame | None
    seq: int
    #: lower-case names of the catalog tables the plan reads; None
    #: until the first repeat checked the plan (_plan_tables)
    tables: tuple[str, ...] | None = None


def _table_key(name: str) -> str:
    """A table name as plan cache entries record it: the last part,
    unquoted, lower case."""
    return name.split(".")[-1].strip("`").lower()


def _plan_tables(df: DataFrame) -> tuple[str, ...] | None:
    """The catalog tables a query's plan reads, or None when the plan
    must not be reused: a nondeterministic or current-time/user
    expression, a leaf outside ``_REUSABLE_LEAVES`` (a command result,
    a Python-built frame, a streaming source), or a physical plan with
    an exchange, a subquery or an adaptive wrapper. The tables are
    taken from the analyzed plan's leaves, after view expansion."""
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed()
    if not analyzed.deterministic() or _NOW_CALL_RE.search(
            analyzed.toString()):
        return None
    tables = set()
    leaves = analyzed.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind not in _REUSABLE_LEAVES:
            return None
        if kind == "LogicalRelation" and leaf.catalogTable().isDefined():
            tables.add(_table_key(leaf.catalogTable().get().identifier().table()))
        elif kind == "HiveTableRelation":
            tables.add(_table_key(leaf.tableMeta().identifier().table()))
    if _STATEFUL_EXEC_RE.search(qe.executedPlan().toString()):
        return None
    return tuple(sorted(tables))


def _counted_write(df: DataFrame, write) -> int:
    """Run ``write`` on ``df`` with a row count observed inside the
    write job; return the rows that job wrote. One Spark job, where a
    ``count()`` first would read the source twice.

    ``Observation.get`` blocks until the observed action has finished,
    so it is read only after ``write`` returned: a write that raises
    never reaches it (a wait there would hang the caller's thread)."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def _upload_frame(st: SessionState,
                  table: pa.Table) -> tuple[DataFrame, int]:
    """An uploaded Arrow table as a DataFrame that the write tasks
    decode, in at most one partition per core; returns the frame and
    its partition count.

    Under the local-relation threshold ``createDataFrame`` decodes every
    row on the driver into a LocalRelation, and each write task then
    receives its rows Java-serialized. At threshold 0 it ships the Arrow
    batches instead, one partition per ``arrow.maxRecordsPerBatch`` rows,
    and the tasks decode them; the coalesce keeps that to one task and
    one file per core. The choice is made inside the call, so the
    threshold is lowered around this call only: the session's other
    frames (catalog frames, Arrow views) stay LocalRelations. The lock
    keeps two uploads of one session from restoring each other's value."""
    conf = st.spark.conf
    with st.upload_lock:
        prev = conf.get(_LOCAL_RELATION_THRESHOLD, None)
        conf.set(_LOCAL_RELATION_THRESHOLD, "0")
        try:
            df = st.spark.createDataFrame(table)
        finally:
            if prev is None:
                conf.unset(_LOCAL_RELATION_THRESHOLD)
            else:
                conf.set(_LOCAL_RELATION_THRESHOLD, prev)
    # one partition per Arrow batch, read off the LogicalRDD (planning
    # the frame to ask it would cost ~30 ms); an empty upload stays a
    # one-partition LocalRelation
    plan = df._jdf.queryExecution().logical()
    batches = (plan.rdd().getNumPartitions()
               if plan.nodeName() == "LogicalRDD" else 1)
    parts = min(batches, st.spark.sparkContext.defaultParallelism)
    return df.coalesce(parts), parts


def _parser(parse, statement):
    """A command-table parser from a parser of the text alone:
    ``statement(what it read)`` is what the gates read."""
    def parse_row(engine, st, sql):
        got = parse(sql)
        return got and (statement(got), got)
    return parse_row


def _writes(i: int):
    """What the gates read of a command that rewrites the table its
    parser read at ``i``."""
    return lambda got: Statement("write", writes=(tuple(got[i].split(".")),))


def _dml_parser(parse):
    """A command-table parser of UPDATE, DELETE or MERGE, which the
    engine runs copy-on-write: its target is the table ``parse`` names,
    which it reads as well, and what else it reads is what Spark's plan
    shows."""
    def parse_row(engine, st, sql):
        got = parse(sql)
        if got:
            try:
                stmt = security.classify(st.spark, sql)
            except ParseException:  # what its expressions read is unknown
                stmt = Statement("write", opaque=True, root="UpdateTable")
            target = tuple(got[0].split("."))
            return replace(stmt, kind="write", writes=(target,),
                           reads=stmt.reads + (target,)), got
    return parse_row


class Engine:
    """One Engine per server process; sessions hang off it."""

    def __init__(self, spark: SparkSession | None = None,
                 instance_id: str | None = None, edition: str = "community",
                 access_log_path: str | None = None,
                 otlp_trace_path: str | None = None):
        self.spark = spark or get_spark("gizmosql-spark-engine")
        self.instance_id = instance_id or str(uuid.uuid4())
        self.edition = edition
        self.global_settings = SettingsState()
        self.sessions: dict[str, SessionState] = {}
        self._lock = threading.Lock()
        #: plan cache freshness (_cached_plan): a sequence number that
        #: every write moves; the number of the last engine-wide
        #: invalidation, and of the last write to each table (by
        #: _table_key)
        self._plan_seq = 0
        self._invalidated_at = 0
        self._written_at: dict[str, int] = {}
        self._admission = AdmissionController()
        self.draining = False
        self.system_catalog = SystemCatalog()
        self.query_log = QueryLog()
        # instrumentation tables + access log sink
        # (session_instrumentation.md / access_log_middleware.cpp)
        from gizmosql_spark.instrumentation import (
            AccessLog,
            InstrumentationStore,
        )

        self.access_log = AccessLog(path=access_log_path)
        self.instr = InstrumentationStore()
        self.instr.instance_started(self.instance_id, __version__, edition)
        # OTel-shaped tracing/metrics (gizmosql_telemetry.cpp analog;
        # OTLP/JSON to a file sink — HTTP POST is a deploy-time swap)
        from gizmosql_spark.telemetry import Telemetry

        self.telemetry = Telemetry(
            path=otlp_trace_path,
            resource_attributes={"service.instance.id": self.instance_id,
                                 "service.version": __version__})
        # auth (gizmosql_security.cpp analog): basic credentials mint
        # signed tokens; sessions created from a token inherit its
        # role + catalog ACL claims
        from gizmosql_spark.auth import UserRegistry

        self.token_secret = uuid.uuid4().hex
        self.users = UserRegistry()
        #: optional JWKS key-set verification (auth.JwksManager);
        #: when set, bearer tokens carrying a kid verify against it
        self.jwks = None
        # persistent table catalog: manifest over the warehouse dir,
        # re-attaching tables from earlier processes (warehouse.py —
        # the DuckLake/ATTACH analog, docs/ducklake.md)
        self.warehouse = WarehouseCatalog(self.spark)
        #: optional catalog-logging sink (docs/catalog_logging.md):
        #: enabled explicitly via enable_catalog_logging()
        self.catalog_log = None
        # secrets manager (DuckDB secrets analog; admin_command_gating
        # .md:54-55): persistent entries reload from the warehouse
        from gizmosql_spark.secrets import SecretsManager

        self.secrets = SecretsManager(
            store_dir=os.path.join(warehouse_dir(self.spark), "_secrets"))
        #: DuckDB-style macros: lower-name → (params, defaults, body,
        #: is_table); expanded textually at bind time (dialect.py)
        self.macros: dict[str, tuple] = {}
        self.reattach()
        #: captured execution profiles (engine.capture_query_profile;
        #: the reference harvests DuckDB's JSON profile per execution,
        #: duckdb_statement.cpp:1884-1909, :2210-2221)
        self.query_profiles: list[dict[str, Any]] = []

    # --- session lifecycle (GetClientSession / CloseSession,
    # duckdb_server.cpp:957-1079, :2111-2130) -------------------------

    def add_user(self, username: str, password: str, role: str = "user",
                 read_catalogs: list[str] | None = None,
                 write_catalogs: list[str] | None = None) -> None:
        self.users.add_user(username, password, role, read_catalogs, write_catalogs)

    def authenticate(self, username: str, password: str) -> str:
        """Basic credentials → signed bearer token
        (gizmosql_security.cpp:263-295 mint-on-first-auth flow)."""
        return self.users.authenticate(self.token_secret, username, password)

    def use_jwks(self, jwks_path: str, refresh_interval_s: float = 300.0):
        """Enable JWKS key-set verification for bearer tokens
        (jwks_manager.cpp analog; local key file, rotation via
        re-write)."""
        from gizmosql_spark.auth import JwksManager

        self.jwks = JwksManager(jwks_path, refresh_interval_s)
        return self.jwks

    def verify_bearer(self, token: str) -> dict:
        """Verified claims for a bearer token: tokens carrying a kid
        header verify against the JWKS key set when one is configured;
        plain tokens verify against the engine secret."""
        from gizmosql_spark.auth import token_kid, verify_token

        if self.jwks is not None and token_kid(token) is not None:
            return self.jwks.verify(token)
        return verify_token(self.token_secret, token)

    def create_session(self, role: str = "user", token: str | None = None) -> str:
        """New session; a bearer token overrides ``role`` with its
        verified claims (role + catalog ACLs) — client-asserted roles
        are never trusted when a token is presented."""
        if self.draining:
            raise ServerDraining("server is draining; retry elsewhere")
        sid = str(uuid.uuid4())
        st = SessionState(sid, role, self.spark.newSession())
        if token is not None:
            claims = self.verify_bearer(token)
            st.role = claims["role"]
            st.username = claims.get("sub", "anonymous")
            st.read_catalogs = claims.get("read_catalogs")
            st.write_catalogs = claims.get("write_catalogs")
        with self._lock:
            self.sessions[sid] = st
        self.instr.session_started(
            sid, self.instance_id, st.username, st.role,
            auth_method="token" if token is not None else "asserted")
        return sid

    def _session(self, session_id: str) -> SessionState:
        st = self.sessions.get(session_id)
        if st is None or st.closed:
            raise SessionClosed(f"no such session: {session_id}")
        return st

    def close_session(self, session_id: str) -> None:
        st = self.sessions.get(session_id)
        if st is None:
            return
        st.closed = True
        st.prepared.clear()
        session_cache.drop(st.spark)
        st.plans.clear()
        self._cancel_session_jobs(st)
        with self._lock:
            self.sessions.pop(session_id, None)
        self.instr.session_ended(
            session_id, "killed" if st.killed else "closed")

    def kill_session(self, session_id: str, by: str) -> bool:
        """KILL SESSION admin op (kill_session_handler.cpp; killed-set
        semantics duckdb_server.cpp:899,1240-1262). Idempotent."""
        killer = self._session(by)
        if not killer.is_admin:
            raise security.CommandDenied("KILL SESSION requires admin role")
        st = self.sessions.get(session_id)
        if st is None:
            return False
        st.killed = True
        self.close_session(session_id)
        return True

    def _cancel_session_jobs(self, st: SessionState) -> None:
        try:
            self.spark.sparkContext.cancelJobGroup(st.session_id)
        except Exception:
            pass

    # --- graceful shutdown (duckdb_server.cpp:806-818, :1193-1210) ---

    def begin_drain(self) -> None:
        self.draining = True

    def force_shutdown(self) -> None:
        self.draining = True
        try:
            self.spark.sparkContext.cancelAllJobs()
        except Exception:
            pass

    # --- settings -----------------------------------------------------

    def _register_settings_view(self, st: SessionState) -> None:
        rows = settings_rows(st.settings, self.global_settings)
        st.spark.createDataFrame(rows, SETTINGS_SCHEMA).createOrReplaceTempView(
            "engine_settings"
        )

    # --- statement execution (§3.1 spine) -----------------------------

    def _pseudo_values(self, st: SessionState) -> dict[str, str]:
        return {
            "current_session": st.session_id,
            "current_instance": self.instance_id,
            "current_cluster": "local",
            "version": __version__,
            "user": st.username,
            "role": st.role,
            "edition": self.edition,
            # instrumentation is an Enterprise feature in the reference;
            # query_profiles is this engine's equivalent store
            "instrumentation_enabled": str(
                bool(
                    st.settings.get(
                        "engine.capture_query_profile", self.global_settings
                    )
                )
            ).lower(),
            "instrumentation_catalog": "spark_catalog",
            "instrumentation_schema": "default",
        }

    def execute_sql(self, session_id: str, sql: str) -> StatementResult:
        """Validate, rewrite, gate, and analyze a statement; queries
        return a lazy DataFrame (schema available without execution),
        DML/DDL runs eagerly."""
        return self._execute(session_id, sql, None, "execute_sql")

    def _execute(self, session_id: str, sql: str,
                 args: dict[str, Any] | None,
                 entry: str) -> StatementResult:
        """The one path that runs a statement, direct or prepared:
        gate, rewrite, run, and record. ``args`` are the values bound
        to the statement's parameter markers (None: it has none);
        ``entry`` names the entry point on its statement row."""
        if self.draining:
            raise ServerDraining("server is draining")
        st = self._session(session_id)

        t_start = time.perf_counter()
        rw = self._gate(st, sql, args, entry)
        self.system_catalog.observe_statement(sql, rw.stmt)
        for target in rw.targets:
            self.warehouse.prepare_write(st.spark, target)
        stmt_id = self.instr.statement(session_id, sql, entry, True)
        # an engine command that changes no relation a query resolves
        # leaves every session's cached plans fresh
        keeps_plans = rw.command is not None and rw.command.keeps_plans
        try:
            with self.telemetry.span(
                "statement.execute", session=session_id,
                user=st.username) as sp:
                rw.trace = stmt_id, sp
                result = self._run_statement(st, rw)
                sp.set_attribute("statement.kind", result.kind)
                if result.plan_cache is not None:
                    sp.set_attribute("plan_cache", result.plan_cache)
        except Exception as exc:
            if not keeps_plans:
                self._invalidate_plans()
            elapsed = self._record_outcome(st, sql, "error", t_start)
            self.instr.execution(
                stmt_id, "error", duration_ms=elapsed, error=str(exc))
            raise
        if result.kind != "query" and not keeps_plans:
            self._invalidate_plans()
        # keep the persistent manifest in step with catalog writes
        # (record() no-ops for temp views and resolves to forget() for
        # a name that no longer exists: a dropped table, a renamed
        # table's old name)
        for target in rw.targets:
            self.warehouse.record(st.spark, target)
        elapsed = self._record_outcome(st, sql, "ok", t_start)
        result.statement_id = stmt_id
        result.trace_id = sp.trace_id
        result.root_span_id = sp.span_id
        if result.kind != "query":
            # eager statements executed inside _run_statement; lazy
            # queries record their execution when collected
            self.instr.execution(
                stmt_id, "success", duration_ms=elapsed,
                rows_fetched=result.affected_rows)
        return result

    def _gate(self, st: SessionState, sql: str,
              args: dict[str, Any] | None, entry: str) -> _Rewritten:
        """Rewrite, classify and check a statement before it runs or is
        prepared (``_rewrite``). A statement that fails here is recorded
        (``_record_outcome`` and a failed statement row under ``entry``):
        ``denied`` when a check rejects it, ``error`` when, for one, no
        parser reads it."""
        t_start = time.perf_counter()
        try:
            return self._rewrite(st, sql, args)
        except Exception as exc:
            status = "denied" if isinstance(exc, PermissionError) else "error"
            self._record_outcome(st, sql, status, t_start)
            self.instr.statement(
                st.session_id, sql, entry, False, str(exc))
            raise

    def _check(self, st: SessionState, stmt: security.Statement) -> None:
        """The checks a classified statement passes: the admin gate, the
        readonly role, the catalog ACL and system-catalog writes."""
        security.check_admin_gate(stmt, st.is_admin)
        security.check_readonly(stmt, st.role)
        if st.read_catalogs is not None or st.write_catalogs is not None:
            try:
                current_cat = st.spark.catalog.currentCatalog()
            except Exception:
                current_cat = security.DEFAULT_CATALOG
            conf = st.spark.conf
            security.check_catalog_access(
                stmt, st.read_catalogs, st.write_catalogs, current_cat,
                lambda name: name.lower() == security.DEFAULT_CATALOG
                or conf.get(f"spark.sql.catalog.{name}", None) is not None)
        check_system_catalog_write(stmt)

    def _record_outcome(self, st: SessionState, sql: str, status: str,
                        t_start: float) -> float:
        """Fan one statement outcome (``ok``/``error``/``denied``), direct
        or prepared, out to the query log, the access log (method
        ``execute_sql``) and the statement counter; returns the elapsed
        ms. The instrumentation rows stay with the caller: a denial is a
        failed prepare, a lazy query records its execution when it is
        materialized."""
        elapsed = (time.perf_counter() - t_start) * 1000
        self.query_log.record(st.session_id, sql, status, elapsed)
        self.access_log.record(
            "execute_sql", identity=st.username, status=status.upper(),
            duration_ms=elapsed, detail=sql)
        self.telemetry.add_counter("engine.statements_total", status=status)
        return elapsed

    def enable_catalog_logging(self, path: str | None = None,
                               queue_max: int = 1000):
        """Fork the statement-log stream to an append-only ``logs``
        parquet table (docs/catalog_logging.md): bounded hand-off
        queue + dedicated writer thread, newest-dropped-on-overflow,
        batch-atomic appends. Readable only by admins through the
        ``engine_logs()`` table function; the table is system-managed
        (not a catalog table — client DML cannot target it, and there
        is nothing to DETACH)."""
        from gizmosql_spark.catalog_logging import CatalogLogSink

        if self.catalog_log is not None:
            return self.catalog_log
        path = path or os.path.join(
            warehouse_dir(self.spark), "_engine_logs", "logs")
        sink = CatalogLogSink(self.spark, path, queue_max=queue_max)
        self.catalog_log = sink
        self.query_log.attach_sink(
            lambda e: sink.submit(e.at, "INFO", e.session_id, e.sql,
                                  e.status, e.elapsed_ms))
        return sink

    def disable_catalog_logging(self) -> None:
        if self.catalog_log is not None:
            self.query_log.attach_sink(None)
            self.catalog_log.close()
            self.catalog_log = None

    #: table functions whose call becomes a view the engine registers
    #: for the statement (``_register_table_fn``); the last two only
    #: admins may read (``_ADMIN_TABLE_FNS``)
    _TABLE_FNS = tuple(
        (name, re.compile(rf"\b{name}\s*\(\s*\)", re.IGNORECASE))
        for name in ("engine_query_log", "engine_macros", "engine_access_log",
                     "engine_admission_stats", "engine_logs",
                     "engine_secrets"))
    _ADMIN_TABLE_FNS = ("engine_logs", "engine_secrets")
    _TABLE_CHANGES_RE = re.compile(
        r"\btable_changes\s*\(\s*'([A-Za-z_][\w.]*)'\s*,\s*(\d+)"
        r"(?:\s*,\s*(\d+))?\s*\)", re.IGNORECASE)
    _INSTR_VIEW_RE = re.compile(
        r"\bengine_(?:instr_\w+|active_sessions|session_activity)\b",
        re.IGNORECASE)
    #: table functions that register a view per statement
    _EPHEMERAL_VIEW_RES = (*(fn_re for _, fn_re in _TABLE_FNS),
                           _INSTR_VIEW_RE, _TABLE_CHANGES_RE)

    def _rewrite(self, st: SessionState, sql: str,
                 args: dict[str, Any] | None) -> _Rewritten:
        """Classify the statement (``_classify``) and check it
        (``_check``): an engine command that reads the text as sent, or
        else the text after its rewrites, which run nothing, so every
        check passes before a view is registered, an operator or a
        remote scan runs, or the statement runs."""
        from gizmosql_spark.dialect import (
            expand_macros,
            extract_pipeline_ops,
            extract_time_travel,
            rewrite_asof_join,
            rewrite_distinct_on,
            rewrite_exclude,
            rewrite_qualify,
            rewrite_unpivot_statement,
            star_replace_items,
        )

        if args is not None:
            # before any rewrite copies or reorders a marker
            sql = _name_positional_params(sql)
        got = self._classify(st, sql, raw=True)
        if got is not None:
            self._check(st, got[0])
            return _Rewritten(sql, *got, args=args)
        if self.macros:
            sql = expand_macros(sql, self.macros)
        sql = rewrite_unpivot_statement(sql)
        sql = replace_pseudo_functions(sql, self._pseudo_values(st))
        if "ASOF" in sql.upper():
            sql = rewrite_asof_join(sql)
        sql = rewrite_qualify(sql)
        sql = rewrite_distinct_on(sql)
        sql = rewrite_exclude(sql)
        sql, used_settings = rewrite_settings_function(sql)
        # a statement that registers views of its own, other than
        # identity-checked file scans, is never reused; and since views
        # over those names (an operator may register any name) now read
        # the new registrations, it empties the session's plan cache
        ephemeral = used_settings or bool(st.attached) or any(
            r.search(sql) for r in self._EPHEMERAL_VIEW_RES)
        table_fns = ["engine_settings"] if used_settings else []
        for name, fn_re in self._TABLE_FNS:
            if fn_re.search(sql):
                sql = fn_re.sub(name, sql)
                table_fns.append(name)
        changes = []
        for m in list(self._TABLE_CHANGES_RE.finditer(sql)):
            tbl, v1, v2 = m.group(1), int(m.group(2)), m.group(3)
            view = re.sub(
                r"\W", "_", f"table_changes_{tbl}_{v1}_{v2 or 'live'}")
            changes.append(
                (view, tbl, v1, int(v2) if v2 is not None else None))
            sql = sql.replace(m.group(0), view)
        sql, travels = extract_time_travel(sql)
        sql, pops = extract_pipeline_ops(sql)
        sql, scans = extract_file_scans(sql)
        # remote-engine scans (flight_scan table function + attached
        # Flight catalogs)
        sql, fscans = extract_flight_scans(sql)
        remote: list[tuple[str, str, str]] = []
        for alias in st.attached:
            def _sub(m, _alias=alias):
                view = f"{_alias}__{m.group(2)}"
                remote.append((view, _alias, m.group(2)))
                return f"{m.group(1)} {view}"

            sql = re.sub(
                rf"\b(FROM|JOIN)\s+{alias}\s*\.\s*([A-Za-z_]\w*)", _sub,
                sql, flags=re.IGNORECASE)

        # the schema-resolved rewrites (COLUMNS, * REPLACE, ORDER BY
        # ALL) run after the gate; a * REPLACE list reads as a select
        # list here
        stmt, command, parsed = self._classify(
            st, star_replace_items(sql) if "REPLACE" in sql.upper() else sql)
        # what the rewrites took out of the text: the tables read by
        # name, the paths scanned, and the calls only an admin may make
        # (flight_scan, like ATTACH; the admin-only table functions)
        admin = "flight_scan()" if fscans else next(
            (f"{n}()" for n in table_fns if n in self._ADMIN_TABLE_FNS), None)
        stmt = stmt.merge(Statement(
            "query", reads=tuple(
                tuple(t.split(".")) for _, t, *_ in changes + travels),
            paths=tuple(p for *_, p in scans) + tuple(
                d for *_, d in pops if d), admin=admin))
        self._check(st, stmt)
        return _Rewritten(sql, stmt, command, parsed, args, ephemeral=bool(
                              ephemeral or travels or pops or fscans),
                          table_fns=table_fns, changes=changes,
                          travels=travels, pops=pops, scans=scans,
                          fscans=fscans, remote=remote)

    def _classify(self, st: SessionState, sql: str, raw: bool = False):
        """``(what it does, the engine command that runs it, what that
        command's parser read)``: the first row of the command table
        (``_COMMANDS``; with ``raw``, the rows that read the text as
        sent) whose parser reads ``sql``, else Spark's parsed plan
        (``security.classify``) and no command. With ``raw``, None when
        no row reads it. This is the one place a command's text is
        parsed."""
        for command in self._COMMANDS:
            if command.raw == raw:
                got = command.parse(self, st, sql)
                if got:
                    return got[0], command, got[1]
        return None if raw else (security.classify(st.spark, sql), None, None)

    def _register_table_fn(self, st: SessionState, name: str) -> None:
        """Register the view a table function's call was replaced by."""
        if name == "engine_settings":
            return self._register_settings_view(st)
        if name == "engine_logs":
            # the catalog-logging table (docs/catalog_logging.md),
            # drained first so reads see a committed prefix of the stream
            if self.catalog_log is not None:
                self.catalog_log.flush(timeout=10)
                df = self.catalog_log.logs_df(st.spark)
            else:
                from gizmosql_spark.catalog_logging import LOG_SCHEMA

                df = st.spark.createDataFrame([], LOG_SCHEMA)
            return df.createOrReplaceTempView(name)
        if name == "engine_query_log":
            # the redacted statement ring (reference: query-log
            # telemetry, gizmosql_logging.cpp)
            rows = [(e.session_id, e.sql, e.status, float(e.elapsed_ms),
                     float(e.at)) for e in self.query_log.entries()]
            schema = ("session_id string, sql string, status string,"
                      " elapsed_ms double, at double")
        elif name == "engine_macros":
            # registered macro templates (duckdb_functions() lists
            # macros the same way)
            rows = [(macro, list(params), str(dict(defaults)), body,
                     "table" if is_table else "scalar")
                    for macro, (params, defaults, body, is_table)
                    in sorted(self.macros.items())]
            schema = ("macro_name string, parameters array<string>,"
                      " defaults string, body string, macro_type string")
        elif name == "engine_access_log":
            # the per-call access log, redacted
            # (access_log_middleware.cpp analog)
            from gizmosql_spark.instrumentation import AccessLog

            rows, schema = self.access_log.entries(), AccessLog.SCHEMA
        elif name == "engine_secrets":
            # duckdb_secrets analog, always admin-only
            # (admin_command_gating.md:55); values are masked, raw
            # material never leaves the registry
            rows = self.secrets.listing()
            schema = ("name string, type string, scope string,"
                      " persistent boolean, options string")
        else:
            # engine_admission_stats: statement-queue depth metrics
            # (reference statement_queuing.md depth/peak telemetry)
            a = self._admission
            s = a.stats()
            rows = [(s.executing, s.queued, s.peak_executing, s.peak_queued,
                     s.total_admitted, s.total_rejected, s.total_timeouts,
                     a.max_concurrent, a.max_queued)]
            schema = ("executing int, queued int, peak_executing int,"
                      " peak_queued int, total_admitted bigint,"
                      " total_rejected bigint, total_timeouts bigint,"
                      " max_concurrent int, max_queued int")
        st.spark.createDataFrame(rows, schema).createOrReplaceTempView(name)

    def _run_statement(self, st: SessionState,
                       rw: _Rewritten) -> StatementResult:
        """Run (a query: analyze) one gated statement (``_rewrite``)
        once the views it reads are registered: its engine command
        (``_run_command``), or its text, with its bound values binding
        its markers in the final ``spark.sql``, never plan-cached."""
        sql = rw.sql
        for name in rw.table_fns:
            self._register_table_fn(st, name)
        if self._INSTR_VIEW_RE.search(sql):
            # instrumentation views refresh on reference
            # (session_instrumentation.md read-only views)
            self.instr.publish(self.spark)
        for view, tbl, v1, v2 in rw.changes:
            # table_changes('t', v_from[, v_to]) table function: the
            # Delta Change-Data-Feed analog over warehouse snapshots
            # (maintenance.table_changes; deviations documented in
            # docs/transactions_and_lakehouse.md §4)
            from gizmosql_spark.maintenance import table_changes

            table_changes(st.spark, self.warehouse, tbl, v1,
                          v2).createOrReplaceTempView(view)
        for view, tbl, spec in rw.travels:
            if isinstance(spec, int):
                vpath = self.warehouse.version_path(tbl, spec)
            else:
                # TIMESTAMP AS OF 'ts' — resolve against archive
                # commit times; None = live table is the as-of state
                from datetime import datetime, timezone

                try:
                    ts = datetime.fromisoformat(spec)
                except ValueError as exc:
                    raise ValueError(
                        f"bad TIMESTAMP AS OF literal {spec!r}") from exc
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=timezone.utc)
                vpath = self.warehouse.version_path_at(tbl, ts.timestamp())
            if vpath is None:
                st.spark.table(tbl).createOrReplaceTempView(view)
            else:
                df, _ = _file_relation(st, "parquet", vpath, self.telemetry)
                df.createOrReplaceTempView(view)

        # pipeline-operator table function: every registered operator
        # (dedup, quality, sampling, sketches, …) callable from SQL —
        # the SQL surface a reference user gets for the extension tier.
        # The dir is one of the statement's paths: a non-admin's local
        # dir was denied by the admin gate.
        for view, op_name, op_dir in rw.pops:
            from gizmosql_spark.operators import registry as op_registry

            if not op_dir:
                op_dir = str(
                    st.settings.get(
                        "engine.pipeline_data_dir", self.global_settings)
                    or "")
                if not op_dir:
                    raise ValueError(
                        "pipeline_op: no data dir given and "
                        "engine.pipeline_data_dir is not set")
            try:
                fn = op_registry.resolve(op_name)
            except KeyError as exc:
                raise ValueError(str(exc)) from exc
            fn(st.spark, op_dir).createOrReplaceTempView(view)

        if rw.command is None:
            sql = _resolve_stars(st, sql)
        relations, scan_ids = [], []
        for view, fmt, path in rw.scans:
            if "://" in path and not path.startswith("file:"):
                # remote path: apply the best-scope-matching secret's
                # credentials to the Hadoop conf before the read (the
                # httpfs-pickup analog; secrets.py)
                self.secrets.apply_for_path(st.spark, path)
            df, ident = _file_relation(st, fmt, path, self.telemetry)
            relations.append((view, df))
            scan_ids.append((fmt, path, ident))

        is_set = rw.stmt.root in ("SetCommand", "ResetCommand")
        if is_set:
            # a Spark-level SET/RESET: confs such as
            # spark.sql.caseSensitive shape the file relations
            session_cache.for_spark(st.spark).clear()
        if rw.ephemeral or is_set:
            st.plans.clear()
            key = None
        elif rw.command is not None or rw.args is not None or any(
                ident is None for *_, ident in scan_ids):
            key = None
        else:
            key = (sql, tuple(scan_ids))
        cached = self._cached_plan(st, key)
        if cached is not None and cached.df is not None:
            # the scan views still name these relations: a rebuilt
            # relation or a re-pointed view would have made the entry
            # stale, so their registration is skipped
            self.telemetry.add_counter("engine.plan_cache_total",
                                       result="hit")
            return StatementResult("query", df=cached.df, plan_cache="hit")
        if cached is not None:  # checked, and not reusable
            key = None
        for view, df in relations:
            df.createOrReplaceTempView(view)
        if rw.fscans or rw.remote:
            from gizmosql_spark.sources.flight_scan import flight_scan_df

            fetches = list(rw.fscans)
            for view, alias, tbl in rw.remote:
                uri, user, pw = st.attached[alias]
                fetches.append((view, uri, f"SELECT * FROM {tbl}", user, pw))
            for view, uri, rsql, user, pw in fetches:
                if user is None and pw is None:
                    # credentials from an adbc-type secret scoped to the
                    # uri (the reference's CREATE SECRET + bare ATTACH
                    # flow)
                    user, pw = self.secrets.flight_credentials(uri)
                flight_scan_df(
                    st.spark, uri, rsql, user=user, password=pw
                ).createOrReplaceTempView(view)

        if rw.command is not None:
            return self._run_command(st, rw)

        if rw.stmt.root in ("AnalyzeTable", "AnalyzeColumn"):
            an = ".".join(rw.stmt.reads[0])
            # native ANALYZE computes the stats; the engine then folds
            # them into the manifest so the catalog carries statistics
            # across restarts (DuckLake stores stats in its catalog)
            df = st.spark.sql(sql)
            name = an.split(".")[-1].lower()
            entry = self.warehouse.tables().get(name)
            if entry is not None:
                entry = dict(entry)
                entry["statistics"] = maintenance.table_statistics(
                    st.spark, an)
                self.warehouse.upsert_entry(name, entry)
            return StatementResult("update", df=df, affected_rows=None)

        target = rw.dml
        if target is not None:
            # DML path: runs eagerly inside spark.sql(). Affected count
            # is measured as the table's row-count delta — count() on a
            # managed parquet table is row-group metadata only, no scan
            # (the reference reads DuckDB's changes() convention,
            # duckdb_statement.cpp:2341-2380).
            for t in rw.targets if st.txn is not None else ():
                self._txn_snapshot(st, t)
            before = self._table_count(st, target)
            df = st.spark.sql(sql, args=rw.args)
            for t in rw.targets:
                self._refresh_everywhere(t, st.spark)
            after = self._table_count(st, target)
            affected = abs(after - before) if before is not None else None
            return StatementResult("update", df=df, affected_rows=affected)

        df, outcome = self._analyze(st, sql, key, rw.args)
        if outcome is not None:
            return StatementResult("query", df=df, plan_cache=outcome)
        return StatementResult("update", df=df, affected_rows=None)

    # --- the engine's own commands ------------------------------------
    # Each is one row of _COMMANDS (the end of the class): its parser,
    # which returns what the gates read and what it read, and the
    # method that runs what it read. _classify is the one place their
    # text is parsed, _run_command the one dispatch.

    def _run_command(self, st: SessionState,
                     rw: _Rewritten) -> StatementResult:
        """Run what the statement's command parser read, once the views
        its statement reads are registered."""
        return rw.command.run(self, st, rw)

    def _in_place(self, st: SessionState, table: str, rewrite):
        """``rewrite()``, which rewrites ``table`` in place, after a
        snapshot of its pre-image so VERSION AS OF (and a rollback)
        survives it; every session then reads the new table."""
        if st.txn is not None:
            self._txn_snapshot(st, table)
        self.warehouse.snapshot(st.spark, table)
        out = rewrite()
        self._refresh_everywhere(table, st.spark)
        return out

    def _source(self, st: SessionState, query: str, what: str):
        """What a command that runs a query of its own does: the query,
        never a write or a command."""
        stmt, command, _ = self._classify(st, query)
        if stmt.kind != "query" or command is not None:
            raise ValueError(f"{what} supports a table or a query only")
        return replace(stmt, kind="command")

    def _run_set(self, st, rw):
        scope, name, value = rw.parsed.groups()
        scope = (scope or "session").lower()
        name = name.lower().replace("gizmosql.", "engine.")
        target = self.global_settings if scope == "global" else st.settings
        value = target.set(name, value.strip().strip("'\""), scope,
                           st.is_admin)
        if name == "engine.max_concurrent_statements":
            self._admission.max_concurrent = int(value)
        elif name == "engine.max_queued_statements":
            self._admission.max_queued = int(value)
        elif name == "engine.max_queue_wait":
            self._admission.max_wait_seconds = float(value)
        elif name == "engine.graceful_shutdown" and value:
            self.begin_drain()
        return StatementResult("set", info={name: str(value)})

    def _run_kill(self, st, rw):
        ok = self.kill_session(rw.parsed[1], by=st.session_id)
        return StatementResult("kill", info={"killed": str(ok).lower()})

    def _run_txn(self, st, rw):
        action = _TXN_ACTIONS[rw.parsed[1].split()[0].upper()]
        if action == "begin":
            self.begin_transaction(st.session_id)
        else:
            self.end_transaction(st.session_id, commit=action == "commit")
        return StatementResult("txn", info={"action": action})

    # CREATE/DROP INDEX (tests/test_v1_22_features.py:52-54 in the
    # reference): Spark has no secondary indexes — recorded as engine
    # metadata, surfaced via engine_index_info (SURVEY §2C DDL row)

    def _run_create_index(self, st, rw):
        name, table, cols = rw.parsed.groups()
        self.system_catalog.registry.declare_index(
            table, name, *(c.strip().strip('"`') for c in cols.split(",")))
        return StatementResult("update", affected_rows=0,
                               info={"index": name})

    def _run_drop_index(self, st, rw):
        for idx in list(self.system_catalog.registry.indexes.values()):
            idx.pop(rw.parsed[1], None)
        return StatementResult("update", affected_rows=0,
                               info={"index": rw.parsed[1]})

    def _run_secret(self, st, rw):
        action, what, flag = rw.parsed  # a Secret, or the name to drop
        if action == "create":
            self.secrets.create(what, replace=flag)
        elif not self.secrets.drop(what, if_exists=flag):
            action = "noop"
        return StatementResult("update", affected_rows=0, info={
            "secret": what.name if action == "create" else what,
            "action": action})

    def _run_create_macro(self, st, rw):
        mname, params, defaults, body, is_table, replace_ = rw.parsed
        if mname.lower() in self.macros and not replace_:
            raise ValueError(f"macro {mname} already exists")
        self.macros[mname.lower()] = (params, defaults, body, is_table)
        return StatementResult("update", affected_rows=0,
                               info={"macro": mname, "action": "create"})

    def _run_drop_macro(self, st, rw):
        mname, if_exists = rw.parsed
        if self.macros.pop(mname.lower(), None) is None and not if_exists:
            raise ValueError(f"macro {mname} does not exist")
        return StatementResult("update", affected_rows=0,
                               info={"macro": mname, "action": "drop"})

    def _parse_explain(self, st, sql):
        m = _EXPLAIN_ANALYZE_RE.match(sql)
        if m:
            inner = self._rewrite(st, m.group(1), None)
            if inner.stmt.kind != "query":
                raise ValueError(
                    "EXPLAIN ANALYZE supports query statements only")
            return replace(inner.stmt, kind="command"), inner

    def _run_attach(self, st, rw):
        # a remote Flight engine (adbc_scanner analog); any other
        # ATTACH is parsed too, so a non-admin's is denied
        alias, uri, user, pw = rw.parsed
        if alias is None:
            raise ValueError("only a Flight engine attaches: ATTACH"
                             " 'grpc://host:port' AS name (TYPE flight)")
        st.attached[alias] = (uri, user, pw)
        return StatementResult("set", info={"attached": alias})

    def _run_detach(self, st, rw):
        if st.attached.pop(rw.parsed, None) is None:
            raise ValueError(f"no attached engine named {rw.parsed}")
        return StatementResult("set", info={"detached": rw.parsed})

    def _run_extension(self, st, rw):
        raise ValueError(f"{rw.parsed[1].upper()}: Spark loads no DuckDB"
                         " extensions")

    def _run_checkpoint(self, st, rw):
        # DuckDB CHECKPOINT = flush the WAL; here = snapshot+prune the
        # catalog commit log
        seq = self.warehouse.checkpoint_now()
        return StatementResult("update", affected_rows=seq)

    def _run_database(self, st, rw):
        # EXPORT/IMPORT DATABASE statement forms (the reference
        # classifies both admin-only, admin_command_guard.cpp:348-381)
        from gizmosql_spark.sources.registry import export_database

        word, target = rw.parsed.groups()
        if word.upper() == "EXPORT":
            counts = export_database(st.spark, target)
            return StatementResult("update", affected_rows=len(counts))
        return self._import_database(st, target)

    def _parse_pivot(self, st, sql):
        got = parse_pivot(sql)
        return got and (self._source(st, pivot_source(got), "PIVOT"), got)

    def _run_pivot(self, st, rw):
        # the distinct-value probe runs now that its source passed the
        # gate; the standard PIVOT it writes is gated again
        from gizmosql_spark.dialect import rewrite_pivot_statement

        pivoted = self._rewrite(
            st, rewrite_pivot_statement(rw.parsed, st.spark), rw.args)
        pivoted.trace = rw.trace
        return self._run_statement(st, pivoted)

    def _parse_summarize(self, st, sql):
        target = parse_summarize(sql)
        if target:
            query = (f"SELECT * FROM {target}"
                     if re.fullmatch(r"\s*[A-Za-z_][\w.]*\s*", target)
                     else target)
            return self._source(st, query, "SUMMARIZE"), query

    def _run_summarize(self, st, rw):
        return StatementResult("query", df=self._summarize(st, rw.parsed))

    def _run_optimize(self, st, rw):
        table, target_mb, zorder = rw.parsed
        return StatementResult("query", df=self._in_place(
            st, table, lambda: maintenance.apply_optimize(
                st.spark, table, target_mb, zorder=zorder)))

    def _run_restore(self, st, rw):
        table, version = rw.parsed
        report = maintenance.apply_restore(
            st.spark, table, version, self.warehouse)
        self._refresh_everywhere(table, st.spark)
        self.warehouse.record(st.spark, table)
        return StatementResult("query", df=report)

    def _run_vacuum(self, st, rw):
        table, retain = rw.parsed
        return StatementResult("query", df=maintenance.apply_vacuum(
            st.spark, table, retain, self.warehouse))

    def _run_evolution(self, st, rw):
        # DROP/RENAME COLUMN, which v1 parquet tables cannot run:
        # copy-on-write schema evolution (snapshot first, so the
        # archived version keeps the pre-evolution schema)
        kind, table, args = rw.parsed
        self._in_place(st, table, lambda: maintenance.apply_alter(
            st.spark, kind, table, args, warehouse=self.warehouse))
        return StatementResult("update", affected_rows=0)

    def _parse_copy(self, st, sql):
        cp = parse_copy(sql)
        if cp:
            direction, src, path = cp[:3]
            stmt = (Statement("write", writes=(tuple(src.split(".")),))
                    if direction == "from" else self._classify(
                        st, src[1:-1] if src.startswith("(")
                        else f"TABLE {src}")[0])
            return replace(stmt, kind="write",
                           paths=stmt.paths + (path,)), cp

    def _run_copy(self, st, rw):
        # COPY … TO/FROM statement form (reference:
        # admin_command_guard.cpp:348-381). TO exports a query/table;
        # FROM appends a file into a managed table.
        from gizmosql_spark.sources.registry import copy_to

        direction, src, path, fmt, opts = rw.parsed
        if direction == "to":
            q = src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
            n = _counted_write(
                st.spark.sql(_resolve_stars(st, q)),
                lambda d: copy_to(d, path, fmt=fmt, **opts))
            return StatementResult("update", affected_rows=n)
        reader = st.spark.read.format(fmt)
        for k, v in opts.items():
            reader = reader.option(k, v)
        if fmt == "csv" and "inferSchema" not in opts:
            reader = reader.option("inferSchema", "true")
        n = _counted_write(
            reader.load(path),
            lambda d: d.write.mode("append").insertInto(src))
        self._refresh_everywhere(src, st.spark)
        self.warehouse.record(st.spark, src)
        return StatementResult("update", affected_rows=n)

    # DML on managed parquet tables, which Spark runs only on
    # Delta/Iceberg: copy-on-write at the engine layer (dml.py)

    def _parse_upsert(self, st, sql):
        up = upsert_parts(sql)
        if up:
            table, texts = up
            stmt = Statement(
                "write", writes=(tuple(table.split(".")),),
                root="InsertIntoStatement")
            for text in texts:
                stmt = stmt.merge(security.classify(st.spark, text))
            return stmt, table

    def _run_upsert(self, st, rw):
        # an upsert runs as the MERGE it writes
        from gizmosql_spark.dialect import rewrite_insert_upsert

        merge = dml.parse_merge(rewrite_insert_upsert(
            rw.sql, st.spark, lambda t: self.system_catalog.registry
            .primary_keys.get(t.split(".")[-1].lower())))
        return StatementResult("update", affected_rows=self._in_place(
            st, rw.parsed, lambda: dml.apply_merge(st.spark, merge)))

    def _run_update(self, st, rw):
        table, assignments, where = rw.parsed
        return StatementResult("update", affected_rows=self._in_place(
            st, table, lambda: dml.apply_update(
                st.spark, table, assignments, where)))

    def _run_delete(self, st, rw):
        table, where = rw.parsed
        return StatementResult("update", affected_rows=self._in_place(
            st, table, lambda: dml.apply_delete(st.spark, table, where)))

    def _run_merge(self, st, rw):
        return StatementResult("update", affected_rows=self._in_place(
            st, rw.parsed[0], lambda: dml.apply_merge(st.spark, rw.parsed)))

    def _import_database(self, st: SessionState,
                         source: str) -> StatementResult:
        """IMPORT DATABASE (the statement or the PRAGMA DuckDB parses it
        as): every table directory under ``source``, overwriting."""
        from gizmosql_spark.sources.registry import import_database

        tables = sorted(d for d in os.listdir(source)
                        if os.path.isdir(os.path.join(source, d)))
        for t in tables:
            # clear re-attached EXTERNAL tables / crash leftovers at the
            # destination first
            self.warehouse.prepare_write(st.spark, t, overwrite=True)
        import_database(st.spark, source, tables)
        for t in tables:
            self._refresh_everywhere(t, st.spark)
            self.warehouse.record(st.spark, t)
        return StatementResult("update", affected_rows=len(tables))

    # --- plan cache ---------------------------------------------------
    # A query repeated in a session reuses its analyzed DataFrame,
    # skipping parse, analysis and planning; every run still reads its
    # rows anew. The key is the final SQL plus each file scan's
    # identity. The session's map is emptied by a Spark-level SET/RESET,
    # a rebuilt file scan relation and a statement that registers views
    # of its own; an entry goes stale once a table its plan reads is
    # written (_refresh_everywhere) or all plans are invalidated
    # (_invalidate_plans).

    def _cached_plan(self, st: SessionState,
                     key: tuple | None) -> _Plan | None:
        """The session's entry for ``key`` while it is fresh. The first
        repeat checks the plan (``_plan_tables``); ``df`` is None when
        the plan may not be reused."""
        generation = st.plans.generation
        got = st.plans.get(key) if key is not None else None
        if got is None or got.seq < self._invalidated_at:
            return None
        if got.tables is None:
            tables = _plan_tables(got.df)
            got = _Plan(got.df if tables is not None else None, got.seq,
                        tables or ())
            st.plans.put(key, got, generation)
        if any(self._written_at.get(t, 0) > got.seq for t in got.tables):
            return None
        return got

    def _analyze(self, st: SessionState, sql: str, key: tuple | None,
                 args: dict[str, Any] | None = None,
                 ) -> tuple[DataFrame, str | None]:
        """Analyze the statement's final SQL with ``args`` bound to its
        markers, keeping a query's DataFrame under ``key`` (None: not
        reusable) for its repeats. Returns the frame and its plan cache
        outcome, None when the statement is not a query."""
        generation, seq = st.plans.generation, self._plan_seq
        df = st.spark.sql(sql, args=args)
        if not (df.isStreaming or df.schema.fields):
            return df, None
        if key is None or _EXCHANGE_OPS_RE.search(
                df._jdf.queryExecution().analyzed().toString()):
            outcome = "ineligible"
        else:
            outcome = "miss"
            st.plans.put(key, _Plan(df, seq), generation)
        self.telemetry.add_counter("engine.plan_cache_total", result=outcome)
        return df, outcome

    def _invalidate_plans(self) -> None:
        """Make every session's cached plans stale: a statement that is
        not a query ran (DDL, DML, USE, a failed statement), or a session
        re-pointed names its queries resolve."""
        with self._lock:
            self._plan_seq += 1
            self._invalidated_at = self._plan_seq

    def refresh_system_views(self) -> None:
        """Publish/refresh ``global_temp.engine_index_info`` and
        ``global_temp.engine_view_definition`` (the reference's
        ``_gizmosql_system`` catalog, system_catalog.cpp:5-62)."""
        self.system_catalog.publish(self.spark)

    def execute_script(self, session_id: str,
                       script: str) -> list[StatementResult]:
        """Run a multi-statement script (the reference splits init SQL
        client-side, gizmosql_library.cpp:122-157)."""
        return [
            self.execute_sql(session_id, stmt)
            for stmt in split_statements(script)
        ]

    def cancel(self, session_id: str) -> None:
        """CancelQuery / CancelFlightInfo: interrupt the session's
        in-flight statements (duckdb_server.cpp:2016-2042)."""
        st = self._session(session_id)
        self._cancel_session_jobs(st)

    # --- transactions (duckdb_server.cpp:1987-2014) -------------------

    def _table_count(self, st: SessionState, table: str) -> int | None:
        try:
            return st.spark.table(table).count()
        except Exception:
            return None

    def _txn_snapshot(self, st: SessionState, table: str) -> None:
        """Snapshot a managed table the first time the open transaction
        writes it (lakehouse deployments use Delta/Iceberg snapshots
        instead of copies)."""
        txn = st.txn
        if txn is None or table in txn.backups:
            return
        if table_metadata(st.spark, table) is None:
            txn.backups[table] = None
            return
        backup = f"{table}__txn_{txn.txn_id}"
        st.spark.table(table).write.mode("overwrite").saveAsTable(backup)
        txn.backups[table] = backup

    def begin_transaction(self, session_id: str) -> str:
        """Snapshot-emulated transaction (reference: real MVCC BEGIN,
        duckdb_server.cpp:1987-2014). Guarantees, deviations, and the
        Delta/Iceberg upgrade path are documented in
        docs/transactions_and_lakehouse.md."""
        st = self._session(session_id)
        if st.txn is not None:
            raise RuntimeError("transaction already open on this session")
        st.txn = Transaction(uuid.uuid4().hex[:12])
        return st.txn.txn_id

    def end_transaction(self, session_id: str, commit: bool) -> None:
        st = self._session(session_id)
        txn = st.txn
        if txn is None:
            raise RuntimeError("no open transaction on this session")
        st.txn = None
        for table, backup in txn.backups.items():
            if commit:
                if backup is not None:
                    st.spark.sql(f"DROP TABLE IF EXISTS {backup}")
            elif backup is None:
                st.spark.sql(f"DROP TABLE IF EXISTS {table}")
            else:
                st.spark.table(backup).write.mode("overwrite").saveAsTable(table)
                self._refresh_everywhere(table, st.spark)
                st.spark.sql(f"DROP TABLE IF EXISTS {backup}")
        # a rollback drops the tables the transaction created
        self._invalidate_plans()

    def reattach(self) -> list[str]:
        """Re-register manifest tables and views, then invalidate any
        stale per-session file listings for them (each SparkSession
        caches its own — a same-JVM 'restart' would otherwise read
        deleted part files)."""
        attached = self.warehouse.reattach_all(self.spark)
        for name in attached:
            self._refresh_everywhere(name, self.spark)
        return attached

    def _refresh_everywhere(self, table: str, spark: SparkSession) -> None:
        """Make every session read ``table`` as a write in ``spark``
        left it; every write path calls this. One
        ``catalog.refreshTable`` in ``spark`` refreshes the table's file
        index and the cached data Spark shares across sessions (CACHE
        TABLE); every other session then drops its own relation-cache
        entry (``SessionCatalog.refreshTable``), so its next read
        resolves and lists the table anew. The sessions are read under
        the engine lock, so one opened or closed meanwhile cannot break
        the loop. The cached plans that read the table go stale last."""
        try:
            spark.catalog.refreshTable(table)
        except Exception:
            pass
        with self._lock:
            others = [self.spark] + [s.spark for s in self.sessions.values()]
        for sp in others:
            if sp is not spark:
                try:
                    drop_cached_relation(sp, table)
                except AnalysisException:  # a name the parser refuses
                    pass
        with self._lock:
            self._plan_seq += 1
            self._written_at[_table_key(table)] = self._plan_seq

    def collect(self, session_id: str, result: StatementResult,
                timeout: float | None = None) -> list:
        """Materialize as a list of Rows. Shares one statement lifecycle
        with ``collect_arrow`` (``_materialize``: admission, timeout
        watchdog, cancel, execution record and collect span)."""
        st = self._session(session_id)
        return self._materialize(st, result, result.df.collect, timeout)[0]

    def collect_arrow(self, session_id: str, result: StatementResult,
                      timeout: float | None = None):
        """Materialize as a pyarrow Table — the Arrow-stream result path
        (reference: RecordBatchStream over gRPC,
        duckdb_statement_batch_reader.cpp:68-85; here ``df.toArrow()``).
        Shares one statement lifecycle with ``collect``
        (``_materialize``)."""
        st = self._session(session_id)
        table = self._materialize(st, result, result.df.toArrow, timeout)[0]
        # GeoArrow export: stamp geometry (WKB) binary columns with
        # extension metadata at the Arrow boundary, like the reference
        # (docs/geometry.md; only binary columns are even inspected)
        from gizmosql_spark.geo import attach_geoarrow_metadata

        return attach_geoarrow_metadata(table)

    def _materialize(self, st: SessionState, result: StatementResult,
                     action, timeout: float | None,
                     rows=len) -> tuple[Any, float]:
        """Run ``action`` (an action on ``result.df``) as one statement
        execution: admission first (duckdb_statement.cpp:1956-2038),
        then the action on a worker thread in the session's job group,
        interrupted on timeout or cancel (:2042-2192). Every outcome
        leaves one execution row (queue wait + duration) and one
        ``statement.collect`` span on the statement's trace. ``rows``
        maps the action's value to its row count. Returns the value and
        the execution time in ms."""
        if timeout is None:
            timeout = float(st.settings.get(
                "engine.query_timeout", self.global_settings) or 0)
        bypass = bool(st.settings.get("engine.bypass_queue", self.global_settings))
        t_enqueue = time.perf_counter()
        if not bypass:
            self._admission.acquire()
        try:
            t_exec = time.perf_counter()
            queue_wait_ms = (t_exec - t_enqueue) * 1000
            st.statement_seq += 1
            job_desc = f"stmt-{st.statement_seq}"
            sc = self.spark.sparkContext
            out: dict[str, Any] = {}

            def _run():
                sc.setJobGroup(st.session_id, job_desc, interruptOnCancel=True)
                try:
                    out["value"] = action()
                except Exception as e:  # surfaced below
                    out["error"] = e

            worker = threading.Thread(target=_run, daemon=True)
            worker.start()
            worker.join(timeout if timeout > 0 else None)
            timed_out = worker.is_alive()
            if timed_out:
                sc.cancelJobGroup(st.session_id)
                worker.join(10)
        finally:
            if not bypass:
                self._admission.release()
        err, n_rows = out.get("error"), None
        if timed_out:
            status, err = "timeout", StatementTimeout(
                f"statement exceeded {timeout}s")
        elif err is None:
            status, n_rows = "success", rows(out["value"])
            self._maybe_capture_profile(st, result)
        elif st.killed or "cancelled" in str(err).lower():
            status, err = "cancelled", StatementCancelled(str(err))
        else:
            status = "error"
        elapsed_ms = (time.perf_counter() - t_exec) * 1000
        if result.statement_id is not None:
            self.instr.execution(
                result.statement_id, status, queue_wait_ms=queue_wait_ms,
                duration_ms=elapsed_ms, rows_fetched=n_rows,
                error=None if err is None else str(err))
        # child span onto the statement's trace (collect phase)
        with self.telemetry.span(
            "statement.collect", trace_id=result.trace_id,
            parent_id=result.root_span_id, session=st.session_id,
            queue_wait_ms=queue_wait_ms) as sp:
            sp.set_attribute("status", status)
            if err is None:
                sp.set_attribute("rows", n_rows)
            else:
                sp.set_error(str(err))
        if err is not None:
            raise err
        self.telemetry.add_counter("engine.rows_fetched_total", float(n_rows))
        return out["value"], elapsed_ms

    def _run_explain(self, st: SessionState,
                     rw: _Rewritten) -> StatementResult:
        """DuckDB-style ``EXPLAIN ANALYZE <query>``: run the query to
        completion, then report the AQE-FINALIZED physical plan (the
        plan Spark actually executed, with runtime-re-planned joins
        and coalesced partitions) plus wall-clock and row count. The
        inner statement goes through the normal gate/rewrite path, so
        readonly/ACL rules apply exactly as for direct execution.
        Restricted to query statements (documented deviation: DuckDB
        also accepts DML here; its parser refuses any other kind) so
        the EXPLAIN prefix can never smuggle a write past a readonly
        session."""
        result = self._run_statement(st, replace(rw.parsed, args=rw.args))
        if result.df is None:
            raise ValueError("EXPLAIN ANALYZE requires a query statement")
        # the run is a statement execution like any other (admission,
        # engine.query_timeout, cancel), recorded under the outer
        # statement's row and trace. The noop sink evaluates every
        # column, where count() would prune the projections away.
        result.statement_id, span = rw.trace
        if span is not None:
            result.trace_id, result.root_span_id = span.trace_id, span.span_id
        n_rows, elapsed_ms = self._materialize(
            st, result, lambda: _counted_write(
                result.df,
                lambda d: d.write.format("noop").mode("overwrite").save()),
            None, rows=int)
        try:
            plan = result.df._sc._jvm.PythonSQLUtils.explainString(
                result.df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            plan = result.df._jdf.queryExecution().toString()
        header = (
            f"rows: {n_rows}\nelapsed_sec: {round(elapsed_ms / 1000, 4)}\n"
        )
        df = st.spark.createDataFrame(
            [(header + plan,)], "explain_analyze string")
        return StatementResult("query", df=df)

    def _maybe_capture_profile(self, st: SessionState,
                               result: StatementResult) -> None:
        if not bool(
            st.settings.get("engine.capture_query_profile", self.global_settings)
        ):
            return
        try:
            plan = result.df._sc._jvm.PythonSQLUtils.explainString(
                result.df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            plan = ""
        self.query_profiles.append(
            {
                "session_id": st.session_id,
                "statement_seq": st.statement_seq,
                "query_tag": str(
                    st.settings.get("engine.query_tag", self.global_settings) or ""
                ),
                "plan": plan,
            }
        )

    def last_profile(self, session_id: str) -> dict[str, Any] | None:
        for p in reversed(self.query_profiles):
            if p["session_id"] == session_id:
                return p
        return None

    # --- prepared statements (§3.2) -----------------------------------

    def prepare(self, session_id: str, sql: str) -> PreparedStatement:
        """Gate ``sql`` and register it under a new handle. A query or
        read-only command without parameter markers is analyzed through
        the statement path for its schema (a plan cache miss its
        executions then hit); any other statement without markers gets
        no columns and runs only when it is executed."""
        st = self._session(session_id)
        rw = self._gate(st, sql, None, "prepare")
        params = _named_params(sql)
        n_pos = 0 if params else _count_positional_params(sql)
        schema = None  # with markers: learned on the first execution
        if not params and not n_pos:
            schema = (self._run_statement(st, rw).df.schema
                      if rw.stmt.kind in ("query", "describe")
                      else StructType([]))
        names = params or [f"param_{i + 1}" for i in range(n_pos)]
        ps = PreparedStatement(
            str(uuid.uuid4()), sql, schema, names, positional=n_pos > 0)
        st.prepared[ps.handle] = ps
        return ps

    def prepared_statement(self, session_id: str,
                           handle: str) -> PreparedStatement:
        """The session's statement under ``handle``; KeyError if none."""
        ps = self._session(session_id).prepared.get(handle)
        if ps is None:
            raise KeyError(f"no such prepared statement: {handle}")
        return ps

    def execute_prepared(self, session_id: str, handle: str,
                         params: dict[str, Any] | list | None = None,
                         ) -> StatementResult:
        """Bind ``params`` (None: the values last bound to the handle)
        and run the statement on the path ``execute_sql`` runs."""
        ps = self.prepared_statement(session_id, handle)
        result = self._execute(
            session_id, ps.sql, ps.args(params), "execute_prepared")
        if not ps.schema and result.df is not None:
            ps.schema = result.df.schema
        return result

    def close_prepared(self, session_id: str, handle: str) -> None:
        self._session(session_id).prepared.pop(handle, None)

    # --- bulk ingest (§3.3, duckdb_server.cpp:1804-1985) --------------

    def ingest(self, session_id: str, table: str, data,
               mode: str = "create") -> int:
        """Arrow table / RecordBatchReader / batch iterator / pandas /
        DataFrame → managed table, in one Spark job.

        Modes mirror the reference: ``create`` (error if exists),
        ``replace`` (overwrite), ``append`` (by-name column alignment —
        the ``INSERT INTO ... BY NAME`` path, duckdb_server.cpp:
        1954-1974). pandas input is taken as Arrow; Arrow columns Spark
        refuses widen by the §1.2 rules (``types.widen_for_spark``), and
        the upload is decoded in the write tasks (``_upload_frame``).
        Returns the row count the write job committed, observed inside
        that job. For Arrow, pandas and row input it is checked against
        the rows received and a mismatch raises, as the reference
        verifies the interim insert (:1960-1970); a DataFrame has no
        received count, so its observed count is returned as is. Each
        call leaves one ``statement.ingest`` span (rows, Arrow bytes,
        mode, partitions written)."""
        st = self._session(session_id)
        if st.role == "readonly":
            raise security.CommandDenied("readonly role may not ingest")
        save_mode = _INGEST_SAVE_MODES.get(mode)
        if save_mode is None:
            raise ValueError(f"unknown ingest mode: {mode}")
        if st.txn is not None:
            self._txn_snapshot(st, table)
        with self.telemetry.span("statement.ingest", session=session_id,
                                 user=st.username, table=table,
                                 mode=mode) as sp:
            received = None
            if isinstance(data, DataFrame):
                df = data
            else:
                if isinstance(data, pa.RecordBatchReader):
                    data = data.read_all()
                elif not isinstance(data, pa.Table):
                    if hasattr(data, "columns"):  # pandas
                        data = pa.Table.from_pandas(data,
                                                    preserve_index=False)
                    else:
                        data = list(data)
                        if data and isinstance(data[0], pa.RecordBatch):
                            data = pa.Table.from_batches(data)
                received = len(data)
                if isinstance(data, pa.Table):
                    sp.set_attribute("arrow_bytes", data.nbytes)
                    df, parts = _upload_frame(st, widen_for_spark(data))
                    sp.set_attribute("partitions", parts)
                else:  # Python rows
                    df = st.spark.createDataFrame(data)
            if mode == "replace":
                try:
                    self.warehouse.snapshot(st.spark, table)
                except Exception:
                    pass
            meta = self.warehouse.prepare_write(
                st.spark, table, overwrite=mode == "replace")
            if mode == "append":
                if meta is None:
                    raise ValueError(
                        f"ingest append: no such table {table!r}")
                df = df.select(*meta.schema.fieldNames())
            n = _counted_write(
                df, lambda d: d.write.mode(save_mode).saveAsTable(table))
            sp.set_attribute("rows", n)
            self._refresh_everywhere(table, st.spark)
            self.warehouse.record(st.spark, table)
            if received is not None and n != received:
                raise RuntimeError(
                    f"ingest into {table}: received {received} rows, "
                    f"the write committed {n}")
        self.telemetry.add_counter("engine.ingest_rows_total", float(n))
        return n

    def _summarize(self, st: SessionState, query: str):
        """SUMMARIZE <table|SELECT …> — DuckDB's per-column profile
        statement, same column contract (column_name/column_type/min/
        max/approx_unique/avg/std/q25/q50/q75/count/null_percentage),
        over ``query`` (a table reads as ``SELECT * FROM`` it).
        One wide aggregation pass over the relation (every stat is a
        partial agg; percentiles are approx sketches), then the single
        collected row unpivots into the per-column report — scalars to
        the driver, never data."""
        df = st.spark.sql(query)
        num_types = ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "decimal")
        aggs, meta = [], []
        for f in df.schema.fields:
            c, typ = f.name, f.dataType.simpleString()
            is_num = any(typ.startswith(p) for p in num_types)
            is_simple = is_num or typ in ("string", "date", "boolean") \
                or typ.startswith("timestamp")
            meta.append((c, typ, is_num))
            col = F.col(f"`{c}`")
            aggs += [
                (F.min(col).cast("string") if is_simple else
                 F.lit(None).cast("string")).alias(f"min_{c}"),
                (F.max(col).cast("string") if is_simple else
                 F.lit(None).cast("string")).alias(f"max_{c}"),
                (F.approx_count_distinct(col) if is_simple else
                 F.lit(None).cast("bigint")).alias(f"uniq_{c}"),
                (F.avg(col) if is_num else
                 F.lit(None).cast("double")).alias(f"avg_{c}"),
                (F.stddev_samp(col) if is_num else
                 F.lit(None).cast("double")).alias(f"std_{c}"),
                (F.percentile_approx(col, 0.25) if is_num else
                 F.lit(None).cast("double")).alias(f"q25_{c}"),
                (F.percentile_approx(col, 0.5) if is_num else
                 F.lit(None).cast("double")).alias(f"q50_{c}"),
                (F.percentile_approx(col, 0.75) if is_num else
                 F.lit(None).cast("double")).alias(f"q75_{c}"),
                F.count(col).alias(f"nn_{c}"),
            ]
        row = df.agg(*aggs, F.count(F.lit(1)).alias("_n")).collect()[0]
        n = row["_n"]
        out = [
            (c, typ, row[f"min_{c}"], row[f"max_{c}"],
             row[f"uniq_{c}"],
             str(row[f"avg_{c}"]) if row[f"avg_{c}"] is not None else None,
             str(row[f"std_{c}"]) if row[f"std_{c}"] is not None else None,
             str(row[f"q25_{c}"]) if row[f"q25_{c}"] is not None else None,
             str(row[f"q50_{c}"]) if row[f"q50_{c}"] is not None else None,
             str(row[f"q75_{c}"]) if row[f"q75_{c}"] is not None else None,
             n,
             round(100.0 * (n - row[f"nn_{c}"]) / n, 2) if n else 0.0)
            for c, typ, _ in meta
        ]
        return st.spark.createDataFrame(
            out,
            "column_name string, column_type string, min string,"
            " max string, approx_unique bigint, avg string, std string,"
            " q25 string, q50 string, q75 string, count bigint,"
            " null_percentage double",
        )

    def _run_pragma(self, st: SessionState,
                    rw: _Rewritten) -> StatementResult:
        """DuckDB client-compat PRAGMAs (the reference passes PRAGMA
        statements through to DuckDB; admin_command_guard.cpp:372
        gates the dangerous ones). Unknown pragmas fail closed."""
        spark, (name, arg) = st.spark, rw.parsed
        if name == "version":
            df = spark.createDataFrame(
                [(f"spark-{spark.version}", "gizmosql-spark")],
                "library_version string, source_id string")
            return StatementResult("query", df=df)
        if name == "database_list":
            df = spark.createDataFrame(
                [(0, spark.catalog.currentCatalog(), "")],
                "seq int, name string, file string")
            return StatementResult("query", df=df)
        if name == "show_tables":
            df = spark.sql("SHOW TABLES").select(
                F.col("tableName").alias("name"))
            return StatementResult("query", df=df)
        if name == "table_info":
            if not arg:
                raise ValueError("PRAGMA table_info requires a table name")
            fields = spark.table(arg).schema.fields
            pks = set(
                self.system_catalog.registry.primary_keys.get(arg, ()))
            df = spark.createDataFrame(
                [(i, f.name, f.dataType.simpleString(),
                  not f.nullable, None,
                  f.name in pks)
                 for i, f in enumerate(fields)],
                "cid int, name string, type string, notnull boolean,"
                " dflt_value string, pk boolean")
            return StatementResult("query", df=df)
        if name == "table_history":
            if not arg:
                raise ValueError("PRAGMA table_history requires a table")
            vs = self.warehouse.versions(arg)
            df = spark.createDataFrame(
                [(v["version"], v["path"], float(v["at"])) for v in vs]
                or [(0, "", 0.0)],
                "version int, path string, at double")
            return StatementResult(
                "query", df=df.filter("version > 0"))
        if name == "table_files":
            # Iceberg `files` metadata-table analog: one row per data
            # file with its size — what OPTIMIZE reads to decide
            # whether compaction is worth a rewrite
            if not arg:
                raise ValueError("PRAGMA table_files requires a table")
            meta = table_metadata(spark, arg)
            if meta is None:
                raise ValueError(f"PRAGMA table_files: no such table {arg!r}")
            loc = meta.location
            rows = []
            if loc and os.path.isdir(loc):
                for root, _d, files in os.walk(loc):
                    for f in sorted(files):
                        if f.startswith(("_", ".")):
                            continue
                        p = os.path.join(root, f)
                        try:
                            rows.append(
                                (os.path.relpath(p, loc),
                                 os.path.getsize(p)))
                        except OSError:
                            pass
            df = spark.createDataFrame(
                rows or [("", 0)], "file string, size_bytes bigint")
            return StatementResult("query", df=df.filter("file <> ''"))
        if name == "import_database":
            # parsed as PRAGMA by DuckDB (admin_command_guard.cpp:373)
            return self._import_database(st, arg)
        raise ValueError(f"unsupported PRAGMA: {name}")

    def register_arrow_view(self, session_id: str, name: str,
                            table) -> int:
        """Arrow data → SESSION temp view (no storage write). The
        DoExchange seam: pushed batches become queryable mid-call
        without a managed-table round trip; the view lives and dies
        with the session's isolated SparkSession. Columns Spark cannot
        hold widen as they do on ingest (``types.widen_for_spark``)."""
        import re

        st = self._session(session_id)
        if not re.fullmatch(r"[A-Za-z_]\w*", name):
            raise ValueError(f"invalid view name: {name!r}")
        df = st.spark.createDataFrame(widen_for_spark(table))
        df.createOrReplaceTempView(name)
        self._invalidate_plans()
        return table.num_rows

    # --- metadata + health (§2A) --------------------------------------

    def get_session_options(self, session_id: str) -> dict[str, str]:
        """GetSessionOptions: current catalog/schema; doubles as a
        non-creating liveness probe (duckdb_server.cpp:2079-2109)."""
        st = self._session(session_id)
        return {
            "catalog": st.spark.catalog.currentCatalog(),
            "schema": st.spark.catalog.currentDatabase(),
        }

    def set_session_options(self, session_id: str, catalog: str | None = None,
                            schema: str | None = None) -> None:
        st = self._session(session_id)
        if catalog:
            st.spark.catalog.setCurrentCatalog(catalog)
        if schema:
            st.spark.catalog.setCurrentDatabase(schema)
        self._invalidate_plans()

    def health_check(self) -> bool:
        """SELECT 1 heartbeat (health_service.cpp)."""
        try:
            return self.spark.sql("SELECT 1").collect()[0][0] == 1
        except Exception:
            return False

    def start_health_monitor(self, interval_seconds: float = 5.0) -> None:
        """Background heartbeat with staleness detection — the
        reference runs its --health-check-query on a thread and reports
        stale when the last success ages out (health_service.cpp,
        wiring gizmosql_library.cpp:1010-1052)."""
        if getattr(self, "_health_stop", None) is not None:
            return
        self._health_stop = threading.Event()
        self._health_last_ok: float | None = None
        self._health_interval = interval_seconds

        def _loop():
            # only the very first iteration runs immediately; an
            # unhealthy engine must not hot-loop SELECT 1 with no
            # backoff while waiting for its first success
            first = True
            while not self._health_stop.wait(0.0 if first else interval_seconds):
                first = False
                if self.health_check():
                    self._health_last_ok = time.time()

        self._health_thread = threading.Thread(target=_loop, daemon=True)
        self._health_thread.start()

    def stop_health_monitor(self) -> None:
        stop = getattr(self, "_health_stop", None)
        if stop is not None:
            stop.set()
            self._health_thread.join(5)
            self._health_stop = None

    def health_status(self) -> dict[str, Any]:
        """Live + staleness view of the monitor (stale when the last
        success is older than 3 heartbeat intervals)."""
        last_ok = getattr(self, "_health_last_ok", None)
        if last_ok is None:
            return {"healthy": False, "stale": True, "last_ok_age_s": None}
        age = time.time() - last_ok
        return {
            "healthy": True,
            "stale": age > 3 * getattr(self, "_health_interval", 5.0),
            "last_ok_age_s": age,
        }

    #: the engine's own commands, each parsed once (``_classify``), gated
    #: by what its parser read and run from one dispatch
    #: (``_run_command``). The rows that read the text as sent are tried
    #: before the rewrites, the others after them; text no row reads is
    #: Spark's.
    _COMMANDS = (
        _Command(_parser(_SET_RE.match, lambda m: Statement("command")),
                 _run_set, raw=True, keeps_plans=True),
        _Command(_parser(_KILL_RE.match, lambda m: Statement(
            "command", admin="KILL SESSION")),
                 _run_kill, raw=True, keeps_plans=True),
        _Command(_parser(_TXN_RE.match, lambda m: Statement("command")),
                 _run_txn, raw=True, keeps_plans=True),
        _Command(_parser(_CREATE_INDEX_RE.match, lambda m: Statement(
            "write", reads=(tuple(m[2].split(".")),))),
                 _run_create_index, raw=True, keeps_plans=True),
        _Command(_parser(_DROP_INDEX_RE.match, lambda m: Statement("write")),
                 _run_drop_index, raw=True, keeps_plans=True),
        _Command(_parser(parse_secret_ddl, lambda got: Statement(
            "write", admin=f"{got[0].upper()} SECRET")),
                 _run_secret, raw=True),
        _Command(_parser(parse_create_macro, lambda got: Statement("write")),
                 _run_create_macro, raw=True),
        _Command(_parser(parse_drop_macro, lambda got: Statement("write")),
                 _run_drop_macro, raw=True),
        _Command(_parser(parse_pragma, lambda got: Statement(
            "write", admin="IMPORT DATABASE")
            if got[0] == "import_database" else Statement(
                "command",
                reads=(tuple(got[1].split(".")),) if got[1] else ())),
                 _run_pragma, raw=True),
        _Command(_parse_explain, _run_explain, raw=True),
        _Command(_parser(lambda sql: _ATTACH_RE.match(sql) and (
            parse_attach_flight(sql) or (None,) * 4),
            lambda got: Statement("write", admin="ATTACH")),
                 _run_attach, raw=True),
        _Command(_parser(parse_detach, lambda got: Statement(
            "write", admin="DETACH")), _run_detach, raw=True),
        _Command(_parser(_EXTENSION_RE.match, lambda m: Statement(
            "write", admin=m[1].upper())), _run_extension, raw=True),
        _Command(_parser(_CHECKPOINT_RE.match, lambda m: Statement(
            "write", admin="CHECKPOINT")), _run_checkpoint, raw=True),
        _Command(_parser(_DATABASE_RE.match, lambda m: Statement(
            "write", admin=f"{m[1].upper()} DATABASE", paths=(m[2],))),
                 _run_database, raw=True),
        _Command(_parse_pivot, _run_pivot),
        _Command(_parse_summarize, _run_summarize),
        _Command(_parser(maintenance.parse_optimize, _writes(0)),
                 _run_optimize),
        _Command(_parser(maintenance.parse_restore, _writes(0)), _run_restore),
        _Command(_parser(maintenance.parse_vacuum, _writes(0)), _run_vacuum),
        _Command(_parse_copy, _run_copy),
        _Command(_parse_upsert, _run_upsert),
        _Command(_dml_parser(dml.parse_update), _run_update),
        _Command(_dml_parser(dml.parse_delete), _run_delete),
        _Command(_dml_parser(dml.parse_merge), _run_merge),
        _Command(_parser(maintenance.parse_alter_evolution, _writes(1)),
                 _run_evolution),
    )
