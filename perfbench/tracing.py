"""Server-side tracing for the benchmark's traced run.

``install_server()`` wraps the public entry points of each layer in
spans, from outside the program: the Flight handlers, the auth
middleware, ``Engine.execute_sql``/``collect_arrow``/``ingest``, the
security and dialect functions (patched on the module that calls
them), admission, the log sinks, the Spark calls the engine makes, the
warehouse manifest and the operator registry. Spans stay in memory and
``Tracer.dump`` writes them out at shutdown. A span's statement id
comes from the ``x-perfbench-stmt`` header of the RPC that caused it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

from perfbench.client import STMT_HEADER


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: id(object) -> span index, for work handed to another thread
        self._bound: dict[int, int] = {}

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> int:
        stack = self._stack()
        return stack[-1] if stack else -1

    def stmt(self, idx: int) -> str | None:
        while idx >= 0:
            span = self.spans[idx]
            if span["stmt"]:
                return span["stmt"]
            idx = span["parent"]
        return None

    def begin(self, name: str, stmt: str | None = None,
              parent: int | None = None) -> int:
        parent = self.current() if parent is None else parent
        with self._lock:
            self.spans.append({"name": name, "t0": time.perf_counter(),
                               "t1": 0.0, "parent": parent, "stmt": stmt,
                               "thread": threading.get_ident()})
            idx = len(self.spans) - 1
        self._stack().append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["t1"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def count(self, name: str, value: float, idx: int) -> None:
        """Add ``value`` to counter ``name`` of span ``idx``'s statement."""
        sid = self.stmt(idx)
        if sid is not None:
            with self._lock:
                self.counters[sid][name] += value

    def bind(self, obj, idx: int) -> None:
        self._bound[id(obj)] = idx

    def bound(self, obj) -> int:
        return self._bound.get(id(obj), -1)

    def dump(self, path: str, engine) -> None:
        stats = engine._admission.stats()
        out = {
            "spans": [s for s in self.spans if s["t1"]],
            "counters": {k: dict(v) for k, v in self.counters.items()},
            "samples": dict(self.samples),
            "admission": {"peak_queued": stats.peak_queued,
                          "peak_executing": stats.peak_executing},
        }
        # spans reference each other by index: renumber after filtering
        keep = [i for i, s in enumerate(self.spans) if s["t1"]]
        remap = {old: new for new, old in enumerate(keep)}
        for s in out["spans"]:
            s["parent"] = remap.get(s["parent"], -1)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f)


def _wrap(tracer: Tracer, owner, attr: str, name: str, stmt_of=None,
          parent_of=None, after=None):
    """Replace ``owner.attr`` with a version that records a span. The
    parent is ``parent_of(*args)`` when that gives an index, else the
    thread's current span; a call outside every statement is passed
    through untraced."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        parent = parent_of(*args) if parent_of else None
        if parent is None:
            parent = tracer.current()
        sid = stmt_of(*args) if stmt_of else None
        if parent < 0 and sid is None:
            return orig(*args, **kwargs)
        idx = tracer.begin(name, sid, parent)
        try:
            out = orig(*args, **kwargs)
            if after is not None:
                after(idx, out, *args)
            return out
        finally:
            tracer.end(idx)

    setattr(owner, attr, traced)


class _TimedContext:
    """Times a context manager's enter and exit as two sink spans,
    leaving out the body it wraps."""

    def __init__(self, tracer: Tracer, cm, name: str):
        self.tracer, self.cm, self.name = tracer, cm, name

    def __enter__(self):
        if self.tracer.current() < 0:
            return self.cm.__enter__()
        idx = self.tracer.begin(self.name)
        try:
            return self.cm.__enter__()
        finally:
            self.tracer.end(idx)

    def __exit__(self, *exc):
        if self.tracer.current() < 0:
            return self.cm.__exit__(*exc)
        idx = self.tracer.begin(self.name)
        try:
            return self.cm.__exit__(*exc)
        finally:
            self.tracer.end(idx)


#: module-level session caches of the operator tier (a miss adds one)
_CACHE_DICTS = {
    "gizmosql_spark.operators.loader": (
        "_CACHE", "_PERSISTED", "_BOUNDED", "_ROW_COUNTS", "_COL_STATS"),
    "gizmosql_spark.operators.scale": (
        "_BOUNDS_CACHE", "_GRN_STATS_CACHE", "_KEYED_SCALARS"),
    "gizmosql_spark.operators.similarity": ("_IVF_MODEL_CACHE", "_KNN_PROBES"),
    "gizmosql_spark.operators.training": (
        "_LLOYD_FIT_CACHE", "_PCA_FIT_CACHE"),
    "gizmosql_spark.operators.dedup": ("_CLUSTER_EDGE_COUNT",),
}


def cache_entries() -> int:
    """Entries in every operator cache dict (a module not yet imported
    has none)."""
    import sys

    return sum(len(getattr(sys.modules[mod], n, None) or ())
               for mod, names in _CACHE_DICTS.items()
               if mod in sys.modules for n in names)


def install_server() -> Tracer:
    """Wrap every traced entry point; call before the Engine is built."""
    from pyspark.sql import DataFrameReader, DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from gizmosql_spark import admission, dialect, engine, flight_server, geo
    from gizmosql_spark import instrumentation, querylog, security
    from gizmosql_spark import telemetry, warehouse
    from gizmosql_spark.operators import registry

    tr = Tracer()

    # --- Flight handlers and the auth middleware ----------------------
    orig_start = flight_server._AuthMiddlewareFactory.start_call

    def start_call(self, info, headers):
        sid = (headers.get(STMT_HEADER.decode()) or [None])[0]
        if sid is None:
            return orig_start(self, info, headers)
        idx = tr.begin("auth.start_call", sid, -1)
        try:
            mw = orig_start(self, info, headers)
            mw._perfbench_stmt = sid
            return mw
        finally:
            tr.end(idx)

    flight_server._AuthMiddlewareFactory.start_call = start_call

    def handler_stmt(server, context, *rest):
        mw = context.get_middleware("auth")
        return getattr(mw, "_perfbench_stmt", None)

    def tickets_after(idx, out, server, *rest):
        tr.samples["tickets_open"].append(len(server._tickets))

    for attr in ("get_flight_info", "do_get", "do_put", "do_action"):
        _wrap(tr, flight_server.FlightEngineServer, attr, f"flight.{attr}",
              stmt_of=handler_stmt, parent_of=lambda *a: -1,
              after=tickets_after)

    # --- engine statement path -----------------------------------------
    _wrap(tr, engine.Engine, "execute_sql", "engine.execute_sql")
    _wrap(tr, engine.Engine, "execute_prepared", "engine.execute_prepared")
    _wrap(tr, engine.Engine, "ingest", "engine.ingest")

    orig_collect = engine.Engine.collect_arrow

    @functools.wraps(orig_collect)
    def collect_arrow(self, session_id, result, *args, **kwargs):
        if tr.current() < 0:
            return orig_collect(self, session_id, result, *args, **kwargs)
        idx = tr.begin("engine.collect_arrow")
        if result.df is not None:
            tr.bind(result.df, idx)  # toArrow runs on a worker thread
        tracker = self.spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(session_id))
        try:
            return orig_collect(self, session_id, result, *args, **kwargs)
        finally:
            jobs = set(tracker.getJobIdsForGroup(session_id)) - before
            stages = tasks = failed = 0
            for jid in jobs:
                job = tracker.getJobInfo(jid)
                for stage_id in (job.stageIds if job else ()):
                    stage = tracker.getStageInfo(stage_id)
                    stages += 1
                    if stage is not None:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            for key, val in (("spark.jobs", len(jobs)),
                             ("spark.stages", stages),
                             ("spark.tasks", tasks),
                             ("spark.failed_tasks", failed)):
                tr.count(key, val, idx)
            tr.end(idx)

    engine.Engine.collect_arrow = collect_arrow

    # security and dialect: patched on the module and on every module
    # that imported the function by name
    callers = (engine, flight_server, dialect, security)

    def patch_functions(module, layer: str, names):
        for n in names:
            orig = getattr(module, n)
            _wrap(tr, module, n, f"{layer}.{n}")
            new = getattr(module, n)
            for caller in callers:
                if caller is not module and getattr(caller, n, None) is orig:
                    setattr(caller, n, new)

    patch_functions(security, "security", (
        "check_admin_gate", "check_readonly", "check_catalog_access"))
    _wrap(tr, engine, "check_system_catalog_write",
          "security.check_system_catalog_write")
    patch_functions(dialect, "dialect", sorted(
        n for n, v in vars(dialect).items()
        if callable(v) and not n.startswith("_") and not isinstance(v, type)
        and getattr(v, "__module__", "") == dialect.__name__))

    # --- admission and the log sinks ---------------------------------------
    _wrap(tr, admission.AdmissionController, "acquire", "admission.acquire")
    _wrap(tr, querylog.QueryLog, "record", "sinks.query_log")
    _wrap(tr, instrumentation.AccessLog, "record", "sinks.access_log")
    for attr in ("statement", "execution", "session_started"):
        _wrap(tr, instrumentation.InstrumentationStore, attr,
              f"sinks.instr_{attr}")
    _wrap(tr, telemetry.Telemetry, "add_counter", "sinks.telemetry_counter")
    orig_span = telemetry.Telemetry.span

    @functools.wraps(orig_span)
    def span(self, *args, **kwargs):
        return _TimedContext(tr, orig_span(self, *args, **kwargs),
                             "sinks.telemetry_span")

    telemetry.Telemetry.span = span

    # --- Spark calls, the Arrow boundary, warehouse, operators -----------
    _wrap(tr, SparkSession, "sql", "spark.sql")
    _wrap(tr, SparkSession, "createDataFrame", "spark.create_df")
    _wrap(tr, DataFrameReader, "load", "spark.load")
    _wrap(tr, DataFrameWriter, "saveAsTable", "spark.save_as_table")
    _wrap(tr, DataFrame, "count", "spark.count")
    _wrap(tr, DataFrame, "toArrow", "spark.to_arrow",
          parent_of=lambda df, *a: None if tr.current() >= 0
          else tr.bound(df))
    _wrap(tr, geo, "attach_geoarrow_metadata", "arrow.geoarrow")
    _wrap(tr, warehouse.WarehouseCatalog, "record", "warehouse.record")

    orig_resolve = registry.resolve

    @functools.wraps(orig_resolve)
    def resolve(name):
        if tr.current() < 0:
            return orig_resolve(name)
        idx = tr.begin("operators.resolve")
        try:
            fn = orig_resolve(name)
        finally:
            tr.end(idx)

        @functools.wraps(fn)
        def build(*args, **kwargs):
            idx = tr.begin("operators.build")
            before = cache_entries()
            try:
                return fn(*args, **kwargs)
            finally:
                tr.count("operators.cache_entries_added",
                         cache_entries() - before, idx)
                tr.end(idx)
        return build

    registry.resolve = resolve
    return tr
