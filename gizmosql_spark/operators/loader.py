"""Shared fixture-table loader with plan memoization.

``spark.read.parquet`` builds a fresh InMemoryFileIndex + reads the
footer schema every call; operators run many queries over the same ten
tables, so the resolved DataFrames (immutable logical plans) are
memoized per (session, dir, table). On a cluster the same role is
played by the catalog (tables registered once); this keeps the
fixture-path API allocation-free per query.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple[int, str, str], DataFrame] = {}

_CONFD: set[int] = set()


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the fixture contract depends on, applied
    defensively in case the caller's session wasn't built by
    gizmosql_spark.session.get_spark: ns-timestamp parquet reads
    (events fixture) and the UTC session timezone the oracles assume
    (the reference exports TIMESTAMP_TZ as UTC µs)."""
    if id(spark) in _CONFD:
        return
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _CONFD.add(id(spark))


#: Input-size threshold for runtime re-planning. AQE's per-stage
#: materialization (stage submit → stats → re-optimize) costs
#: ~100-150 ms per query on a warm local session — pure overhead when
#: the whole input is megabytes and every stage finishes in
#: milliseconds, but exactly the machinery that re-picks join
#: strategies, coalesces shuffles, and splits skew once stages carry
#: real data. The engine therefore keys adaptivity off the input
#: size: below the threshold the static plan (with the same broadcast
#: thresholds and partition counts) runs as-is; at the 100 TB design
#: point every scan crosses it and AQE is always on. Override with
#: SPARK_GRAFT_AQE_MIN_BYTES (0 = always adaptive).
AQE_MIN_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_AQE_MIN_BYTES", str(1 << 30)))

_AQE_DECISION: dict[str, str | None] = {}

#: Last value THIS policy wrote per session — when the live conf
#: differs, someone else (a user SET, a test probe) changed it after
#: us, and an explicit override outranks the size heuristic until the
#: session goes away. Weak-keyed on the session itself: an id()-keyed
#: dict can hand a NEW session a dead session's state when CPython
#: reuses the address (nothing here keeps sessions alive, unlike
#: _CACHE/_PERSISTED).
_AQE_SET: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary())


def _dir_is_small(sf_dir: str) -> bool | None:
    """True if the fixture directory's total parquet bytes sit below
    the adaptivity threshold; None if the probe fails. Cached via
    _AQE_DECISION (string-typed for historical reasons)."""
    decision = _AQE_DECISION.get(sf_dir, "unset")
    if decision == "unset":
        size = None
        try:
            size = sum(
                os.path.getsize(os.path.join(sf_dir, f))
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
            )
        except OSError:
            pass
        decision = (
            None if size is None
            else ("true" if size >= AQE_MIN_INPUT_BYTES else "false"))
        _AQE_DECISION[sf_dir] = decision
    return None if decision is None else decision == "false"


def tune_adaptivity(spark: SparkSession, sf_dir: str) -> None:
    """Align spark.sql.adaptive.enabled with the fixture directory's
    total parquet bytes. The size probe is cached per dir; the conf is
    re-aligned on EVERY table() call so the setting always tracks the
    dir being queried — the previous once-per-(session, dir) form left
    the conf wherever the most recently *first-seen* dir put it, so
    one small-dir operator could park AQE off for every later query
    on a big dir (and switching back to the first dir was a no-op)."""
    small = _dir_is_small(sf_dir)
    decision = None if small is None else ("false" if small else "true")
    if decision is not None:
        try:
            cur = spark.conf.get("spark.sql.adaptive.enabled")
            prev_set = _AQE_SET.get(spark)
            if prev_set is not None and cur != prev_set:
                # Someone set the conf after our last write — an
                # explicit override (user SET / test probe) beats the
                # size heuristic for the rest of the session.
                return
            if cur != decision:
                spark.conf.set("spark.sql.adaptive.enabled", decision)
            _AQE_SET[spark] = decision
        except Exception:
            pass


#: Shuffle width for sub-threshold inputs. Task launch + stage
#: bookkeeping is ~1-2 ms per task even when a partition holds
#: kilobytes; at 32-wide shuffles that is most of a small query's
#: wall-clock (A/B over a 16-query batch sample at sf0.1: width 32 =
#: 5.3 s, width 8 = 4.6 s, width 4 = 4.1 s). The engine keys the
#: width off input size exactly like adaptivity above: small dirs run
#: narrow, and at the 100 TB design point every scan crosses the
#: threshold and shuffles at the session's full width (where AQE
#: coalescing — enabled there — owns the reducer count anyway).
SMALL_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_SMALL_SHUFFLE", "8"))

#: Per-session width management state: session -> (first_seen width,
#: our last write). A session whose current width was never written by
#: us and differs from our last write was pinned by someone else (a
#: user SET, the bounded/streaming clones, a test probe) — explicit
#: overrides outrank the size heuristic, matching the AQE policy
#: above. Weak-keyed for the same id()-reuse reason as _AQE_SET: a
#: recycled address must not inherit a dead session's pin/width.
_WIDTH_STATE: "weakref.WeakKeyDictionary[SparkSession, tuple[str, str | None]]" = (
    weakref.WeakKeyDictionary())


def tune_shuffle_width(spark: SparkSession, sf_dir: str) -> None:
    """Align spark.sql.shuffle.partitions with the fixture directory's
    input size: sub-threshold dirs shuffle at SMALL_SHUFFLE_PARTITIONS,
    big dirs restore the session's own launch-time width. Re-aligned on
    every table() call (same reasoning as tune_adaptivity); a width the
    session acquired any other way — clone construction, user SET — is
    treated as pinned and never touched.

    SINGLE-DIR CONTRACT (r8 verdict item 6): because the policy
    re-aligns per table() call, a query whose plan touches TWO dirs
    executes at whichever dir was loaded LAST — load the big side last
    (or pin the width explicitly) when mixing a small dim dir with a
    big fact dir. Every corpus query reads one dir; the behavior is
    pinned in tests/test_width_policy.py. At the 100 TB design point
    the policy is inert either way: every dir crosses the threshold,
    the session runs at launch width, and AQE owns the reducer
    count."""
    small = _dir_is_small(sf_dir)
    if small is None:
        return
    try:
        cur = spark.conf.get("spark.sql.shuffle.partitions")
        state = _WIDTH_STATE.get(spark)
        if state is None:
            state = (cur, None)
            _WIDTH_STATE[spark] = state
        first_seen, last_write = state
        if last_write is not None and cur != last_write:
            return  # externally overridden since our last write
        want = (
            str(min(int(first_seen), SMALL_SHUFFLE_PARTITIONS))
            if small else first_seen)
        if cur != want:
            spark.conf.set("spark.sql.shuffle.partitions", want)
        _WIDTH_STATE[spark] = (first_seen, want)
    except Exception:
        pass


_PERSISTED: dict[tuple[int, str], DataFrame] = {}


class conf_scope:
    """Context manager applying session confs for the duration of a
    materialization, restoring previous values (or unsetting) after.
    Callers must trigger their action INSIDE the scope — lazy frames
    plan exchanges at action time, so a restored conf would otherwise
    silently undo the override."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]) -> None:
        self.spark, self.confs = spark, confs

    def __enter__(self) -> None:
        self.prev: dict[str, str | None] = {}
        for k, v in self.confs.items():
            try:
                self.prev[k] = self.spark.conf.get(k)
            except Exception:
                self.prev[k] = None
            self.spark.conf.set(k, v)

    def __exit__(self, *exc) -> None:
        for k, v in self.prev.items():
            if v is None:
                try:
                    self.spark.conf.unset(k)
                except Exception:
                    pass
            else:
                self.spark.conf.set(k, v)


_BOUNDED: dict[int, SparkSession] = {}

#: Shuffle width for the bounded clone — graph edges, day grids, and
#: other frames whose size is constant (or corpus-sliver) at any SF.
BOUNDED_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_BOUNDED_PARTITIONS", "8"))


def bounded_session(spark: SparkSession) -> SparkSession:
    """Conf-isolated session clone with a small shuffle width, for
    operators whose frames are bounded (graph edges, series, grids) —
    corpus-width task counts cost more in scheduling than they buy in
    parallelism there (measured 3-4x on the graph family at sf0.1).

    This replaces the old set-then-restore clamp on the SHARED
    session conf: the engine is multi-session (engine.py shares one
    SparkSession across clients), so a concurrent statement planned
    inside the restore window silently inherited the clamped width.
    A ``newSession()`` clone shares the SparkContext (executors,
    block manager, broadcast caches) but owns its conf, so the clamp
    is permanent here and invisible everywhere else. Frames built on
    the clone plan their shuffles at the clamped width; keyed_persist
    keys on session id, so operators that share cached graph frames
    must consistently build them through this clone."""
    key = id(spark.sparkContext)
    s = _BOUNDED.get(key)
    if s is None:
        s = spark.newSession()
        s.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(4, min(int(spark.conf.get(
                "spark.sql.shuffle.partitions")),
                BOUNDED_SHUFFLE_PARTITIONS))))
        ensure_session_confs(s)
        _BOUNDED[key] = s
    return s


def keyed_persist(spark: SparkSession, key: str, builder,
                  materialize: bool = False) -> DataFrame:
    """Persist-once registry for intermediate frames shared across
    queries (shingle postings, LSH buckets, term counts). Repeated
    calls reuse the one cached frame instead of stacking a new
    ``persist()`` per call — a long-lived session would otherwise
    accumulate cached partitions without bound.

    ``materialize=True`` runs the pinning ``count()`` on the FIRST
    build only: callers that need the frame materialized inside a
    specific conf scope (e.g. the graph-width bounded session) used to
    call ``.count()`` on every invocation — a redundant cached-scan
    job per call once the frame is warm (r12)."""
    k = (id(spark), key)
    df = _PERSISTED.get(k)
    if df is None:
        df = builder().persist()
        if materialize:
            df.count()
        _PERSISTED[k] = df
    return df


_ROW_COUNTS: dict[tuple[str, str], int] = {}


def row_count(sf_dir: str, name: str) -> int:
    """Fixture-table row count from the parquet FOOTER (no scan, no
    Spark job). Operators that size parameters from corpus cardinality
    (embedding_neardup's block count, LSH rows-per-band) were paying a
    full-scan ``count()`` per invocation — 3x per bench pass — for a
    number the file metadata already holds. Memoized per (dir, table);
    the fixtures are immutable for a session's lifetime (same contract
    the plan cache above relies on)."""
    key = (sf_dir, name)
    n = _ROW_COUNTS.get(key)
    if n is None:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(
            os.path.join(sf_dir, f"{name}.parquet")).metadata.num_rows
        _ROW_COUNTS[key] = n
    return n


_COL_STATS: dict[tuple[str, str, str], tuple | None] = {}


def column_minmax(sf_dir: str, name: str, col: str) -> tuple | None:
    """(min, max) of a fixture column from the parquet FOOTER
    statistics (no scan, no Spark job) — the same §6 metadata class as
    row_count: at 100 TB these are the table-level column stats every
    warehouse keeps. Footer stats exclude nulls, exactly like
    F.min/F.max. Returns None (callers fall back to a scan) when the
    footer cannot give F.min/F.max's answer:

    - a floating-point column: writers leave NaN out of the stats,
      where Spark orders NaN above every number;
    - a row group without min/max stats. pyarrow reports none for a
      column whose sort order is unknown, or whose writer is known to
      order it wrongly.

    Memoized per (dir, table, column); the fixtures are immutable for
    a session's lifetime."""
    key = (sf_dir, name, col)
    if key in _COL_STATS:
        return _COL_STATS[key]
    got = None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet"))
        idx = f.schema_arrow.names.index(col)
        lo = hi = None
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None and not pa.types.is_floating(
                f.schema_arrow.field(idx).type):
            got = (lo, hi)
    except Exception:
        got = None
    _COL_STATS[key] = got
    return got


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    tune_adaptivity(spark, sf_dir)
    tune_shuffle_width(spark, sf_dir)
    key = (id(spark), sf_dir, name)
    df = _CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _CACHE[key] = df
    return df
