"""SparkSession construction with scale-appropriate defaults.

The reference configures its engine at startup (memory cap, thread
count: /root/reference/src/duckdb/duckdb_server.cpp:2300-2322). The
Spark analog is a session builder with the configs that matter at
100 TB: AQE (runtime re-planning, skew-join handling, partition
coalescing), Arrow-based Python interchange, parquet pushdown, and a
shuffle-partition count sized to the cluster rather than the 200
default.

Local testing uses ``local[$SPARK_GRAFT_CPUS]`` (default: the machine's
core count, ``os.cpu_count()``); on a real cluster the same builder
works — only ``master`` and the partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One partition per core locally; on a 1000-executor cluster this would
# be set to 2-3x total cores (and AQE coalesces down after shuffles).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

#: Configs applied to every session. Each is chosen for 100 TB scale:
#: - AQE: runtime join-strategy re-pick + skew splitting + partition
#:   coalescing; this is what makes a static plan survive a 100x
#:   scale-up without hand-tuning.
#: - broadcast threshold 10 MB (Spark's default): measured at sf1, a
#:   64 MB threshold made the planner broadcast a 6M-row column-pruned
#:   lineitem projection (size ESTIMATE ~18 MB from file bytes x
#:   read-schema fraction, real hash relation ~10x that) into the
#:   q04/q17/q21 semi-joins — a 2-3 s single-threaded build per query
#:   locally and a driver OOM at 100 TB. Static over-broadcast is the
#:   scale hazard; intentional dimension broadcasts are pinned with
#:   explicit broadcast() hints in the operators, and AQE upgrades
#:   shuffle joins to broadcast from RUNTIME sizes once inputs cross
#:   the adaptivity threshold.
#: - Arrow: columnar Python interchange (the reference streams Arrow
#:   record batches; duckdb_statement.cpp:2301-2313).
#: - UTC session timezone: the reference exports TIMESTAMP_TZ as UTC
#:   µs (duckdb_statement.cpp:658-659); also required for the DuckDB
#:   differential oracle.
BASE_CONFS: dict[str, str] = {
    # AQE defaults on; operators.loader.tune_adaptivity flips it per
    # input size (runtime re-planning is a ~100-150 ms/query tax that
    # only pays once stages carry real data — see SCALING.md §1)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects natively; read as long ns and convert at the scan
    # (operators/events.py). The reference also truncates ns→µs on
    # ingest (duckdb_server.cpp:516-518).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": str(DEFAULT_CPUS),
    "spark.default.parallelism": str(DEFAULT_CPUS),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/gizmosql-warehouse"
    ),
    "spark.ui.enabled": "false",
    "spark.sql.execution.pyspark.udf.faulthandler.enabled": "false",
}

# Shuffle/spill scratch on the ram-backed tmpfs when it is actually
# big enough: local shuffle files never need durability (lost block =
# stage retry), so page-cache-bypassing disk writes buy nothing. But
# Docker's default shm is 64 MB and tmpfs competes with RAM, so a
# small /dev/shm would turn shuffle spill into ENOSPC/memory pressure
# — gate on capacity (>= 4 GiB free) and allow an explicit override.
# On a real cluster this is the NVMe scratch volume; the conf seam is
# identical.
_LOCAL_DIR = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
if _LOCAL_DIR:
    BASE_CONFS["spark.local.dir"] = _LOCAL_DIR
elif os.path.isdir("/dev/shm"):
    try:
        _vfs = os.statvfs("/dev/shm")
        if _vfs.f_bavail * _vfs.f_frsize >= 4 * 1024**3:
            BASE_CONFS["spark.local.dir"] = "/dev/shm/gizmosql-spark-local"
    except OSError:
        pass


def get_spark(
    app_name: str = "gizmosql-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the process-wide SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; pass a cluster
    URL for real deployments.
    """
    # Export the vendored protobuf runtime path through PYTHONPATH
    # BEFORE the JVM launches: Python workers (and the
    # transformWithState driver worker) are separate processes that
    # inherit the driver environment, and they import
    # StateMessage_pb2 for the stateful-processor wire protocol.
    from gizmosql_spark.vendor import ensure_protobuf

    ensure_protobuf()

    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{DEFAULT_CPUS}]"
    )
    for k, v in BASE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Export the vendored-protobuf path through sc.environment NOW,
    # before any worker-spawning action. Spark keys Python worker
    # daemons by (pythonExec, envVars) — mutating sc.environment
    # later (e.g. when the first streaming query calls
    # streaming_session) would re-key the daemon pool mid-session,
    # orphaning every worker warmed under the old key (round-6
    # bench regression suspect; see vendor/__init__.py). Doing it
    # once here gives warmup and queries a single shared env key.
    from gizmosql_spark.vendor import export_to_spark_workers

    export_to_spark_workers(spark)
    _prewarm_python_workers(spark)
    return spark


_PREWARMED: set[int] = set()


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Spawn the Python worker daemon + a full pandas-UDF worker pool
    at session-build time, so EVERY entry path (engine, CLI, tests,
    the bench's isolated probe) gets a warmed Arrow/pandas seam — not
    just callers that run bench.py's explicit warmup. On a cluster the
    pool is long-lived executor state; locally the first pandas-UDF
    query otherwise pays daemon spawn + per-worker pandas import
    (~2-3x on embedding_neardup in fresh sessions — the round-7 seam
    probe's isolated/in-corpus gap). Once per SparkContext; disable
    with SPARK_GRAFT_PREWARM=0."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _PREWARMED or os.environ.get("SPARK_GRAFT_PREWARM") == "0":
        return
    _PREWARMED.add(key)
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        # Under ``from __future__ import annotations`` pyspark resolves
        # the UDF's string type hints against the function's MODULE
        # globals — a function-local ``pd`` raises UNSUPPORTED_SIGNATURE
        # (the bug that silently aborted every bench warmup r5-r6).
        # Export the alias to module globals before defining the UDF.
        globals()["pd"] = pd

        @F.pandas_udf("long")
        def _warm(s: "pd.Series") -> "pd.Series":
            import numpy  # noqa: F401 — charge the heavy imports here

            return s

        n = sc.defaultParallelism
        spark.range(n, numPartitions=n).select(_warm("id")).count()
    except Exception:  # best-effort: a failed prewarm costs nothing
        _PREWARMED.discard(key)
