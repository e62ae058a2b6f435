"""In-process split of one ``Engine.ingest``, layer by layer.

Ingests a ROWS-row upload (the benchmark's DoPut payload: id, grp,
qty, price, ts, tag) with ``mode="replace"``, then appends a second
one, and prints where each call's time went. Two sessions are open,
as in the benchmark's two-client ``point_mixed`` workload, and both
have read the table, so the refresh reaches a session other than the
writer's. Each key is self time (a timed call nested in another is
counted once, in its own key):

- ``create_df``: ``SparkSession.createDataFrame`` (the Arrow decode
  choice is made here; see ``engine._upload_frame``)
- ``write_job``: ``engine._counted_write``, the single Spark job
- ``metadata``: ``warehouse.table_metadata``, the catalog lookups
  (``metadata_n`` counts them)
- ``refresh``: ``Engine._refresh_everywhere``: the one full
  ``catalog.refreshTable`` in the writer's session, the other
  sessions' relation-cache drops, the plan invalidation
- ``snapshot`` / ``prepare_write`` / ``record``: the warehouse
  bookkeeping around the lookups
- ``commit``: ``WarehouseCatalog._mutate``, the manifest read and,
  when an entry changed, its commit (``commits_n`` counts commits)
- ``other``: the rest of ``ingest`` (widening, partitions, checks)

Usage:
    python tools/profile_ingest.py 150000 [--runs 3]

Prints one JSON line per call: ``{"mode": ..., "rows": ...,
"total_s": ..., "create_df_s": ..., ...}``. The first call of a JVM
pays its warmup; pass ``--runs`` to repeat the pair and read the last.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import tempfile
import time


def _timed(owner, attr: str, key: str, split: dict, calls: dict,
           stack: list) -> None:
    """Wrap ``owner.attr`` to add its self time to ``split[key]`` and
    count its calls in ``calls[key]``."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        calls[key] = calls.get(key, 0) + 1
        stack.append(0.0)  # time of the timed calls nested in this one
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            spent = time.perf_counter() - t0
            split[key] = split.get(key, 0.0) + spent - stack.pop()
            if stack:
                stack[-1] += spent

    setattr(owner, attr, wrapper)


def main() -> None:
    args = sys.argv[1:]
    runs = 1
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    if len(args) != 1:
        sys.exit(__doc__)
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    with tempfile.TemporaryDirectory(prefix="profile-ingest-") as tmp:
        # before the first import: session.py reads it at import time
        os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", tmp)
        _profile(int(args[0]), runs)


def _profile(rows: int, runs: int) -> None:
    from pyspark.sql import SparkSession

    from gizmosql_spark import engine as engine_mod
    from gizmosql_spark import warehouse as warehouse_mod
    from gizmosql_spark.engine import Engine
    from gizmosql_spark.warehouse import WarehouseCatalog
    from perfbench.datagen import put_payload

    split: dict[str, float] = {}
    calls: dict[str, int] = {}
    stack: list[float] = []
    for owner, attr, key in (
            (SparkSession, "createDataFrame", "create_df_s"),
            (engine_mod, "_counted_write", "write_job_s"),
            (warehouse_mod, "table_metadata", "metadata_s"),
            (Engine, "_refresh_everywhere", "refresh_s"),
            (WarehouseCatalog, "snapshot", "snapshot_s"),
            (WarehouseCatalog, "prepare_write", "prepare_write_s"),
            (WarehouseCatalog, "record", "record_s"),
            (WarehouseCatalog, "_mutate", "commit_s")):
        _timed(owner, attr, key, split, calls, stack)

    eng = Engine()
    sid = eng.create_session(role="admin")
    other = eng.create_session(role="admin")
    first = put_payload(1, rows)
    more = put_payload(2, rows, first_id=rows)
    eng.ingest(sid, "profile_ingest", first, mode="replace")
    for s in (sid, other):
        eng.collect(s, eng.execute_sql(
            s, "SELECT count(*) FROM profile_ingest"))
    try:
        for _ in range(runs):
            for mode, data in (("replace", first), ("append", more)):
                split.clear()
                calls.clear()
                seq = eng.warehouse._state()[1]
                t0 = time.perf_counter()
                eng.ingest(sid, "profile_ingest", data, mode=mode)
                total = time.perf_counter() - t0
                out = {"mode": mode, "rows": rows,
                       "arrow_mb": round(data.nbytes / 1e6, 2),
                       "total_s": round(total, 4)}
                out.update({k: round(v, 4)
                            for k, v in sorted(split.items())})
                out["other_s"] = round(total - sum(split.values()), 4)
                out["metadata_n"] = calls.get("metadata_s", 0)
                out["commits_n"] = eng.warehouse._state()[1] - seq
                print(json.dumps(out), flush=True)
    finally:
        eng.spark.stop()


if __name__ == "__main__":
    main()
