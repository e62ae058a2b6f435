"""In-process split of one ``Engine.ingest``, layer by layer.

Ingests a ROWS-row upload (the benchmark's DoPut payload: id, grp,
qty, price, ts, tag) with ``mode="replace"``, then appends a second
one, and prints where each call's time went:

- ``create_df``: ``SparkSession.createDataFrame`` (the Arrow decode
  choice is made here; see ``engine._upload_frame``)
- ``write_job``: ``engine._counted_write``, the single Spark job
- ``snapshot`` / ``prepare_write`` / ``record``: the warehouse manifest
- ``refresh``: ``Engine._refresh_everywhere`` (relation caches, plans)
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


def _timed(owner, attr: str, key: str, split: dict) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            split[key] = split.get(key, 0.0) + time.perf_counter() - t0

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
    from gizmosql_spark.engine import Engine
    from gizmosql_spark.warehouse import WarehouseCatalog
    from perfbench.datagen import put_payload

    split: dict[str, float] = {}
    _timed(SparkSession, "createDataFrame", "create_df_s", split)
    _timed(engine_mod, "_counted_write", "write_job_s", split)
    _timed(WarehouseCatalog, "snapshot", "snapshot_s", split)
    _timed(WarehouseCatalog, "prepare_write", "prepare_write_s", split)
    _timed(WarehouseCatalog, "record", "record_s", split)
    _timed(Engine, "_refresh_everywhere", "refresh_s", split)

    eng = Engine()
    sid = eng.create_session(role="admin")
    first = put_payload(1, rows)
    more = put_payload(2, rows, first_id=rows)
    try:
        for _ in range(runs):
            for mode, data in (("replace", first), ("append", more)):
                split.clear()
                t0 = time.perf_counter()
                eng.ingest(sid, "profile_ingest", data, mode=mode)
                total = time.perf_counter() - t0
                out = {"mode": mode, "rows": rows,
                       "arrow_mb": round(data.nbytes / 1e6, 2),
                       "total_s": round(total, 4)}
                out.update({k: round(v, 4)
                            for k, v in sorted(split.items())})
                out["other_s"] = round(total - sum(split.values()), 4)
                print(json.dumps(out), flush=True)
    finally:
        eng.spark.stop()


if __name__ == "__main__":
    main()
