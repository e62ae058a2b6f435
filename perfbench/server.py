"""Benchmark server launcher: one ``FlightEngineServer`` with auth on.

Run as ``python3 -m perfbench.server --workdir DIR --users a,b
[--trace FILE]`` from the repository root. The process builds an
``Engine`` whose access log and OTLP file live under ``DIR``, registers
each user (password = user name, admin role, because the workloads read
local parquet through ``read_parquet`` and ``pipeline_op``), starts the
Flight server on a free loopback port and prints one JSON line
``{"port": N, "boot_s": T}``. It serves until its standard input
closes, then shuts down. With ``--trace`` the layer entry points are
wrapped before the engine is built (``perfbench.tracing``) and the
spans are written to FILE at shutdown.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--users", required=True)
    ap.add_argument("--trace", default="")
    args = ap.parse_args(argv)

    tracer = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.install_server()

    from gizmosql_spark.engine import Engine
    from gizmosql_spark.flight_server import FlightEngineServer

    eng = Engine(
        access_log_path=os.path.join(args.workdir, "access.log"),
        otlp_trace_path=os.path.join(args.workdir, "otlp.jsonl"))
    for user in args.users.split(","):
        eng.add_user(user, user, role="admin")
    srv = FlightEngineServer(engine=eng, location="grpc://127.0.0.1:0")
    print(json.dumps({"port": srv.port,
                      "boot_s": time.perf_counter() - t0}), flush=True)
    try:
        sys.stdin.read()  # the harness closes our stdin to stop us
    finally:
        srv.shutdown()
        if tracer is not None:
            tracer.dump(args.trace, eng)
        eng.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
