"""Run one workload of the served-path benchmark and print its metrics.

    python3 perfbench/run.py --workload point_mixed --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Each run makes its own temporary
directory under ``.perfbench-tmp/`` (warehouse, Spark scratch, logs)
and deletes it at the end. It reads the repository's sf0.1
fixture (``$SPARK_GRAFT_SF_DIR`` overrides where, as for ``bench.py``),
builds the statement plan from ``--seed``, then sets up a fresh server
(``perfbench/server.py``), connects, sets up the sessions, runs the
warm round (``setup_s`` runs from spawn to here) and then the timed
phase. With ``--trace 1`` the timed phase is half as long and a second
server, traced, runs the same plan again; the run prints the per-layer
metrics and the tracing overhead instead of the end-to-end metrics.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it holds the details (seed,
statement counts per kind, machine, failures). A wrong result makes
``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

JVM_HEAP = "2g"

#: end-to-end metrics (untraced) and their units
END_TO_END = {
    "setup_s": "s",
    "stmts_per_s": "1/s",
    "stmt_latency_p50_s": "s",
    "first_batch_p50_s": "s",
    "get_mb_per_s": "MB/s",
    "put_mb_per_s": "MB/s",
    "server_cpu_s_per_stmt": "s",
}


def fixture_dir() -> str:
    """The sf0.1 fixture directory: ``$SPARK_GRAFT_SF_DIR``, else the
    default the repository's scale tool reads (the one ``bench.py``
    uses)."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    from tools.make_scale_data import SRC_DEFAULT

    return SRC_DEFAULT


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith(("_s", "_cpu_s")):
        return "s"
    if name.endswith(("share", "ratio")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def server_env(workdir: str) -> dict[str, str]:
    """The server's environment, pinned from outside the program: Spark
    width from the cores this process may use, a fixed JVM heap and
    every scratch path inside this run's directory."""
    scratch = {k: os.path.join(workdir, k)
               for k in ("warehouse", "spark-local", "tmp")}
    for path in scratch.values():
        os.makedirs(path, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_GRAFT_WAREHOUSE": scratch["warehouse"],
        "SPARK_GRAFT_LOCAL_DIR": scratch["spark-local"],
        "SPARK_LOCAL_DIRS": scratch["spark-local"],
        "TMPDIR": scratch["tmp"],
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={scratch['tmp']} "
                              "-XX:-UsePerfData"),
        # Spark's JVM starts at its full heap: no heap resizing
        "SPARK_SUBMIT_OPTS": f"-Xms{JVM_HEAP}",
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


class Outcome:
    """Every statement sent in a run, with the reason it failed."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []
        self._lock = threading.Lock()

    def add(self, stmt, reason: str) -> None:
        with self._lock:
            self.attempted += 1
            if reason:
                self.failures.append(dict(stmt.summary(), reason=reason))


def run_clients(clients, ctxs, op_lists, outcome: Outcome):
    """Each client runs its ops in order on its own thread (closed
    loop). Returns the statements, the wall time and the mean time each
    client spent checking replies."""
    done: list[list] = [[] for _ in clients]
    check_s = [0.0] * len(clients)
    errors: list[BaseException] = []

    def loop(i: int) -> None:
        try:
            for op in op_lists[i]:
                stmt = op.send(clients[i], ctxs[i])
                stmt.transfer = op.transfer
                t = time.perf_counter()
                reason = stmt.error if not stmt.ok else op.check(stmt)
                stmt.result = None
                check_s[i] += time.perf_counter() - t
                outcome.add(stmt, reason)
                done[i].append(stmt)
        except BaseException as exc:  # re-raised on the main thread
            errors.append(exc)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=loop, args=(i,))
               for i in range(len(clients))]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return [s for d in done for s in d], wall, statistics.fmean(check_s)


class Served:
    """One server with the plan's clients connected and warmed."""

    def __init__(self, plan, workdir: str, outcome: Outcome,
                 trace_path: str = ""):
        from perfbench import procs
        from perfbench.client import Client

        os.makedirs(workdir)
        self.plan, self.outcome = plan, outcome
        self.server = procs.Server(ROOT, workdir, plan.users,
                                   server_env(workdir), trace_path)
        self.clients = []
        try:
            self.server.wait_ready()
            for user in plan.users:
                self.clients.append(Client(self.server.port, user, user))
            self.ctxs = [{} for _ in self.clients]
            run_clients(self.clients, self.ctxs, plan.setup, outcome)
            if plan.prepared_sql:
                for c, ctx in zip(self.clients, self.ctxs):
                    ctx["prepared"] = c.prepare(plan.prepared_sql)
            _, _, check_s = run_clients(self.clients, self.ctxs, plan.warm,
                                        outcome)
            # the client's own reply checks are not server set-up
            self.setup_s = time.perf_counter() - self.server.t_spawn \
                - check_s
        except BaseException:
            self.stop()
            raise

    def timed(self) -> dict:
        """Run the timed phase; return its statements and figures."""
        cpu0 = self.server.cpu()
        stmts, wall, check_s = run_clients(
            self.clients, self.ctxs, self.plan.timed, self.outcome)
        cpu1 = self.server.cpu()
        return {"stmts": stmts, "wall_s": wall - check_s,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
                "rss": self.server.peak_rss(),
                "boot_s": self.server.boot_s}

    def stop(self) -> None:
        for c in self.clients:
            c.close()
        self.server.stop()


def serve(plan, workdir: str, outcome: Outcome, trace_path: str = ""):
    """Set up one server, run the timed phase on it and stop it."""
    served = Served(plan, workdir, outcome, trace_path)
    try:
        phase = served.timed()
    finally:
        served.stop()
    phase["setup_s"] = served.setup_s
    return phase


def end_to_end(phase: dict) -> dict[str, float]:
    stmts = phase["stmts"]
    gets = [s for s in stmts if s.t_doget and s.transfer]
    puts = [s for s in stmts if s.put_bytes and not s.t_doget]
    return {
        "setup_s": phase["setup_s"],
        "stmts_per_s": len(stmts) / phase["wall_s"],
        "stmt_latency_p50_s": statistics.median(s.latency for s in stmts),
        "first_batch_p50_s": statistics.median(s.first_batch for s in gets),
        "get_mb_per_s": sum(s.get_bytes for s in gets) / 1e6
        / sum(s.latency for s in gets),
        "put_mb_per_s": sum(s.put_bytes for s in puts) / 1e6
        / sum(s.latency for s in puts),
        "server_cpu_s_per_stmt": sum(phase["cpu"].values()) / len(stmts),
    }


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple:
    """Returns (metrics, outcome, detail, per-statement records)."""
    from perfbench import layers, procs
    from perfbench.workloads import WORKLOADS

    procs.become_subreaper()
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    try:
        data = fixture_dir()
        # a traced run sets up two servers, so each runs half the work
        plan = WORKLOADS[workload](data, seed,
                                   seconds // 2 if trace else seconds)
        outcome = Outcome()
        detail = {"workload": workload, "seed": seed, "seconds": seconds,
                  "trace": trace, "data": os.path.basename(data),
                  "machine": {"nproc": len(os.sched_getaffinity(0)),
                              "loadavg": list(os.getloadavg())},
                  "timed_statements": sum(len(t) for t in plan.timed),
                  "timed_kinds_per_client": plan.timed_kinds}
        phase = serve(plan, os.path.join(tmp, "server0"), outcome)
        metrics = end_to_end(phase)
        if trace:
            # the same plan again on a traced server: the difference from
            # the untraced phase above is the tracing overhead
            trace_path = os.path.join(tmp, "trace.json")
            untraced = metrics
            phase = serve(plan, os.path.join(tmp, "server1"), outcome,
                          trace_path)
            with open(trace_path, encoding="utf-8") as f:
                spans = json.load(f)
            metrics = layers.compute(spans, phase["stmts"], phase, untraced,
                                     len(outcome.failures),
                                     outcome.attempted)
            detail["untraced"] = untraced
            detail["layer_split_by_kind"] = layers.split_by_kind(
                spans, phase["stmts"])
        detail["timed_cpu_s"] = phase["cpu"]
        detail["timed_wall_s"] = phase["wall_s"]
        detail["failures"] = outcome.failures[:20]
        stmts = [{"sid": st.sid, "kind": st.kind, "latency_s": st.latency,
                  "first_batch_s": st.first_batch if st.t_doget else None}
                 for st in phase["stmts"]]
        return metrics, outcome, detail, stmts
    finally:
        procs.reap_children()
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", default="",
                    help="also write the details and result to this file")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gizmosql_spark")):
        print("perfbench: no gizmosql_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    from perfbench.workloads import VIEW_TABLES

    data = fixture_dir()
    missing = [t for t in VIEW_TABLES
               if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: no {', '.join(missing)} parquet in {data} "
              "(set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
        return 2
    metrics, outcome, detail, stmts = run(
        args.workload, args.seed, args.seconds, bool(args.trace))
    units = ({k: layer_unit(k) for k in metrics} if args.trace
             else END_TO_END)
    result = {
        "correct": not outcome.failures,
        "attempted": outcome.attempted,
        "failed": len(outcome.failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    if args.record:
        with open(args.record, "w", encoding="utf-8") as f:
            json.dump({"detail": detail, "result": result,
                       "statements": stmts}, f, indent=1)
            f.write("\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
