"""Steadiness report: run each workload repeatedly and summarise spread.

    python3 perfbench/steadiness.py --runs 10 --seconds 20 \\
        [--first-seed 1] [--out perfbench/results/steadiness_a.json]

Run from the repository root. Each run is ``perfbench/run.py``,
untraced, on every workload, with its own seed (``first-seed``,
``first-seed + 1``, ...). For every metric the report gives the median, the
quartiles (``statistics.quantiles(n=4)``), the quartile spread as a
share of the median, and the max/min ratio, with the run count, the
seeds and the machine (``nproc``, load average before and after) it ran
on. A failed or incorrect run is recorded and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.spans import quartile_spread  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 600


def summarise(values: list[float]) -> dict:
    med, q1, q3, spread = quartile_spread(values)
    low = min(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": spread,
            "max_over_min": max(values) / low if low else None,
            "values": values}


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    out = {"seed": seed, "exit": proc.returncode,
           "wall_s": time.perf_counter() - t0}
    try:
        out["result"] = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out["stderr_tail"] = proc.stderr[-2000:]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)

    report = {"machine": {"nproc": len(os.sched_getaffinity(0)),
                          "loadavg_before": list(os.getloadavg())},
              "runs": args.runs, "seconds": args.seconds,
              "workloads": {}}
    bad = False
    for workload in WORKLOADS:
        runs = []
        for k in range(args.runs):
            r = run_once(workload, args.first_seed + k, args.seconds)
            runs.append(r)
            ok = r["exit"] == 0 and r.get("result", {}).get("correct")
            bad |= not ok
            print(f"{workload} seed={r['seed']} exit={r['exit']} "
                  f"wall={r['wall_s']:.1f}s", file=sys.stderr, flush=True)
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for r in runs:
            for name, m in r.get("result", {}).get("metrics", {}).items():
                values.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
        report["workloads"][workload] = {
            "seeds": [r["seed"] for r in runs],
            "failed_runs": [r for r in runs if r["exit"] != 0],
            "run_wall_s": summarise([r["wall_s"] for r in runs]),
            "metrics": {name: dict(summarise(v), unit=units[name])
                        for name, v in values.items()},
        }
        for name, s in report["workloads"][workload]["metrics"].items():
            print(f"{workload:14s} {name:38s} median={s['median']:.6g} "
                  f"{s['unit']:6s} iqr/median={s['iqr_share']:.3f} "
                  f"max/min={s['max_over_min'] or 0:.3f}")
    report["machine"]["loadavg_after"] = list(os.getloadavg())
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
