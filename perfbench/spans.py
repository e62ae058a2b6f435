"""Span arithmetic: self time, statement joins, percentiles.

Pure functions over plain data, so they are tested without a server.
A span is a dict with ``name``, ``t0``, ``t1`` (seconds), ``parent``
(index into the same list, or -1) and ``stmt`` (the statement id the
client sent, or ``None``).
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

#: a tail percentile is reported only with this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """Highest candidate percentile that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it."""
    for q in candidates:
        beyond = n - max(1, math.ceil(q / 100.0 * n))
        if beyond >= TAIL_MIN_BEYOND:
            return q
    return None


def quartile_spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the steadiness check
    takes them, with ``statistics.quantiles(values, n=4)``."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    Children may overlap each other (concurrent threads) and may run
    past their parent; only the covered part inside the parent counts."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            p = spans[s["parent"]]
            a, b = max(s["t0"], p["t0"]), min(s["t1"], p["t1"])
            if b > a:
                kids[s["parent"]].append((a, b))
    return [s["t1"] - s["t0"] - union_length(kids.get(i, []))
            for i, s in enumerate(spans)]


def statement_of(spans: list[dict], i: int) -> str | None:
    """The statement id of span ``i``: its own, or its nearest
    ancestor's."""
    seen = set()
    while i >= 0 and i not in seen:
        seen.add(i)
        if spans[i].get("stmt"):
            return spans[i]["stmt"]
        i = spans[i]["parent"]
    return None


def by_statement(spans: list[dict]) -> dict[str, list[int]]:
    """Span indices grouped by statement id; spans outside any
    statement (start-up, shutdown) are left out."""
    out: dict[str, list[int]] = defaultdict(list)
    for i in range(len(spans)):
        sid = statement_of(spans, i)
        if sid is not None:
            out[sid].append(i)
    return dict(out)


def statement_breakdown(spans: list[dict]) -> dict[str, dict]:
    """Per statement: self time summed by span name, span counts by
    name, and the time covered by top-level server spans (the handler
    and auth spans the client's RPCs caused)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for sid, idx in by_statement(spans).items():
        self_by: dict[str, float] = defaultdict(float)
        count_by: dict[str, int] = defaultdict(int)
        tops = []
        for i in idx:
            name = spans[i]["name"]
            self_by[name] += selfs[i]
            count_by[name] += 1
            if spans[i]["parent"] < 0:
                tops.append((spans[i]["t0"], spans[i]["t1"]))
        out[sid] = {"self": dict(self_by), "count": dict(count_by),
                    "server_s": union_length(tops)}
    return out


def join_client(breakdown: dict[str, dict],
                client: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Attach each statement's client timings, ``(latency, time inside
    RPC calls)``, to its server breakdown. The latency splits into the
    server's spans, the rest of the RPC time (``rpc_overhead_s``: wire,
    gRPC and whatever the server did outside every span) and the
    client's own time between RPCs (``client_gap_s``);
    ``client_overhead_s`` is the last two together. A statement the
    server never saw gets an empty breakdown."""
    out = {}
    for sid, (latency, rpc_s) in client.items():
        row = breakdown.get(sid, {"self": {}, "count": {}, "server_s": 0.0})
        out[sid] = dict(row, latency_s=latency,
                        client_overhead_s=latency - row["server_s"],
                        rpc_overhead_s=rpc_s - row["server_s"],
                        client_gap_s=latency - rpc_s)
    return out


def median_of(rows: list[dict], fn) -> float:
    """Median of ``fn(row)`` over rows where it is not None (0 when no
    row has it)."""
    vals = [v for v in (fn(r) for r in rows) if v is not None]
    return statistics.median(vals) if vals else 0.0
