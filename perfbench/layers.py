"""Per-layer metrics of a traced run.

Times are medians per statement of the layer's self time, over the
timed statements in which the layer ran; ``*_per_stmt`` figures are
totals divided by all timed statements. Which end-to-end metric each
layer should move is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import statistics

from perfbench import spans as sp

#: span-name prefixes summed into each self-time metric
_SELF = {
    "flight_server.get_flight_info_self_s": ("flight.get_flight_info",),
    "flight_server.do_get_self_s": ("flight.do_get",),
    "flight_server.do_put_self_s": ("flight.do_put",),
    "auth.start_call_s": ("auth.",),
    "security.gate_s": ("security.",),
    "dialect.rewrite_s": ("dialect.",),
    "engine.scan_register_s": ("spark.load",),
    "engine.analyze_s": ("spark.sql",),
    "engine.execute_sql_self_s": ("engine.execute_sql",),
    "engine.collect_arrow_self_s": ("engine.collect_arrow",),
    "admission.wait_s": ("admission.",),
    "sinks.record_s": ("sinks.",),
    "spark.to_arrow_s": ("spark.to_arrow",),
    "arrow.geoarrow_s": ("arrow.geoarrow",),
    "warehouse.record_s": ("warehouse.",),
    "operators.build_s": ("operators.build",),
}
#: span names timed inside Engine.ingest only
_INGEST = {
    "ingest.create_df_s": "spark.create_df",
    "ingest.verify_count_s": "spark.count",
    "ingest.save_s": "spark.save_as_table",
}
_COUNTERS = {
    "spark.jobs_per_stmt": "spark.jobs",
    "spark.stages_per_stmt": "spark.stages",
    "spark.tasks_per_stmt": "spark.tasks",
}

NAMES = (
    list(_SELF) + list(_INGEST) + list(_COUNTERS) + [
        "flight_server.tickets_open", "wire.client_overhead_s",
        "wire.rpc_overhead_s", "client.between_rpcs_s",
        "wire.proto_bytes_per_stmt", "engine.scans_per_stmt",
        "admission.peak_queued", "sinks.calls_per_stmt",
        "spark.failed_tasks", "arrow.result_bytes_per_stmt",
        "arrow.first_batch_gap_s", "ingest.rows_per_s",
        "operators.cache_entries_added", "session.boot_s",
        "server.py_cpu_s", "server.jvm_cpu_s", "server_peak_rss_mb",
        "server.jvm_peak_rss_mb",
        "stmt_latency_tail_s", "failed_ratio", "trace.overhead_p50_s",
        "trace.overhead_share", "trace.latency_p50_s",
        "trace.layer_median_sum_s", "trace.handler_uncovered_share",
    ])


def layer_of(span_name: str) -> str:
    """The per-layer metric a span's self time belongs to (``other``
    for spans no metric names, such as ``flight.do_action``)."""
    for metric, prefixes in _SELF.items():
        if span_name.startswith(prefixes):
            return metric
    for metric, name in _INGEST.items():
        if span_name == name:
            return metric
    return "other"


def layer_median_sum(rows: list[dict]) -> float:
    """Sum over layers of each layer's median time per statement (0 in
    a statement where it did not run), the wire and the client's own
    time counted as two more layers. Medians do not add, so this meets
    the median latency only when the split is about the same in most
    statements and every layer is traced."""
    per_layer: dict[str, list[float]] = {}
    for r in rows:
        times: dict[str, float] = {"wire": r["rpc_overhead_s"],
                                   "client": r["client_gap_s"]}
        for name, v in r["self"].items():
            layer = layer_of(name)
            times[layer] = times.get(layer, 0.0) + v
        for layer, v in times.items():
            per_layer.setdefault(layer, []).append(v)
    # pad each layer to every statement with the zeros where it did not run
    return sum(statistics.median(v + [0.0] * (len(rows) - len(v)))
               for v in per_layer.values())


def _sum_prefix(values: dict[str, float], prefixes) -> float | None:
    hit = [v for k, v in values.items() if k.startswith(prefixes)]
    return sum(hit) if hit else None


def _ingest_child_self(spans: list[dict], selfs: list[float],
                       idx: list[int], name: str) -> float | None:
    """Self time of ``name`` spans that sit under an Engine.ingest span."""
    total, hit = 0.0, False
    for i in idx:
        if spans[i]["name"] != name:
            continue
        p = spans[i]["parent"]
        while p >= 0 and spans[p]["name"] != "engine.ingest":
            p = spans[p]["parent"]
        if p >= 0:
            total += selfs[i]
            hit = True
    return total if hit else None


def _rows(spans: list[dict], stmts: list) -> dict[str, dict]:
    return sp.join_client(sp.statement_breakdown(spans),
                          {s.sid: (s.latency, s.rpc_s) for s in stmts})


def split_by_kind(trace: dict, stmts: list) -> dict[str, dict]:
    """Per statement kind: count, median latency and the sum of its
    per-layer medians. Within one kind the split is much the same in
    every statement, so there the medians should add up."""
    rows = _rows(trace["spans"], stmts)
    out = {}
    for kind in sorted({s.kind for s in stmts}):
        mine = [s for s in stmts if s.kind == kind]
        out[kind] = {
            "n": len(mine),
            "latency_p50_s": statistics.median(s.latency for s in mine),
            "layer_median_sum_s": layer_median_sum(
                [rows[s.sid] for s in mine])}
    return out


def compute(trace: dict, stmts: list, server: dict, untraced: dict,
            failed: int, attempted: int) -> dict[str, float]:
    """All per-layer metrics. ``stmts`` are the traced timed statements
    (client side), ``server`` the process figures of the traced server,
    ``untraced`` the end-to-end metrics of the untraced timed phase."""
    spans = trace["spans"]
    selfs = sp.self_times(spans)
    groups = sp.by_statement(spans)
    rows = _rows(spans, stmts)
    counters = trace["counters"]
    n = len(stmts)
    out: dict[str, float] = {}
    for metric, prefixes in _SELF.items():
        out[metric] = sp.median_of(
            list(rows.values()), lambda r: _sum_prefix(r["self"], prefixes))
    for metric, name in _INGEST.items():
        out[metric] = sp.median_of(
            [s.sid for s in stmts],
            lambda sid: _ingest_child_self(spans, selfs,
                                           groups.get(sid, []), name))
    for metric, key in _COUNTERS.items():
        out[metric] = sum(c.get(key, 0) for c in counters.values()) / n
    out["spark.failed_tasks"] = sum(
        c.get("spark.failed_tasks", 0) for c in counters.values())
    out["operators.cache_entries_added"] = sum(
        c.get("operators.cache_entries_added", 0) for c in counters.values())
    out["flight_server.tickets_open"] = statistics.median(
        trace["samples"].get("tickets_open") or [0])
    out["wire.client_overhead_s"] = sp.median_of(
        list(rows.values()), lambda r: r["client_overhead_s"])
    out["wire.rpc_overhead_s"] = sp.median_of(
        list(rows.values()), lambda r: r["rpc_overhead_s"])
    out["client.between_rpcs_s"] = sp.median_of(
        list(rows.values()), lambda r: r["client_gap_s"])
    out["wire.proto_bytes_per_stmt"] = sum(s.proto_bytes for s in stmts) / n
    out["engine.scans_per_stmt"] = sum(
        r["count"].get("spark.load", 0) for r in rows.values()) / n
    out["admission.peak_queued"] = trace["admission"]["peak_queued"]
    out["sinks.calls_per_stmt"] = sum(
        c for r in rows.values() for k, c in r["count"].items()
        if k.startswith("sinks.")) / n
    gets = [s for s in stmts if s.t_doget and s.transfer]
    out["arrow.result_bytes_per_stmt"] = (
        sum(s.get_bytes for s in gets) / len(gets) if gets else 0.0)
    out["arrow.first_batch_gap_s"] = (
        statistics.median(s.t_first - s.t_doget for s in gets)
        if gets else 0.0)
    ingest_s = sum(spans[i]["t1"] - spans[i]["t0"]
                   for i in range(len(spans))
                   if spans[i]["name"] == "engine.ingest"
                   and sp.statement_of(spans, i) in rows)
    ingested = sum(s.rows for s in stmts if s.put_bytes and not s.t_doget)
    out["ingest.rows_per_s"] = ingested / ingest_s if ingest_s else 0.0
    out["session.boot_s"] = server["boot_s"]
    out["server.py_cpu_s"] = server["cpu"]["py"]
    out["server.jvm_cpu_s"] = server["cpu"]["jvm"]
    out["server_peak_rss_mb"] = server["rss"]["py"]
    out["server.jvm_peak_rss_mb"] = server["rss"]["jvm"]
    lat = [s.latency for s in stmts]
    q = sp.tail_percentile(n) or 50
    out["stmt_latency_tail_s"] = sp.percentile(lat, q)
    out["failed_ratio"] = failed / attempted if attempted else 0.0
    traced_p50 = statistics.median(lat)
    out["trace.overhead_p50_s"] = traced_p50 - untraced["stmt_latency_p50_s"]
    out["trace.overhead_share"] = (
        out["trace.overhead_p50_s"] / untraced["stmt_latency_p50_s"])
    # the layer split held against the client: the per-layer medians,
    # with the wire share from the client's own RPC timings, against the
    # median latency
    out["trace.latency_p50_s"] = traced_p50
    out["trace.layer_median_sum_s"] = layer_median_sum(list(rows.values()))
    # time inside the Flight handlers that no child span covers: a layer
    # the tracer misses shows up here
    handlers = [i for i in range(len(spans))
                if spans[i]["name"].startswith("flight.")
                and sp.statement_of(spans, i) in rows]
    handler_s = sum(spans[i]["t1"] - spans[i]["t0"] for i in handlers)
    out["trace.handler_uncovered_share"] = (
        sum(selfs[i] for i in handlers) / handler_s if handler_s else 0.0)
    return out
