"""Per-layer metrics from a synthetic trace, and the metric lists that
BENCHMARK.json declares."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import layers, run
from perfbench.client import Stmt

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _span(name, t0, t1, parent=-1, stmt=None):
    return {"name": name, "t0": t0, "t1": t1, "parent": parent,
            "stmt": stmt}


def _trace():
    # s1: a query; s2: an ingest
    spans = [
        _span("auth.start_call", 0.00, 0.01, stmt="s1"),
        _span("flight.get_flight_info", 0.01, 0.10, stmt="s1"),
        _span("engine.execute_sql", 0.02, 0.09, 1),
        _span("dialect.extract_file_scans", 0.02, 0.03, 2),
        _span("spark.load", 0.03, 0.05, 2),
        _span("spark.sql", 0.05, 0.08, 2),
        _span("flight.do_get", 0.11, 0.30, stmt="s1"),
        _span("engine.collect_arrow", 0.11, 0.29, 6),
        _span("spark.to_arrow", 0.12, 0.28, 7),
        _span("sinks.query_log", 0.285, 0.286, 7),
        _span("flight.do_put", 1.00, 2.00, stmt="s2"),
        _span("engine.ingest", 1.01, 1.99, 10),
        _span("spark.create_df", 1.02, 1.20, 11),
        _span("spark.count", 1.20, 1.40, 11),
        _span("spark.save_as_table", 1.40, 1.90, 11),
        _span("warehouse.record", 1.90, 1.98, 11),
        _span("startup", 0.0, 5.0),
    ]
    return {"spans": spans,
            "counters": {"s1": {"spark.jobs": 2, "spark.stages": 3,
                                "spark.tasks": 8}},
            "samples": {"tickets_open": [0, 1, 0]},
            "admission": {"peak_queued": 0, "peak_executing": 1}}


def _stmts():
    q = Stmt("s1", "q", t0=0.0, t_doget=0.105, t_first=0.32, t_end=0.35,
             rpc_s=0.33, rows=10, get_bytes=1000, proto_bytes=120)
    p = Stmt("s2", "put", t0=1.0, t_end=2.02, rpc_s=1.01, rows=500,
             put_bytes=4000, proto_bytes=80)
    return [q, p]


def test_compute_reports_every_declared_metric():
    server = {"boot_s": 10.0, "cpu": {"py": 1.0, "jvm": 5.0, "workers": 0},
              "rss": {"py": 100.0, "jvm": 900.0}}
    out = layers.compute(_trace(), _stmts(), server,
                         {"stmt_latency_p50_s": 0.6}, 1, 4)
    assert set(out) == set(layers.NAMES)
    assert out["engine.scan_register_s"] == pytest.approx(0.02)
    assert out["engine.analyze_s"] == pytest.approx(0.03)
    assert out["spark.to_arrow_s"] == pytest.approx(0.16)
    # 0.18 s span less 0.16 s toArrow and a 0.001 s sink call
    assert out["engine.collect_arrow_self_s"] == pytest.approx(0.019)
    assert out["ingest.save_s"] == pytest.approx(0.5)
    assert out["ingest.verify_count_s"] == pytest.approx(0.2)
    assert out["ingest.rows_per_s"] == pytest.approx(500 / 0.98)
    assert out["spark.jobs_per_stmt"] == pytest.approx(1.0)
    assert out["engine.scans_per_stmt"] == pytest.approx(0.5)
    assert out["arrow.first_batch_gap_s"] == pytest.approx(0.215)
    assert out["failed_ratio"] == pytest.approx(0.25)
    # the s1 server spans cover 0.00-0.10 and 0.11-0.30 of its 0.35 s,
    # its RPC calls 0.33 s
    assert out["wire.client_overhead_s"] == pytest.approx((0.06 + 0.02) / 2)
    assert out["wire.rpc_overhead_s"] == pytest.approx((0.04 + 0.01) / 2)
    assert out["client.between_rpcs_s"] == pytest.approx((0.02 + 0.01) / 2)
    # every span is attributed, and with two statements a median is a
    # mean, so here the layer medians add up to the median latency
    assert out["trace.latency_p50_s"] == pytest.approx((0.35 + 1.02) / 2)
    assert out["trace.layer_median_sum_s"] == \
        pytest.approx(out["trace.latency_p50_s"])
    # handler self time: 0.02 + 0.01 + 0.02 s of 0.09 + 0.19 + 1.0 s
    assert out["trace.handler_uncovered_share"] == \
        pytest.approx(0.05 / 1.28)
    assert out["trace.overhead_p50_s"] == \
        pytest.approx((0.35 + 1.02) / 2 - 0.6)


def test_layer_medians_need_not_add_up():
    # each statement spends its whole second in a different layer: the
    # median latency is 1 s, but every layer's median is 0
    def row(name):
        return {"self": {name: 1.0}, "rpc_overhead_s": 0.0,
                "client_gap_s": 0.0}
    rows = [row("spark.sql"), row("spark.to_arrow"), row("sinks.query_log")]
    assert layers.layer_median_sum(rows) == 0.0
    # the same split in every statement adds up, untraced time included
    rows = [dict(row("spark.sql"), rpc_overhead_s=0.5, client_gap_s=0.25)
            for _ in range(3)]
    assert layers.layer_median_sum(rows) == pytest.approx(1.75)


def test_split_by_kind():
    split = layers.split_by_kind(_trace(), _stmts())
    assert split["q"]["n"] == 1
    assert split["q"]["latency_p50_s"] == pytest.approx(0.35)
    assert split["q"]["layer_median_sum_s"] == pytest.approx(0.35)
    assert split["put"]["layer_median_sum_s"] == pytest.approx(1.02)


def test_layer_of_names_the_metric():
    assert layers.layer_of("dialect.extract_file_scans") == \
        "dialect.rewrite_s"
    assert layers.layer_of("spark.save_as_table") == "ingest.save_s"
    assert layers.layer_of("flight.do_action") == "other"


def test_end_to_end_counts_only_transfers():
    get = Stmt("a", "get", t0=0.0, t_doget=0.1, t_first=0.5, t_end=1.0,
               get_bytes=10_000_000)
    # a one-row read-back is a DoGet but not an Arrow transfer
    back = Stmt("b", "read_back", t0=1.0, t_doget=1.05, t_first=1.1,
                t_end=1.1, get_bytes=16, transfer=False)
    put = Stmt("c", "put", t0=2.0, t_end=3.0, put_bytes=4_000_000)
    out = run.end_to_end({"stmts": [get, back, put], "wall_s": 3.0,
                          "setup_s": 20.0, "cpu": {"py": 1.0, "jvm": 2.0}})
    assert out["first_batch_p50_s"] == pytest.approx(0.5)
    assert out["get_mb_per_s"] == pytest.approx(10.0)
    assert out["put_mb_per_s"] == pytest.approx(4.0)
    assert out["stmts_per_s"] == pytest.approx(1.0)
    assert out["stmt_latency_p50_s"] == pytest.approx(1.0)
    assert out["server_cpu_s_per_stmt"] == pytest.approx(1.0)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == {n: run.layer_unit(n) for n in layers.NAMES}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] \
        + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
