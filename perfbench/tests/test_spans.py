"""Span arithmetic: the percentile rule, self time, statement joins."""

from __future__ import annotations

import statistics

import pytest

from perfbench import spans as sp


def _span(name, t0, t1, parent=-1, stmt=None):
    return {"name": name, "t0": t0, "t1": t1, "parent": parent,
            "stmt": stmt}


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert sp.percentile(vals, 50) == 50
    assert sp.percentile(vals, 90) == 90
    assert sp.percentile(vals, 100) == 100
    assert sp.percentile([3.0], 90) == 3.0


@pytest.mark.parametrize("n,expected", [
    (1000, 99), (200, 95), (100, 90), (104, 90), (99, 75), (40, 75),
    (39, 50), (20, 50), (19, None), (0, None)])
def test_tail_percentile_leaves_ten_beyond(n, expected):
    q = sp.tail_percentile(n)
    assert q == expected
    if q is not None:
        rank = sp.percentile(list(range(n)), q)
        assert n - 1 - rank >= sp.TAIL_MIN_BEYOND


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    med, q1, q3, share = sp.quartile_spread(vals)
    exp_q1, _, exp_q3 = statistics.quantiles(vals, n=4)
    assert (med, q1, q3) == (statistics.median(vals), exp_q1, exp_q3)
    assert share == pytest.approx((exp_q3 - exp_q1) / med)
    assert sp.quartile_spread([4.0]) == (4.0, 4.0, 4.0, 0.0)


def test_union_length_merges_overlaps():
    assert sp.union_length([]) == 0
    assert sp.union_length([(0, 1), (2, 3)]) == 2
    assert sp.union_length([(0, 2), (1, 3)]) == 3
    assert sp.union_length([(0, 10), (1, 2), (3, 4)]) == 10


def test_self_time_nested_children():
    spans = [_span("root", 0.0, 10.0, stmt="s1"),
             _span("child", 1.0, 4.0, 0),
             _span("grandchild", 2.0, 3.0, 1),
             _span("child2", 5.0, 6.0, 0)]
    assert sp.self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_concurrent_children_counted_once():
    # two worker-thread children overlap each other and one runs past
    # its parent: only the covered part inside the parent is removed
    spans = [_span("root", 0.0, 10.0, stmt="s1"),
             _span("a", 1.0, 5.0, 0),
             _span("b", 3.0, 7.0, 0),
             _span("late", 9.0, 12.0, 0)]
    assert sp.self_times(spans)[0] == pytest.approx(10 - 6 - 1)


def test_self_times_sum_to_root_duration():
    spans = [_span("root", 0.0, 8.0, stmt="s1"),
             _span("a", 1.0, 3.0, 0), _span("b", 2.0, 2.5, 1),
             _span("c", 4.0, 7.0, 0)]
    assert sum(sp.self_times(spans)) == pytest.approx(8.0)


def test_statements_join_by_id():
    spans = [_span("flight.get_flight_info", 0.0, 1.0, stmt="u-1"),
             _span("engine.execute_sql", 0.1, 0.9, 0),
             _span("flight.do_get", 1.2, 2.0, stmt="u-1"),
             _span("flight.do_get", 0.5, 0.7, stmt="v-1"),
             _span("startup", 0.0, 0.1)]
    groups = sp.by_statement(spans)
    assert groups == {"u-1": [0, 1, 2], "v-1": [3]}
    rows = sp.join_client(sp.statement_breakdown(spans),
                          {"u-1": (2.5, 2.1), "v-1": (0.3, 0.25),
                           "w-1": (0.4, 0.35)})
    assert rows["u-1"]["server_s"] == pytest.approx(1.8)
    assert rows["u-1"]["client_overhead_s"] == pytest.approx(0.7)
    # of which 0.3 s inside the RPC calls, 0.4 s between them
    assert rows["u-1"]["rpc_overhead_s"] == pytest.approx(0.3)
    assert rows["u-1"]["client_gap_s"] == pytest.approx(0.4)
    assert rows["u-1"]["self"]["flight.get_flight_info"] == \
        pytest.approx(0.2)
    assert rows["u-1"]["count"]["flight.do_get"] == 1
    assert rows["v-1"]["client_overhead_s"] == pytest.approx(0.1)
    # a statement the server never saw is all client and wire
    assert rows["w-1"]["server_s"] == 0.0
    assert rows["w-1"]["client_overhead_s"] == pytest.approx(0.4)


def test_statement_of_walks_to_ancestor():
    spans = [_span("a", 0, 1, stmt="x"), _span("b", 0, 1, 0),
             _span("c", 0, 1, 1), _span("d", 0, 1)]
    assert [sp.statement_of(spans, i) for i in range(4)] == \
        ["x", "x", "x", None]


def test_median_of_skips_missing():
    rows = [{"v": 1.0}, {"v": None}, {"v": 3.0}]
    assert sp.median_of(rows, lambda r: r["v"]) == 2.0
    assert sp.median_of([], lambda r: r["v"]) == 0.0
