"""Output checks and the failure / wrong-result accounting."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa

from perfbench import checks
from perfbench.client import Stmt
from perfbench.run import Outcome, run_clients
from perfbench.workloads import Op


def test_canon_rows_sorts_and_normalises():
    rows = [(2, Decimal("1.50"), dt.datetime(2020, 1, 1,
                                             tzinfo=dt.timezone.utc)),
            (1, float("nan"), None)]
    assert checks.canon_rows(rows) == [
        (1, None, None), (2, 1.5, "2020-01-01T00:00:00")]


def test_rows_mismatch_tolerance_and_nulls():
    assert checks.rows_mismatch([(1.0,)], [(1.0 + 1e-12,)]) == ""
    assert checks.rows_mismatch([(1.0,)], [(1.001,)]).startswith("row 0")
    assert checks.rows_mismatch([(None,)], [(0,)]) != ""
    assert checks.rows_mismatch([(1,), (2,)], [(1,)]) == \
        "2 rows, expected 1"


def _table(order):
    return pa.table({
        "k": pa.array([order[0], order[1], order[2]], pa.int64()),
        "x": pa.array([v * 0.5 for v in order]),
        "s": pa.array([f"v{v}" for v in order]),
        "ts": pa.array([dt.datetime(2021, 1, v + 1) for v in order],
                       pa.timestamp("us"))})


def test_digest_is_order_insensitive_and_type_tolerant():
    a, b = _table([0, 1, 2]), _table([2, 0, 1])
    assert checks.digest_mismatch(checks.digest(b), checks.digest(a)) == ""
    # the server returns UTC-stamped timestamps for naive parquet ones
    tz = b.set_column(3, "ts", b["ts"].cast(pa.timestamp("us", tz="UTC")))
    assert checks.digest_mismatch(checks.digest(tz), checks.digest(a)) == ""
    assert checks.tables_mismatch(tz, a) == ""
    # rows sharing a key still meet in one order
    dup = pa.table({"k": [1, 1, 0], "x": [2.0, 1.0, 3.0]})
    assert checks.tables_mismatch(dup, dup.take([2, 1, 0])) == ""


def test_digest_catches_changed_content():
    a = _table([0, 1, 2])
    changed = a.set_column(2, "s", pa.array(["v0", "v1", "v22"]))
    assert checks.digest_mismatch(checks.digest(changed),
                                  checks.digest(a)) != ""
    short = a.slice(0, 2)
    assert checks.digest_mismatch(checks.digest(short),
                                  checks.digest(a)) == "2 rows, expected 3"
    assert checks.tables_mismatch(changed, a) == "column s differs"


def _op(kind, ok=True, wrong=False):
    def send(client, ctx):
        st = Stmt(f"c-{kind}", kind, t0=1.0, t_end=2.0, ok=ok,
                  error="" if ok else "FlightServerError: boom")
        st.result = pa.table({"x": [1]})
        return st
    return Op(kind, send, lambda st: "wrong rows" if wrong else "")


def test_failures_and_wrong_results_are_counted():
    outcome = Outcome()
    ops = [[_op("good"), _op("refused", ok=False)],
           [_op("wrong", wrong=True), _op("good2")]]
    stmts, wall, check_s = run_clients([None, None], [{}, {}], ops, outcome)
    assert len(stmts) == 4 and outcome.attempted == 4
    reasons = sorted(f["reason"] for f in outcome.failures)
    assert reasons == ["FlightServerError: boom", "wrong rows"]
    assert all(s.result is None for s in stmts)  # replies are released
    assert wall >= 0 and check_s >= 0


def test_client_exceptions_propagate():
    def boom(client, ctx):
        raise KeyError("bug in the harness")
    outcome = Outcome()
    try:
        run_clients([None], [{}], [[Op("x", boom, lambda s: "")]], outcome)
    except KeyError:
        pass
    else:
        raise AssertionError("harness errors must not be swallowed")
