"""Long-lived TWS query path (streaming/live.py): run isolation,
generation recycling, and the timer shape's per-run time shift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gizmosql_spark.streaming import live, windows

pytestmark = pytest.mark.skipif(
    not windows.tws_available(), reason="TWS protobuf runtime missing")


def _batch_user_stats(spark, sf_dir):
    from gizmosql_spark.operators.events import load_events

    return (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(F.sum("value"), 4).alias("total"),
            F.max("value").alias("max_value"),
        )
    )


def test_successive_runs_are_isolated(spark, sf_dir):
    """Two consecutive runs through the SAME live query both equal the
    batch aggregate — run N's state (keyed by run_id) never leaks into
    run N+1, even though both feed the identical events file."""
    expected = {
        r["user_id"]: (r["count"], r["total"])
        for r in _batch_user_stats(spark, sf_dir).collect()
    }
    for _ in range(2):
        out = live.run_live(spark, "user_stats", sf_dir)
        assert out is not None
        got = {
            r["user_id"]: (r["count"], round(r["total"], 4))
            for r in out.collect()
        }
        assert got == expected


def test_generation_recycle_rebuilds_query(spark, sf_dir):
    """Crossing generation_runs tears the query down and rebuilds it
    (fresh spool/checkpoint/sink); results stay correct across the
    boundary and earlier-returned frames stay readable (pinned)."""
    key = ("user_stats", sf_dir)
    live.run_live(spark, "user_stats", sf_dir)
    inst = live._REGISTRY[key]
    saved = inst.generation_runs
    try:
        inst.generation_runs = inst.runs_done  # force recycle next run
        gen0, sink0 = inst.gen, inst.sink
        before = live.run_live(spark, "user_stats", sf_dir)
        n_before = before.count()
        assert inst.gen == gen0 + 1 and inst.sink != sink0
        after = live.run_live(spark, "user_stats", sf_dir)
        assert after.count() == n_before
        assert before.count() == n_before  # pinned frame survives recycle
    finally:
        # restore: a 1-run generation left in the shared registry would
        # force a full query rebuild on every later run this session
        inst.generation_runs = saved


def test_timer_runs_do_not_interfere(spark, sf_dir):
    """The timer shape shifts each run into its own time frame: the
    monotonic watermark of the live query must not mark run N+1's
    (identical) timestamps late, and flush_ms must come back un-shifted.
    Two consecutive runs must therefore be IDENTICAL."""
    a = live.run_live(spark, "timer_flush", sf_dir)
    b = live.run_live(spark, "timer_flush", sf_dir)
    assert a is not None and b is not None
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b
    assert len(rows_a) > 0


def test_live_failure_falls_back(spark, sf_dir, monkeypatch):
    """An unknown shape returns None (the entries then take the bounded
    availableNow path), and a poisoned registry entry self-heals."""
    assert live.run_live(spark, "no_such_shape", sf_dir) is None
    live.run_live(spark, "type_matrix", sf_dir)
    inst = live._REGISTRY[("type_matrix", sf_dir)]
    inst.query.stop()  # simulate a dead long-lived query
    out = live.run_live(spark, "type_matrix", sf_dir)  # rebuild attempt
    assert out is not None and out.count() > 0


def test_jvm_tier_small_only_declines_super_threshold(tmp_path, monkeypatch):
    """small_only is PERMANENT DESIGN for the JVM-tier live shapes
    (SCALING.md §6): a complete-mode memory sink accumulates every
    run's state/output rows in the one local JVM (the r9 sf10 heap
    OOM), and at super-threshold dirs per-run compute dominates the
    ~0.3-0.5 s query-start cost the live path exists to amortize — the
    bounded availableNow path is the proven configuration there. The
    live path must DECLINE (return None) without attempting a query
    start, so callers take the bounded fallback immediately."""
    from gizmosql_spark.operators import loader
    from gizmosql_spark.session import get_spark

    spark = get_spark("gizmosql-spark-tests")
    # a dir the size probe reads as super-threshold: one 1-byte parquet
    # file against a 1-byte threshold
    fake_big = str(tmp_path)
    (tmp_path / "events.parquet").write_bytes(b"x")
    monkeypatch.setattr(loader, "AQE_MIN_INPUT_BYTES", 1)
    before = dict(live._REGISTRY)
    for shape in ("tumbling", "sliding", "session_windows",
                  "static_join", "stream_join", "outer_join"):
        assert live.run_live(spark, shape, fake_big) is None
    # trailing-no-data-batch shapes also decline at scale: the
    # barrier poll waits for a batch whose cost scales with the
    # fixture (sf10: 699 s live vs 142 s bounded for timer_flush)
    assert live.run_live(spark, "timer_flush", fake_big) is None
    # declined BEFORE creating any instance — no query-start paid
    assert live._REGISTRY == before


def test_stream_clones_raise_idle_polling_cadence():
    """Both streaming session clones must carry the raised no-data
    pollingDelay (r11: ~15 concurrently RUNNING live queries at the
    upstream 10 ms default cost ~1,500 no-data source-poll cycles/s of
    churn). r12 dropped the default 250 ms -> 50 ms on cold-per-run
    evidence (VERDICT r11 item 3): the phase-instrumented sweep
    measured the 250 ms pickup latency at ~1.1-1.5 s over the tier per
    timed run while 50 ms keeps a 5x churn cut vs 10 ms
    (tools/bench_stream_tier.py, OPTIMIZATION_r12.md §3).
    Env-overridable: the deploy-time latency/churn trade
    (SPARK_GRAFT_STREAM_POLLING_DELAY)."""
    import os

    from gizmosql_spark.session import get_spark

    spark = get_spark("gizmosql-spark-tests")
    want = os.environ.get("SPARK_GRAFT_STREAM_POLLING_DELAY", "50ms")
    for clone in (windows.streaming_session(spark),
                  windows.tws_streaming_session(spark)):
        assert clone.conf.get("spark.sql.streaming.pollingDelay") == want
