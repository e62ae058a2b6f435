"""Executor-side Arrow ingest: ``Engine.ingest`` has its write tasks
decode an upload, at most one task and one file per core, while every
other frame of the session stays a driver-side LocalRelation.

The guards: no ``LocalTableScan`` in a 150k-row ingest's plan and no
more files than cores; catalog frames and Arrow views keep the
LocalRelation (no Spark job, plan reuse) after an ingest ran in their
session; and a mixed-type table reads back equal below and above the
48 MB line under which Spark decodes uploads on the driver by default.
"""

from __future__ import annotations

import datetime as dt
import decimal
import threading
import time

import numpy as np
import pyarrow as pa
import pytest

from gizmosql_spark import catalog
from gizmosql_spark import engine as engine_mod
from gizmosql_spark.engine import Engine

#: Spark's default ``arrow.localRelationThreshold``
OLD_LINE = 48 * 1024 * 1024


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture()
def session(engine):
    sid = engine.create_session(role="admin")
    yield sid
    engine.close_session(sid)


@pytest.fixture()
def table(engine, session):
    name = f"ip_{time.monotonic_ns()}"
    yield name
    engine.execute_sql(session, f"DROP TABLE IF EXISTS {name}")


def _ids(n: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    return pa.table({"id": ids, "v": ids * 0.5,
                     "s": pa.array(ids.astype(str))})


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"ingest-path-{time.monotonic_ns()}"
    sc.setJobGroup(group, "ingest path job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _threshold(engine, sid):
    return engine._session(sid).spark.conf.get(
        engine_mod._LOCAL_RELATION_THRESHOLD, None)


def test_upload_is_decoded_in_write_tasks(engine, session, table, spark,
                                          monkeypatch):
    plans = []
    write = engine_mod._counted_write

    def spy(df, fn):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, fn)

    monkeypatch.setattr(engine_mod, "_counted_write", spy)
    assert engine.ingest(session, table, _ids(150_000)) == 150_000
    assert len(plans) == 1
    assert "LocalTableScan" not in plans[0]
    assert "ExistingRDD" in plans[0]
    files = spark.table(table).inputFiles()
    span = [s for s in engine.telemetry.spans()
            if s.name == "statement.ingest"
            and s.attributes["table"] == table][-1]
    assert 1 <= len(files) == span.attributes["partitions"] \
        <= spark.sparkContext.defaultParallelism
    assert _threshold(engine, session) is None


def test_concurrent_uploads_restore_the_threshold(engine, session):
    """Uploads of one session take turns lowering the threshold, so
    none restores the value another one set."""
    errors, names = [], [f"ip_cc_{i}_{time.monotonic_ns()}" for i in range(4)]
    start = threading.Barrier(len(names))

    def run(name):
        try:
            start.wait(60)
            engine.ingest(session, name, _ids(20_000))
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    try:
        assert errors == []
        assert _threshold(engine, session) is None
    finally:
        for n in names:
            engine.execute_sql(session, f"DROP TABLE IF EXISTS {n}")


def test_catalog_frames_run_no_job_after_ingest(engine, session, table):
    engine.ingest(session, table, _ids(20_000))
    s = engine._session(session).spark
    rows, jobs = _jobs_during(s, lambda: catalog.get_tables(s).collect())
    assert jobs == 0
    assert table in [r.table_name for r in rows]
    rows, jobs = _jobs_during(s, lambda: catalog._local_frame(
        s, {"a": ["x", "y"]}).filter("a = 'y'").collect())
    assert jobs == 0
    assert [tuple(r) for r in rows] == [("y",)]


def test_arrow_view_stays_local_and_reusable(engine, session, table):
    engine.ingest(session, table, _ids(20_000))
    engine.register_arrow_view(session, "ip_view",
                               pa.table({"id": [1, 2, 3]}))
    analyzed = engine._session(session).spark.table(
        "ip_view")._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in analyzed
    outcomes = []
    for _ in range(2):
        res = engine.execute_sql(session, "SELECT id FROM ip_view")
        assert sorted(r.id for r in engine.collect(session, res)) == [1, 2, 3]
        outcomes.append(res.plan_cache)
    assert outcomes == ["miss", "hit"]


def test_arrow_view_widens_like_ingest(engine, session, table):
    """Columns Spark refuses (unsigned ints, time of day) widen on the
    DoExchange seam as they do on ingest."""
    data = pa.table({
        "u8": pa.array([0, 255], pa.uint8()),
        "u64": pa.array([0, 2**64 - 1], pa.uint64()),
        "t": pa.array([0, 86_399_999_999], pa.time64("us")),
    })
    engine.ingest(session, table, data)
    engine.register_arrow_view(session, "ip_wide_view", data)

    def read(name):
        return engine.collect_arrow(
            session, engine.execute_sql(
                session, f"SELECT u8, u64, t FROM {name} ORDER BY u8"))

    ingested, viewed = read(table), read("ip_wide_view")
    assert viewed.schema == ingested.schema
    assert viewed.to_pylist() == ingested.to_pylist()
    assert [f.type for f in viewed.schema] == [
        pa.int16(), pa.decimal128(20, 0), pa.int64()]


def _mixed(n: int, pad: int) -> pa.Table:
    """Every kind of column an upload brings, a seventh of each null;
    ``pad`` bytes of binary per row set the size."""
    rng = np.random.default_rng(n)
    ids = np.arange(n, dtype=np.int64)
    null = ids % 7 == 3
    base = dt.datetime(2021, 3, 28, 0, 30)
    micros = rng.integers(0, 10**12, n)

    def arr(values, typ):
        return pa.array(values, typ, mask=null)

    return pa.table({
        "id": ids,
        "i": arr(rng.integers(-2**31, 2**31, n), pa.int32()),
        "f": arr(rng.normal(size=n), pa.float64()),
        "flag": arr(ids % 2 == 0, pa.bool_()),
        "ts": arr(np.datetime64(base, "us") + micros, pa.timestamp("us")),
        "tstz": arr(micros, pa.timestamp("us", tz="Europe/Berlin")),
        "day": arr((micros // 86_400_000_000).astype(np.int32), pa.date32()),
        "dec": arr([decimal.Decimal(int(x)).scaleb(-2)
                    for x in rng.integers(-10**9, 10**9, n)],
                   pa.decimal128(12, 2)),
        "s": arr(np.char.add("row-", ids.astype(str)), pa.string()),
        "bin": pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(pad), n, [None, pa.py_buffer(rng.bytes(n * pad))]
        ).cast(pa.binary()),
        "lst": pa.array([None if z else [int(x), int(x) + 1]
                         for x, z in zip(ids, null)], pa.list_(pa.int32())),
        "tag": pa.array(["red", "green", "blue"][x % 3] for x in ids
                        ).dictionary_encode(),
    })


@pytest.mark.parametrize("n,pad,above", [(2_000, 16, False),
                                         (60_000, 900, True)])
def test_mixed_types_read_back_equal(engine, session, table, spark, n, pad,
                                     above):
    sent = _mixed(n, pad)
    assert (sent.nbytes > OLD_LINE) is above
    assert engine.ingest(session, table, sent) == n
    assert len(spark.table(table).inputFiles()) \
        <= spark.sparkContext.defaultParallelism
    got = engine.collect_arrow(
        session, engine.execute_sql(session, f"SELECT * FROM {table}"))
    got = got.sort_by("id")
    assert got.column_names == sent.column_names
    # the exported types: µs UTC timestamps, dictionary values decoded
    assert got.equals(sent.cast(got.schema))
