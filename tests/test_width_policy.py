"""Pins for the input-size-keyed width policies (round 8).

loader.tune_shuffle_width: sub-threshold dirs shuffle narrow, big
dirs restore the session's launch width, external SETs win
permanently. streaming.windows.wide_for_dir: the streaming analog —
super-threshold dirs get the full-core-width session clone.
"""

from __future__ import annotations

import os

import pytest

from gizmosql_spark.operators import loader
from gizmosql_spark.streaming import windows as w

SMALL = "/root/testdata/sf0.1"


@pytest.fixture()
def clone(spark):
    """A fresh conf-isolated session so width mutations never leak
    into the shared test session."""
    s = spark.newSession()
    # launch width above the narrow width on any core count, so the
    # narrow-then-restore policy is observable (the first width seen is
    # the restore target)
    s.conf.set("spark.sql.shuffle.partitions",
               str(2 * loader.SMALL_SHUFFLE_PARTITIONS))
    yield s
    loader._WIDTH_STATE.pop(s, None)


@pytest.fixture()
def _fake_big_dir(tmp_path, monkeypatch):
    """Makes dirs the size probe reads as super-threshold (no need for
    a real >1 GiB fixture on disk): the threshold drops to just above
    SMALL's parquet bytes, and each dir holds one sparse parquet file
    of that size."""
    threshold = 1 + sum(os.path.getsize(os.path.join(SMALL, f))
                        for f in os.listdir(SMALL) if f.endswith(".parquet"))
    monkeypatch.setattr(loader, "AQE_MIN_INPUT_BYTES", threshold)

    def make(name: str) -> str:
        d = tmp_path / name.strip("/").replace("/", "_")
        d.mkdir()
        with open(d / "big.parquet", "wb") as f:
            f.truncate(threshold)
        return str(d)

    return make


def test_small_dir_narrows_and_big_dir_restores(clone, _fake_big_dir):
    launch = clone.conf.get("spark.sql.shuffle.partitions")
    assert int(launch) > loader.SMALL_SHUFFLE_PARTITIONS
    loader.tune_shuffle_width(clone, SMALL)
    assert (clone.conf.get("spark.sql.shuffle.partitions")
            == str(loader.SMALL_SHUFFLE_PARTITIONS))
    big = _fake_big_dir("/fake/width-policy-big")
    loader.tune_shuffle_width(clone, big)
    assert clone.conf.get("spark.sql.shuffle.partitions") == launch


def test_external_set_outranks_policy(clone, _fake_big_dir):
    loader.tune_shuffle_width(clone, SMALL)
    clone.conf.set("spark.sql.shuffle.partitions", "13")  # user SET
    loader.tune_shuffle_width(clone, SMALL)
    assert clone.conf.get("spark.sql.shuffle.partitions") == "13"
    loader.tune_shuffle_width(clone, _fake_big_dir("/fake/wpb2"))
    assert clone.conf.get("spark.sql.shuffle.partitions") == "13"


def test_prepinned_session_width_never_touched(clone, _fake_big_dir):
    """A clone whose width was set at construction (bounded/streaming
    clones) keeps it on big dirs: first-seen width is the restore
    target."""
    clone.conf.set("spark.sql.shuffle.partitions", "4")
    loader._WIDTH_STATE.pop(clone, None)
    loader.tune_shuffle_width(clone, _fake_big_dir("/fake/wpb3"))
    assert clone.conf.get("spark.sql.shuffle.partitions") == "4"


def test_wide_for_dir_keys_off_threshold(_fake_big_dir):
    assert w.wide_for_dir(SMALL) is False
    assert w.wide_for_dir(_fake_big_dir("/fake/wpb4")) is True


def test_wide_streaming_clone_width(spark):
    narrow = w.streaming_session(spark)
    wide = w.streaming_session(spark, wide=True)
    assert (int(narrow.conf.get("spark.sql.shuffle.partitions"))
            == max(w.STREAM_STATE_PARTITIONS, w.STREAM_STATE_PARTITIONS))
    assert (int(wide.conf.get("spark.sql.shuffle.partitions"))
            == max(spark.sparkContext.defaultParallelism,
                   w.STREAM_STATE_PARTITIONS))
    assert narrow is not wide


def test_two_dir_query_runs_at_last_loaded_width(clone, _fake_big_dir):
    """The single-dir contract (r8 verdict item 6), pinned: the policy
    re-aligns per table() load, so a plan mixing two dirs executes at
    whichever dir was loaded LAST. Mixed-dir callers must load the big
    side last (or pin the width); every corpus query reads one dir."""
    launch = clone.conf.get("spark.sql.shuffle.partitions")
    big = _fake_big_dir("/fake/wpb-two-dir")
    # big fact loaded first, small dim last -> executes narrow
    loader.tune_shuffle_width(clone, big)
    loader.tune_shuffle_width(clone, SMALL)
    assert (clone.conf.get("spark.sql.shuffle.partitions")
            == str(loader.SMALL_SHUFFLE_PARTITIONS))
    # small dim first, big fact last -> executes at launch width
    loader.tune_shuffle_width(clone, big)
    assert clone.conf.get("spark.sql.shuffle.partitions") == launch
