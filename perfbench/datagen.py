"""Seeded DoPut payloads.

The tables the statements read are the repository's sf0.1 fixture (see
``run.fixture_dir``); ``--seed`` picks what the client sends (keys,
parameters, statement order and these upload payloads), not the tables,
so set-up work stays comparable across seeds.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

_ADJ = ["large", "hot", "red", "cold", "green", "small", "blue", "burnished"]


def _choice(rng: np.random.Generator, words: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[
        rng.integers(0, len(words), n)], pa.string())


def put_payload(seed: int, n_rows: int, first_id: int = 0) -> pa.Table:
    """A seed-generated upload: ids ``first_id..`` plus value columns
    drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    ids = np.arange(first_id, first_id + n_rows, dtype=np.int64)
    base = dt.datetime(2020, 1, 1)
    return pa.table({
        "id": ids,
        "grp": pa.array(rng.integers(0, 64, n_rows, dtype=np.int32)),
        "qty": rng.integers(1, 51, n_rows).astype(np.float64),
        "price": np.round(rng.uniform(1, 1000, n_rows), 2),
        "ts": pa.array(np.datetime64(base, "us")
                       + rng.integers(0, 10**12, n_rows)
                       * np.timedelta64(1, "us"), pa.timestamp("us")),
        "tag": _choice(rng, _ADJ, n_rows)})
