"""Seeded event generators.

Events follow the schema of the testdata ``events.parquet``
(``event_id, ts, user_id, event_type, value, props``). The five event
types are drawn uniformly, so ``model.derive_cdc_stream`` yields about 20%
INSERT (signup), 20% DELETE (error) and 60% UPDATE. Values are whole
cents, as in the testdata, so value-cents sums are exact."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
#: 2024-01-01T00:00:00 UTC, where the catch-up backlog's event times start
BASE_US = 1_704_067_200_000_000


def events(rng: np.random.Generator, first_id: int, n: int,
           ts_us: np.ndarray | int, user_id: np.ndarray) -> pa.Table:
    """``n`` events with ids from ``first_id``, the given times and keys,
    and seeded types, values and props."""
    ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.Table.from_arrays([
        pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        pa.array(ts, type=pa.timestamp("us")),
        pa.array(user_id.astype(np.int64)),
        pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        pa.array(rng.integers(1, 20_000, n) / 100.0),
        pa.array(props),
    ], schema=SCHEMA)


def backlog_ts(first_id: int, n: int) -> np.ndarray:
    """Strictly increasing event times, one millisecond apart."""
    return BASE_US + np.arange(first_id, first_id + n, dtype=np.int64) * 1000


def write(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` atomically: staged beside it under a
    name Spark's file listing skips, then renamed."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
