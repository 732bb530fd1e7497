"""Seeded input generation. Every input the program sees is written
here, from the workload seed alone, with pyarrow (no Spark involved)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# stream files carry UTC instants, which Spark reads as TIMESTAMP (the
# event-time watermark rejects TIMESTAMP_NTZ)
_UTC_US = pa.timestamp("us", tz="UTC")
_START_S = int(np.datetime64("2024-01-01T00:00:00", "s").astype("int64"))


def _strings(rng, labels: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(labels), n), pa.int32())
    return pa.DictionaryArray.from_arrays(idx, pa.array(labels)).cast(pa.string())


def _money(rng, n: int) -> np.ndarray:
    # whole cents, so DECIMAL(18,2) sums are exact on every engine
    return rng.integers(0, 20000, n) / 100.0


def write_events(path: str, seed: int, n_rows: int, n_users: int, days: int) -> None:
    """The testdata ``events`` table: event_id, ts, user_id, event_type,
    value, props (a small JSON string)."""
    rng = np.random.default_rng(seed)
    secs = np.sort(rng.integers(0, days * 86400, n_rows))
    props = [f'{{"k": {i}}}' for i in range(100)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows), pa.int64()),
            "ts": pa.array((_START_S + secs) * 1_000_000, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows), pa.int64()),
            "event_type": _strings(rng, EVENT_TYPES, n_rows),
            "value": pa.array(_money(rng, n_rows)),
            "props": _strings(rng, props, n_rows),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


class StreamFiles:
    """A replay in the prepared timeline shape (_time, _subsort, _key,
    payload), one parquet file per micro-batch, made on demand: ``next()``
    writes the following file, so a run never runs out of input however
    fast the program gets. One generator carries on from file to file,
    so the same seed gives the same files in the same order. Files are in
    event-time order with increasing mtimes, so the file source reads
    them in order.

    Each file covers ``file_seconds`` of event time and draws its rows
    from ``active_per_file`` entities picked out of ``n_entities``.
    With ``shift_s`` each row also carries ``due``: a target
    ``shift_s`` seconds (plus up to 10 minutes) after the row's time.
    Times are whole seconds, so millisecond watermarks are exact.
    """

    def __init__(
        self,
        out_dir: str,
        seed: int,
        file_seconds: int,
        rows_per_file: int,
        n_entities: int,
        active_per_file: int,
        shift_s: int | None = None,
    ):
        self.out_dir = out_dir
        self.rng = np.random.default_rng(seed)
        self.file_seconds, self.rows = file_seconds, rows_per_file
        self.n_entities, self.active = n_entities, active_per_file
        self.shift_s = shift_s
        self.i = 0
        os.makedirs(out_dir, exist_ok=True)

    def next(self) -> str:
        """Write the next file; return its path."""
        rng, i, n = self.rng, self.i, self.rows
        base = _START_S + i * self.file_seconds
        secs = base + np.sort(rng.integers(0, self.file_seconds, n))
        active = rng.choice(self.n_entities, size=self.active, replace=False)
        cols = {
            "_time": pa.array(secs * 1_000_000, _UTC_US),
            "_subsort": pa.array(i * n + np.arange(n), pa.int64()),
            "_key": pa.array(active[rng.integers(0, self.active, n)], pa.int64()),
            "event_type": _strings(rng, EVENT_TYPES, n),
            "value": pa.array(_money(rng, n)),
        }
        if self.shift_s is not None:
            due = secs + self.shift_s + rng.integers(0, 600, n)
            cols["due"] = pa.array(due * 1_000_000, _UTC_US)
        path = os.path.join(self.out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.table(cols), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        self.i += 1
        return path
