"""Per-entity row buffer under the watermark-settling stream machines.

The reference's ShiftTo, ShiftUntil, Merge and Lookup operations each
hold rows per entity until the stream reaches them
(operation/shift_to.rs:28-60). Their streaming renderings here
(``shift_to_stream``/``shift_by_stream`` and ``shift_until_stream`` in
streaming/shift.py, ``merge_align_stream`` in streaming/merge.py,
``asof_lookup_stream`` in streaming/join.py) hold those rows in
``applyInPandasWithState`` state the same way, and that way lives here:

- the rows are parallel numpy columns: int64 keys (event time, subsort
  and the machine's own key, such as the shift target or the input
  side) and object payload columns whose nulls (None, NaN, NaT) are
  ``None``;
- integral payload columns travel and rest as strings: a nullable int
  column reaches pandas as float64, which corrupts values beyond 2^53;
  ``frame`` turns them back into ints;
- a fresh row at or behind the settled high-water mark is dropped. Its
  output has already been emitted, and Spark drops input only strictly
  behind the watermark, so such rows do reach the machine;
- ``take`` splits off the rows a machine settles, sorted;
- ``store`` writes the buffer back and arms the event-time timer 1 ms
  before the earliest pending row, because Spark fires an event-time
  timer only once the watermark moves strictly past it.

Each machine keeps only its settle rule. State is the buffered rows
plus the machine's scalars plus the (time, subsort) high-water mark.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kaskada_spark.prepare import KEY, SUBSORT, TIME

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_MIN, _MAX = -(2**63), 2**63 - 1


def transport(dt: T.DataType) -> T.DataType:
    """The type a payload value of type ``dt`` travels and rests as."""
    return T.StringType() if isinstance(dt, _INTEGRAL) else dt


def _objects(values) -> np.ndarray:
    return np.fromiter(values, dtype=object, count=len(values))


def latest(col: np.ndarray, flags: np.ndarray, carried) -> np.ndarray:
    """Per row, ``col`` at the latest flagged row at or before it;
    ``carried`` (a value held in state) before the first flagged row."""
    idx = np.maximum.accumulate(np.where(flags, np.arange(1, len(col) + 1), 0))
    return np.concatenate([_objects([carried]), col])[idx]


class BufferLayout:
    """The columns of one machine's buffer, fixed when the query is planned.

    ``keys`` name int64 columns of the machine's input frame (timestamps
    as ns, booleans as 0/1) and must include TIME and SUBSORT;
    ``payload`` maps the other buffered input columns to their Spark
    types; ``scalars`` are the machine's own state fields. ``mark`` is
    the key column the settled high-water mark is kept on, with SUBSORT
    breaking ties."""

    def __init__(
        self,
        keys: Sequence[str],
        payload: Mapping[str, T.DataType],
        scalars: Sequence[T.StructField] = (),
        mark: str = TIME,
    ):
        self.keys = list(keys)
        self.payload = list(payload)
        self.ints = {c for c, dt in payload.items() if isinstance(dt, _INTEGRAL)}
        self.scalars = [f.name for f in scalars]
        self.mark = mark
        self.state_schema = T.StructType(
            [T.StructField(k, T.ArrayType(T.LongType())) for k in self.keys]
            + [T.StructField(c, T.ArrayType(transport(dt))) for c, dt in payload.items()]
            + list(scalars)
            + [T.StructField("__hw_t", T.LongType()), T.StructField("__hw_s", T.LongType())]
        )

    def apply(self, df: DataFrame, update, out_schema: T.StructType) -> DataFrame:
        """Run ``update`` per entity of ``df`` with this buffer as state,
        integral payload columns cast to strings on the way in."""
        df = df.withColumns({c: F.col(c).cast("string") for c in self.ints})
        return df.groupBy(KEY).applyInPandasWithState(
            update, out_schema, self.state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )


class Buffer:
    """One entity's buffered rows for one call of a machine."""

    def __init__(self, layout: BufferLayout, state: GroupState):
        self.layout, self.state = layout, state
        self.wm_ns = state.getCurrentWatermarkMs() * 10**6
        nk, np_ = len(layout.keys), len(layout.payload)
        raw = state.get if state.exists else [None] * (nk + np_ + len(layout.scalars) + 2)
        self.cols = {k: np.asarray(raw[i] or [], dtype=np.int64) for i, k in enumerate(layout.keys)}
        for j, c in enumerate(layout.payload):
            self.cols[c] = _objects(raw[nk + j] or [])
        self.scalars = dict(zip(layout.scalars, raw[nk + np_ : -2]))
        self.hw = (_MIN, _MIN) if raw[-2] is None else (raw[-2], raw[-1])

    def __len__(self) -> int:
        return len(self.cols[TIME])

    def __getitem__(self, name: str) -> np.ndarray:
        return self.cols[name]

    def append(self, pdf: pd.DataFrame) -> None:
        """Buffer a micro-batch's rows, minus those at or behind the
        settled high-water mark."""
        if pdf.empty:
            return
        keys = {k: pdf[k].astype("int64").to_numpy() for k in self.layout.keys}
        t, s = keys[self.layout.mark], keys[SUBSORT]
        ht, hs = self.hw
        fresh = (t > ht) | ((t == ht) & (s > hs))
        for k, col in keys.items():
            self.cols[k] = np.concatenate([self.cols[k], col[fresh]])
        for c in self.layout.payload:
            col = pdf[c].to_numpy(dtype=object)[fresh]
            col[pd.isna(col)] = None
            self.cols[c] = np.concatenate([self.cols[c], col])

    def take(self, mask: np.ndarray, *order: str) -> dict[str, np.ndarray]:
        """Remove the rows under ``mask``; return their columns sorted
        by the ``order`` columns."""
        idx = np.flatnonzero(mask)
        if order:
            idx = idx[np.lexsort([self.cols[c][idx] for c in reversed(order)])]
        rows = {n: col[idx] for n, col in self.cols.items()}
        self.cols = {n: col[~mask] for n, col in self.cols.items()}
        return rows

    def settle(self, t, s=_MAX) -> None:
        """Set the high-water mark to (t, s), the last row settled (every
        buffered row lies beyond the mark, so it only moves up): fresh
        rows at or behind it are dropped from now on."""
        self.hw = (int(t), int(s))

    def store(self, pending: np.ndarray) -> None:
        """Write the buffer back to state and, while ``pending`` times
        (ns) remain, arm the timer 1 ms before the earliest of them."""
        lay = self.layout
        self.state.update(
            tuple(self.cols[n].tolist() for n in lay.keys + lay.payload)
            + tuple(self.scalars[n] for n in lay.scalars)
            + self.hw
        )
        if len(pending):
            wm_ms = self.state.getCurrentWatermarkMs()
            self.state.setTimeoutTimestamp(max(int(pending.min()) // 10**6 - 1, wm_ms + 1))

    def frame(self, head: dict, rows: dict, names: Mapping[str, str] = {}) -> pd.DataFrame:
        """An output frame: ``head`` (TIME as int64 ns) then the payload
        columns found in ``rows``, integral ones back to ints, renamed
        by ``names``."""
        out = {n: (v.astype("datetime64[ns]") if n == TIME else v) for n, v in head.items()}
        for c in self.layout.payload:
            if c in rows:
                col = rows[c]
                if c in self.layout.ints:
                    col = _objects([None if v is None else int(v) for v in col])
                out[names.get(c, c)] = col
        return pd.DataFrame(out)
