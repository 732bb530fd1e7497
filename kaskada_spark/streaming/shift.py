"""Streaming shift_to / shift_by / shift_until: state-buffered re-timing.

The reference's ShiftTo operation moves rows forward to a computed
future time, buffering pending rows until the stream reaches that time
(operation/shift_to.rs:28-60 — including its PERFORMANCE note about
unbounded buffering). Streaming rendering: rows wait in per-entity
state until the event-time watermark passes their target time, then
re-emit with ``_time = target`` — the watermark is exactly the "stream
has reached this time" signal, and event-time timeouts wake silent
entities so buffered rows flush without new input. ShiftUntil holds
rows the same way until a settled predicate firing at or after them.

The buffer, its straggler drop, its state and its timer are the shared
column buffer (streaming/buffer.py); this module keeps the two settle
rules. Null or backward targets are dropped before the stateful stage
(same rule as the batch operator, operators/shift.py). Buffer growth is
the same hazard the reference flags: rows shifted far into the future
hold state until the watermark catches up — O(in-flight shifted rows)
per entity, bounded by how far ahead targets run, not by stream length.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, META, SUBSORT, TIME
from kaskada_spark.streaming.buffer import Buffer, BufferLayout

_TARGET = "__shift_target"
_PRED = "__shift_pred"


def _payload(tdf: DataFrame) -> dict[str, T.DataType]:
    return {c: tdf.schema[c].dataType for c in tdf.columns if c not in META}


def _out_schema(tdf: DataFrame) -> T.StructType:
    return T.StructType(
        [
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
            T.StructField(KEY, tdf.schema[KEY].dataType),
        ]
        + [tdf.schema[c] for c in _payload(tdf)]
    )


def shift_to_stream(
    tdf: DataFrame,
    new_time: Column,
    watermark: str = "0 seconds",
    max_buffered_rows: int | None = None,
) -> DataFrame:
    """Re-time each row to ``new_time`` (>= its current time), emitting
    it once the watermark passes the target. Output keeps the universal
    shape with ``_time`` = the target time.

    ``max_buffered_rows`` is the guard for the reference's documented
    unbounded-buffering hazard (shift_to.rs PERFORMANCE note): targets
    running far ahead of the watermark hold rows in state. When set,
    an entity whose buffer would exceed the cap fails the query with a
    clear error instead of growing state silently — fail-fast
    backpressure; dropping would silently change results."""
    tdf = tdf.withWatermark(TIME, watermark)
    buffered = tdf.withColumn(_TARGET, new_time.cast("timestamp")).filter(
        F.col(_TARGET).isNotNull() & (F.col(_TARGET) >= F.col(TIME))
    )
    layout, update = _make_shift_fn(_payload(tdf), max_buffered_rows)
    return layout.apply(buffered, update, _out_schema(tdf))


def shift_by_stream(
    tdf: DataFrame, delta, watermark: str = "0 seconds",
    max_buffered_rows: int | None = None,
) -> DataFrame:
    """shift_by(delta) = shift_to(time + delta) (the reference's own
    rewrite, functions/time.rs:44-63)."""
    return shift_to_stream(
        tdf, F.col(TIME) + delta, watermark=watermark,
        max_buffered_rows=max_buffered_rows,
    )


def shift_until_stream(
    tdf: DataFrame,
    predicate: Column,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming shift_until (reference operation/shift_until.rs): buffer
    each row per entity until the first at-or-later row where
    ``predicate`` fires, then emit all buffered rows at that row's time
    (original subsorts kept — matches the batch operator exactly).

    Rows settle only once the watermark passes the firing row, so a
    late-but-in-watermark row can still slot between a buffered row and
    its firing. Rows whose firing hasn't arrived stay in state (the
    reference holds them to end-of-input); state is O(rows since last
    firing) per entity."""
    tdf = tdf.withWatermark(TIME, watermark)
    buffered = tdf.withColumn(_PRED, F.coalesce(predicate, F.lit(False)))
    layout, update = _make_shift_until_fn(_payload(tdf))
    return layout.apply(buffered, update, _out_schema(tdf))


def _make_shift_until_fn(payload: dict[str, T.DataType]):
    layout = BufferLayout([TIME, SUBSORT, _PRED], payload)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = Buffer(layout, state)
        for pdf in pdfs:
            buf.append(pdf)
        t, s, pred = buf[TIME], buf[SUBSORT], buf[_PRED] == 1
        fired = pred & (t <= buf.wm_ns)
        rows = None
        if fired.any():
            # every row at or before the last settled firing re-times to
            # the first firing at or after it (firings sort last among
            # rows that tie on (time, subsort))
            last = np.lexsort((s[fired], t[fired]))[-1]
            ft, fs = t[fired][last], s[fired][last]
            rows = buf.take((t < ft) | ((t == ft) & (s <= fs)), TIME, SUBSORT, _PRED)
            fire = np.flatnonzero(rows[_PRED])
            at = rows[TIME][fire[np.searchsorted(fire, np.arange(len(rows[TIME])))]]
            buf.settle(ft, fs)
        # wake when the watermark passes the earliest unsettled firing
        buf.store(buf[TIME][buf[_PRED] == 1])
        if rows is not None:
            yield buf.frame({TIME: at, SUBSORT: rows[SUBSORT], KEY: key[0]}, rows)

    return layout, update


def _make_shift_fn(payload: dict[str, T.DataType], max_buffered_rows: int | None = None):
    layout = BufferLayout([_TARGET, TIME, SUBSORT], payload, mark=_TARGET)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = Buffer(layout, state)
        for pdf in pdfs:
            buf.append(pdf)
            if max_buffered_rows is not None and len(buf) > max_buffered_rows:
                raise RuntimeError(
                    f"shift_to buffer for entity {key[0]!r} exceeded "
                    f"max_buffered_rows={max_buffered_rows} "
                    f"({len(buf)} rows in flight) — targets are "
                    "running too far ahead of the watermark"
                )
        # emit rows whose target the watermark has passed, ordered by
        # (target, original time, original subsort) — coincident shifted
        # rows keep their original relative order (shift_to.rs contract)
        due = buf.take(buf[_TARGET] <= buf.wm_ns, _TARGET, TIME, SUBSORT)
        if len(due[_TARGET]):
            buf.settle(due[_TARGET][-1])
        buf.store(buf[_TARGET])
        if len(due[_TARGET]):
            yield buf.frame({TIME: due[_TARGET], SUBSORT: due[SUBSORT], KEY: key[0]}, due)

    return layout, update
