"""Streaming entity-keyed as-of lookup join.

The north-star pipeline requires "stateful as-of/lookup joins keyed by
entity" in streaming form. This is the reference's
LookupRequest/LookupResponse pair (operation/lookup_request.rs:25-32,
lookup_response.rs:21-27) over live streams.

Correctness requires time alignment: a request at time t may only be
answered once no foreign row with time <= t can still arrive. The
reference gets this by k-way-merging its input streams in global time
order with bounded lateness (read/stream_reader.rs:47); Spark's
equivalent signal is the query watermark (the min across both input
streams). So the operator:

1. unions requests (primary re-keyed by the foreign key) and foreign
   rows, shuffled ONCE on the foreign key;
2. buffers both sides in one per-key column buffer with a side column
   (streaming/buffer.py, which also drops stragglers and arms timers);
3. on every trigger (and on event-time timeouts), SETTLES all buffered
   rows at-or-before the watermark in (time, subsort, side) order —
   foreign rows update the per-key snapshot, requests emit with the
   snapshot value as of their instant (same-instant foreign rows order
   first, matching the batch lowering in operators/lookup.py);
4. keeps only unsettled rows (bounded by the watermark delay — state
   is O(keys + in-flight window), never O(stream)).

Output contract: one row per request — (requesting key, _time,
_subsort, *values). Join payload back on the order triple if needed
(co-partitioned, no extra shuffle pressure).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.buffer import Buffer, BufferLayout, latest, transport

_IS_REQ = "__is_req"
_ORIG = "__orig_key"


def asof_lookup_stream(
    primary: DataFrame,
    foreign: DataFrame,
    key: str | Column,
    values: Sequence[str],
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming as-of lookup: for each primary row, the foreign
    entity's latest ``values`` as of the row's (time, subsort).

    Both inputs are streaming frames in the universal shape; ``key`` is
    the foreign-key expression on the primary frame. Returns
    ``(_key, _time, _subsort, *values)`` — the requesting entity's key.
    """
    key_c = F.col(key) if isinstance(key, str) else key
    key_dt = primary.schema[KEY].dataType
    vtypes = {v: foreign.schema[v].dataType for v in values}

    primary = primary.withWatermark(TIME, watermark)
    foreign = foreign.withWatermark(TIME, watermark)
    req = primary.select(
        key_c.cast(foreign.schema[KEY].dataType).alias(KEY),
        TIME,
        SUBSORT,
        F.col(KEY).alias(_ORIG),
        F.lit(True).alias(_IS_REQ),
        *[F.lit(None).cast(dt).alias(f"__f_{v}") for v, dt in vtypes.items()],
    )
    dat = foreign.select(
        KEY,
        TIME,
        SUBSORT,
        F.lit(None).cast(key_dt).alias(_ORIG),
        F.lit(False).alias(_IS_REQ),
        *[F.col(v).alias(f"__f_{v}") for v in values],
    )
    out_schema = T.StructType(
        [
            T.StructField(KEY, key_dt),
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
        ]
        + [T.StructField(v, dt) for v, dt in vtypes.items()]
    )
    layout, update = _make_lookup_fn(key_dt, vtypes)
    return layout.apply(req.unionByName(dat), update, out_schema)


def _make_lookup_fn(key_dt: T.DataType, vtypes: dict[str, T.DataType]):
    layout = BufferLayout(
        [TIME, SUBSORT, _IS_REQ],
        {_ORIG: key_dt, **{f"__f_{v}": dt for v, dt in vtypes.items()}},
        [T.StructField(f"__snap_{v}", transport(dt)) for v, dt in vtypes.items()],
    )
    names = {_ORIG: KEY, **{f"__f_{v}": v for v in vtypes}}

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = Buffer(layout, state)
        for pdf in pdfs:
            buf.append(pdf)
        # settle everything at-or-before the watermark in (time, subsort,
        # side) order: foreign rows (side 0) sort first at ties
        rows = buf.take(buf[TIME] <= buf.wm_ns, TIME, SUBSORT, _IS_REQ)
        req = rows[_IS_REQ] == 1
        if len(req):
            # each row sees the latest foreign row at or before it, or
            # the snapshot carried in state
            for v in vtypes:
                col = latest(rows[f"__f_{v}"], ~req, buf.scalars[f"__snap_{v}"])
                rows[f"__f_{v}"] = col[req]
                buf.scalars[f"__snap_{v}"] = col[-1]
            rows[_ORIG] = rows[_ORIG][req]
            buf.settle(rows[TIME][-1])
        buf.store(buf[TIME])
        if req.any():
            yield buf.frame(
                {TIME: rows[TIME][req], SUBSORT: rows[SUBSORT][req]}, rows, names
            )

    return layout, update
