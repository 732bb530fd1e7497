"""Streaming temporal merge-align of two entity-keyed streams.

The reference's Merge operation — its only binary operator — union-
aligns two sorted streams onto one row domain and spreads each side's
columns with null (discrete) or as-of (latched) interpolation
(operation/merge.rs:27-46, spread.rs:363-430). The batch lowering is a
full outer join + fill window (operators/merge.py); this is the live
equivalent:

1. both streams are tagged and unioned, shuffled ONCE on the entity;
2. rows buffer in per-entity state until the combined watermark (Spark
   takes the min across both inputs) passes them — so a late-but-in-
   watermark row on either side still lands in order;
3. settled rows merge on (time, subsort): coincident left/right rows
   fuse into ONE output row (the full-outer-join-on-triple rule);
4. ``as_of`` columns forward-fill from per-entity latches carried in
   state, all other columns stay null at rows from the other side.

The buffer, its straggler drop, its state and its timer are the shared
column buffer (streaming/buffer.py); this module keeps the fuse-and-latch
rule, vectorized over numpy columns. State is O(in-flight window + as_of
latches) per entity, flushed by event-time timers during silence.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming.buffer import Buffer, BufferLayout, latest, transport

_SIDE = "__side"


def merge_align_stream(
    left: DataFrame,
    right: DataFrame,
    as_of: Sequence[str] = (),
    suffixes: tuple[str, str] = ("_l", "_r"),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Union-align two streaming timeline frames (universal shape).

    Output: one row per distinct (entity, time, subsort) across both
    inputs, left columns then right columns (overlaps suffixed),
    ``as_of`` columns latched per entity — identical rows to the batch
    ``operators/merge.py`` on the same data.
    """
    lcols = [c for c in left.columns if c not in (KEY, TIME, SUBSORT)]
    rcols = [c for c in right.columns if c not in (KEY, TIME, SUBSORT)]
    overlap = set(lcols) & set(rcols)
    lmap = {c: (c + suffixes[0] if c in overlap else c) for c in lcols}
    rmap = {c: (c + suffixes[1] if c in overlap else c) for c in rcols}
    lout = [lmap[c] for c in lcols]
    rout = [rmap[c] for c in rcols]
    for c in as_of:
        if c not in lout + rout:
            raise ValueError(f"as_of column {c!r} not in merged output")

    types = {lmap[c]: left.schema[c].dataType for c in lcols}
    types.update({rmap[c]: right.schema[c].dataType for c in rcols})
    left = left.withWatermark(TIME, watermark)
    right = right.withWatermark(TIME, watermark)
    lsel = left.select(
        KEY, TIME, SUBSORT, F.lit(True).alias(_SIDE),
        *[F.col(c).alias(lmap[c]) for c in lcols],
        *[F.lit(None).cast(types[n]).alias(n) for n in rout],
    )
    rsel = right.select(
        KEY, TIME, SUBSORT, F.lit(False).alias(_SIDE),
        *[F.lit(None).cast(types[n]).alias(n) for n in lout],
        *[F.col(c).alias(rmap[c]) for c in rcols],
    )
    out_schema = T.StructType(
        [
            T.StructField(KEY, left.schema[KEY].dataType),
            T.StructField(TIME, T.TimestampType()),
            T.StructField(SUBSORT, T.LongType()),
        ]
        + [T.StructField(n, dt) for n, dt in types.items()]
    )
    layout, update = _make_merge_fn(lout, rout, list(as_of), types)
    return layout.apply(lsel.unionByName(rsel), update, out_schema)


def _make_merge_fn(lout: list[str], rout: list[str], as_of: list[str], types: dict):
    layout = BufferLayout(
        [TIME, SUBSORT, _SIDE], types,
        [T.StructField(f"__latch_{c}", transport(types[c])) for c in as_of],
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = Buffer(layout, state)
        for pdf in pdfs:
            buf.append(pdf)
        rows = buf.take(buf[TIME] <= buf.wm_ns, TIME, SUBSORT)
        t, s = rows[TIME], rows[SUBSORT]
        if len(t):
            # coincident (time, subsort) rows of the two sides fuse into
            # one output row
            first = np.r_[True, (t[1:] != t[:-1]) | (s[1:] != s[:-1])]
            group = np.cumsum(first) - 1
            out = {}
            for side, names in ((1, lout), (0, rout)):
                on = rows[_SIDE] == side
                for n in names:
                    out[n] = np.full(group[-1] + 1, None, dtype=object)
                    out[n][group[on]] = rows[n][on]
            for c in as_of:
                # forward-fill, starting from the latch carried in state
                out[c] = latest(out[c], pd.notna(out[c]), buf.scalars[f"__latch_{c}"])
                buf.scalars[f"__latch_{c}"] = out[c][-1]
            buf.settle(t[-1])
        buf.store(buf[TIME])
        if len(t):
            yield buf.frame({KEY: key[0], TIME: t[first], SUBSORT: s[first]}, out)

    return layout, update
