"""Streaming CEP: per-entity quantified patterns, and first-occurrence
funnels as their all-``"1"`` special case.

Streaming twin of operators/cep.py::match_pattern (``funnel_stream``
names the steps and calls ``pattern_stream``, as ``match_funnel`` does
in batch). Each entity's state carries (stage, per-stage hit instants,
consumption and observer progress) plus a small buffer of
not-yet-settled rows; rows SETTLE in (time, subsort) order once the
watermark passes them (the same settle-at-watermark discipline as
streaming/merge.py and streaming/shift.py), so out-of-order arrival
within the watermark delay cannot corrupt the match order.

Key property that keeps state tiny: stages need strictly increasing
(time, subsort), so a later stage can never consume an earlier row.
Settled rows are therefore processed once and discarded; state is
O(in-flight watermark window) per entity while matching and a O(1)
tombstone after completion. Stragglers at-or-behind the settled
high-water are dropped (bounded lateness; Spark keeps rows at exactly
the watermark, so the machine enforces the drop itself).

Emission: ONE row per entity, once the completing step settles and no
consumption window remains open. For a funnel that is the micro-batch
where its last step settles — (key, t_<name> per step). Batch
``completed`` rows equal the streamed output on ordered replay
(tests/test_cep.py::test_stream_funnel_equals_batch,
test_stream_pattern_equals_batch).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kaskada_spark.operators.cep import _funnel_steps, _validate_steps
from kaskada_spark.prepare import KEY, SUBSORT, TIME

_NEG = -(2**63)


def funnel_stream(
    tdf: DataFrame,
    steps: Sequence[Column],
    within: str | None = None,
    step_names: Sequence[str] | None = None,
    watermark: str = "0 seconds",
    unless: Column | None = None,
) -> DataFrame:
    """Streaming first-occurrence funnel over ``steps`` predicates: the
    all-``"1"`` :func:`pattern_stream`.

    ``tdf`` is a streaming frame in the universal shape; emits one row
    per entity that completes all steps: ``(_key, t_<name>...)``.
    ``unless`` is the abort predicate (see operators/cep.py).
    """
    return pattern_stream(
        tdf, _funnel_steps(steps, step_names), within, watermark, unless
    )


def _build_pattern_spec(steps, within: str | None):
    """Validate a PatternStep list and derive the state-machine spec —
    shared by pattern_stream and the Spark-free property-test harness
    so the two can never drift."""
    req, rank_of = _validate_steps(steps)
    k = len(req)
    if len(steps) > 62:
        raise ValueError("at most 62 steps (flag bitmask)")
    trailing_open = steps[req[-1]].quant == "+" or any(
        s.quant in ("?", "*") and rank_of[i] == k - 1 for i, s in enumerate(steps)
    )
    if trailing_open and within is None:
        raise ValueError(
            "a trailing-open pattern (last required step '+', or an "
            "observer after it) needs `within` to close in streaming"
        )
    within_ns = int(pd.Timedelta(within).value) if within is not None else None

    # distinct aggregate input columns -> __v{j} slots (cast to double)
    vcols: list[str] = []
    for s in steps:
        for _out, _fn, col in s.aggs:
            if col not in vcols:
                vcols.append(col)
    vidx = {c: j for j, c in enumerate(vcols)}
    plus_steps = [i for i, s in enumerate(steps) if s.quant in ("+", "*")]
    obs_steps = [i for i, s in enumerate(steps) if s.quant in ("?", "*")]
    # flattened accumulator layout: per consumer step, its aggs in order
    acc_layout = []  # (consumer_idx, fn, vcol_idx)
    for pi, i in enumerate(plus_steps):
        for _out, fn, col in steps[i].aggs:
            acc_layout.append((pi, fn, vidx[col]))
    spec = {
        "k": k,
        "n_steps": len(steps),
        "req": req,
        "rank_of": rank_of,
        "names": [s.name for s in steps],
        "quants": [s.quant for s in steps],
        "plus_steps": plus_steps,
        "obs_steps": obs_steps,
        "n_v": len(vcols),
        "acc_layout": acc_layout,
        "star_steps": [i for i, s in enumerate(steps) if s.quant == "*"],
        "min_counts": [steps[i].min_count for i in req],
        "within_ns": within_ns,
        "trailing_open": trailing_open,
        "agg_outs": {
            i: [(out, fn, vidx[col]) for out, fn, col in steps[i].aggs]
            for i in plus_steps
        },
    }
    return spec, vidx


def pattern_stream(
    tdf: DataFrame,
    steps,
    within: str | None = None,
    watermark: str = "0 seconds",
    unless: Column | None = None,
) -> DataFrame:
    """Streaming twin of operators/cep.py::match_pattern — quantified
    ``A B+ C?`` patterns with per-step aggregates.

    Emits ONE row per entity that completes all required steps, once no
    consumption window remains open: ``(_key, t_<name> per step,
    n_<name> + aggs per "+" step)``. When the pattern TRAILS with an
    open window (last required step is ``"+"``, or an observer is
    anchored at the last required step), ``within`` is mandatory — the
    window then closes (and the row emits) when the watermark passes
    the anchor's horizon; otherwise the row emits the micro-batch in
    which the completing step settles.

    Rows buffer until the watermark passes them, settle in (time,
    subsort) order, and stragglers at-or-behind the settled high-water
    are dropped (module docstring).
    Per-pass consumption with CURRENT knowledge is exact: rows settle
    in order, so a row accumulated while the next required step was
    unmatched necessarily precedes that step's (later-settling) matched
    instant — the same bound the batch mask applies.

    State per entity: required hit instants, one (count, accumulators)
    slot per "+" step, one instant per observer, plus the in-flight
    buffer — O(watermark window), never the entity's history.
    Aggregate accumulators are float64 (exact for integer inputs up to
    2^53); batch ``match_pattern`` keeps the column's own sum type.
    """
    steps = list(steps)
    spec, vidx = _build_pattern_spec(steps, within)
    spec["has_unless"] = unless is not None
    names, plus_steps = spec["names"], spec["plus_steps"]

    tdf = tdf.withWatermark(TIME, watermark)
    sel = [F.col(TIME), F.col(SUBSORT), F.col(KEY)]
    sel += [
        F.coalesce(s.pred.cast("boolean"), F.lit(False)).alias(f"__p{i}")
        for i, s in enumerate(steps)
    ]
    n_flags = len(steps)
    if unless is not None:
        sel.append(
            F.coalesce(unless.cast("boolean"), F.lit(False)).alias(f"__p{len(steps)}")
        )
        n_flags += 1
    sel += [F.col(c).cast("double").alias(f"__v{j}") for c, j in vidx.items()]
    pre = tdf.select(*sel).filter(
        reduce(lambda a, b: a | b, [F.col(f"__p{i}") for i in range(n_flags)])
    )

    out_fields = [T.StructField(KEY, tdf.schema[KEY].dataType)]
    out_fields += [T.StructField(f"t_{n}", T.TimestampType()) for n in names]
    for i in plus_steps:
        out_fields.append(T.StructField(f"n_{steps[i].name}", T.LongType()))
        out_fields += [
            T.StructField(out, T.DoubleType()) for out, _fn, _c in steps[i].aggs
        ]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [
            T.StructField("stage", T.IntegerType()),
            T.StructField("done", T.BooleanType()),
            T.StructField("emitted", T.BooleanType()),
            T.StructField("hits_t", T.ArrayType(T.LongType())),
            T.StructField("hits_s", T.ArrayType(T.LongType())),
            T.StructField("firsts_t", T.ArrayType(T.LongType())),
            T.StructField("firsts_s", T.ArrayType(T.LongType())),
            T.StructField("cur_sub", T.IntegerType()),
            T.StructField("cur_ft", T.LongType()),
            T.StructField("cur_fs", T.LongType()),
            T.StructField("cur_lt", T.LongType()),
            T.StructField("cur_ls", T.LongType()),
            T.StructField("obs_t", T.ArrayType(T.LongType())),
            T.StructField("obs_s", T.ArrayType(T.LongType())),
            T.StructField("plus_cnt", T.ArrayType(T.LongType())),
            T.StructField("plus_acc", T.ArrayType(T.DoubleType())),
            T.StructField("bt", T.ArrayType(T.LongType())),
            T.StructField("bs", T.ArrayType(T.LongType())),
            T.StructField("bf", T.ArrayType(T.LongType())),
            T.StructField("bv", T.ArrayType(T.DoubleType())),
            T.StructField("settled_t", T.LongType()),
            T.StructField("settled_s", T.LongType()),
        ]
    )
    func = _make_pattern_fn(spec)
    return pre.groupBy(KEY).applyInPandasWithState(
        func, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def _make_pattern_fn(spec: dict):
    k = spec["k"]
    req = spec["req"]
    rank_of = spec["rank_of"]
    names = spec["names"]
    quants = spec["quants"]
    plus_steps = spec["plus_steps"]
    obs_steps = spec["obs_steps"]
    n_v = spec["n_v"]
    acc_layout = spec["acc_layout"]
    star_set = set(spec.get("star_steps", ()))
    min_counts = spec.get("min_counts") or [1] * k
    has_unless = bool(spec.get("has_unless"))
    within_ns = spec["within_ns"]
    trailing_open = spec["trailing_open"]
    agg_outs = spec["agg_outs"]
    n_steps = spec["n_steps"]
    plus_pos = {i: pi for pi, i in enumerate(plus_steps)}
    obs_pos = {i: oi for oi, i in enumerate(obs_steps)}
    acc_init = [
        0.0 if fn == "sum" else (np.inf if fn == "min" else -np.inf)
        for _pi, fn, _vj in acc_layout
    ]

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (stage, done, emitted, hits_t, hits_s, firsts_t, firsts_s,
             cur_sub, cur_ft, cur_fs, cur_lt, cur_ls, obs_t, obs_s,
             plus_cnt, plus_acc, bt, bs, bf, bv, settled_t, settled_s) = state.get
            hits_t, hits_s = list(hits_t), list(hits_s)
            firsts_t, firsts_s = list(firsts_t), list(firsts_s)
            obs_t, obs_s = list(obs_t), list(obs_s)
            plus_cnt, plus_acc = list(plus_cnt), list(plus_acc)
            bt = np.asarray(bt, dtype=np.int64)
            bs = np.asarray(bs, dtype=np.int64)
            bf = np.asarray(bf, dtype=np.int64)
            bv = np.asarray(bv, dtype=np.float64).reshape(-1, n_v) if n_v else np.empty((len(bt), 0))
        else:
            stage, done, emitted = 0, False, False
            hits_t, hits_s = [], []
            firsts_t, firsts_s = [], []
            cur_sub, cur_ft, cur_fs, cur_lt, cur_ls = 0, _NEG, _NEG, _NEG, _NEG
            obs_t = [_NEG] * len(obs_steps)
            obs_s = [_NEG] * len(obs_steps)
            plus_cnt = [0] * len(plus_steps)
            plus_acc = list(acc_init)
            bt = bs = bf = np.empty(0, dtype=np.int64)
            bv = np.empty((0, n_v))
            settled_t, settled_s = _NEG, _NEG

        for pdf in pdfs:
            if done or pdf.empty:
                continue
            t = pdf[TIME].astype("int64").to_numpy()
            s = pdf[SUBSORT].to_numpy(dtype=np.int64)
            fresh = (t > settled_t) | ((t == settled_t) & (s > settled_s))
            if not fresh.any():
                continue
            flags = np.zeros(len(pdf), dtype=np.int64)
            for i in range(n_steps + (1 if has_unless else 0)):
                flags |= pdf[f"__p{i}"].to_numpy(dtype=np.int64) << i
            v = (
                np.column_stack([pdf[f"__v{j}"].to_numpy(dtype=np.float64) for j in range(n_v)])
                if n_v else np.empty((len(pdf), 0))
            )
            bt = np.concatenate([bt, t[fresh]])
            bs = np.concatenate([bs, s[fresh]])
            bf = np.concatenate([bf, flags[fresh]])
            bv = np.concatenate([bv, v[fresh]])

        rows = None
        abort_now = False
        wm_ns = state.getCurrentWatermarkMs() * 10**6
        if not done and len(bt):
            order = np.lexsort((bs, bt))
            bt, bs, bf, bv = bt[order], bs[order], bf[order], bv[order]
            settled = bt <= wm_ns
            n_settled = int(settled.sum())
            if n_settled:
                st_, ss_, sf_ = bt[:n_settled], bs[:n_settled], bf[:n_settled]
                sv_ = bv[:n_settled]
                # 0. pass-local abort instant (funnel rule): first
                #    abort row strictly after the match anchor. Rows
                #    settle in order, so by the end of this pass the
                #    match has completed, its trailing window closed at
                #    the abort, or it can never complete.
                u_t = u_s = None

                def find_abort():
                    nonlocal u_t, u_s
                    if not has_unless or u_t is not None:
                        return
                    if stage >= 1:
                        at, as_ = firsts_t[0], firsts_s[0]
                    elif cur_sub > 0:
                        at, as_ = cur_ft, cur_fs
                    else:
                        # tentative anchor: the first rank-0 candidate
                        # in this pass (nothing constrains it)
                        a0 = np.flatnonzero((sf_ >> req[0]) & 1)
                        if not len(a0):
                            return
                        at, as_ = int(st_[a0[0]]), int(ss_[a0[0]])
                    au = ((sf_ >> n_steps) & 1).astype(bool)
                    au &= (st_ > at) | ((st_ == at) & (ss_ > as_))
                    aidx = np.flatnonzero(au)
                    if len(aidx):
                        u_t = int(st_[aidx[0]])
                        u_s = int(ss_[aidx[0]])

                find_abort()

                # 1. advance the required chain (vectorized per stage;
                #    min_count sub-occurrences may span micro-batches
                #    via the cur_* partial-progress state)
                while stage < k:
                    i = req[stage]
                    need = min_counts[stage]
                    cand = ((sf_ >> i) & 1).astype(bool)
                    if u_t is not None:
                        # abort wins ties; the anchor itself precedes
                        # the abort by construction
                        cand &= (st_ < u_t) | ((st_ == u_t) & (ss_ < u_s))
                    if cur_sub > 0:
                        cand &= (st_ > cur_lt) | ((st_ == cur_lt) & (ss_ > cur_ls))
                    elif stage > 0:
                        pt, ps = hits_t[-1], hits_s[-1]
                        cand &= (st_ > pt) | ((st_ == pt) & (ss_ > ps))
                    if within_ns is not None and (stage > 0 or cur_sub > 0):
                        # horizon anchored at the match START: rank 0's
                        # FIRST occurrence
                        anchor_t = firsts_t[0] if stage > 0 else cur_ft
                        cand &= st_ <= anchor_t + within_ns
                    idx = np.flatnonzero(cand)
                    if within_ns is not None and stage == 0 and cur_sub == 0 and len(idx):
                        # a fresh start anchors at this pass's first
                        # rank-0 candidate: later sub-occurrences must
                        # fall inside its horizon too
                        idx = idx[st_[idx] <= st_[idx[0]] + within_ns]
                    take = need - cur_sub
                    if len(idx) < take:
                        if len(idx):
                            if cur_sub == 0:
                                cur_ft = int(st_[idx[0]])
                                cur_fs = int(ss_[idx[0]])
                            cur_sub += len(idx)
                            cur_lt = int(st_[idx[-1]])
                            cur_ls = int(ss_[idx[-1]])
                        break
                    first_t = cur_ft if cur_sub > 0 else int(st_[idx[0]])
                    first_s = cur_fs if cur_sub > 0 else int(ss_[idx[0]])
                    firsts_t.append(first_t)
                    firsts_s.append(first_s)
                    hits_t.append(int(st_[idx[take - 1]]))
                    hits_s.append(int(ss_[idx[take - 1]]))
                    cur_sub, cur_ft, cur_fs, cur_lt, cur_ls = 0, _NEG, _NEG, _NEG, _NEG
                    stage += 1
                    find_abort()  # the anchor may just have formed

                def upper_mask(rr):
                    # strictly before the next required hit when known;
                    # else the horizon (exact under in-order settling —
                    # see docstring)
                    if rr + 1 < k and rr + 1 < stage:
                        nt, ns_ = hits_t[rr + 1], hits_s[rr + 1]
                        return (st_ < nt) | ((st_ == nt) & (ss_ < ns_))
                    if within_ns is not None:
                        anchor = firsts_t[0] if stage > 0 else cur_ft
                        return st_ <= anchor + within_ns
                    return np.ones(len(st_), dtype=bool)

                # 2. consumption for matched '+' / anchored '*' steps
                for i in plus_steps:
                    rr = rank_of[i]
                    if rr > stage:
                        continue
                    m = ((sf_ >> i) & 1).astype(bool)
                    if rr == stage:
                        # the IN-PROGRESS '+' step: its min_count
                        # sub-matches may span passes, and rows between
                        # the first sub-occurrence and the eventual
                        # match must be consumed as they settle (they
                        # are discarded after this pass). Harmless if
                        # the step never matches — nothing emits then.
                        if i in star_set or cur_sub == 0:
                            continue
                        ht, hs = cur_ft, cur_fs
                        m &= (st_ > ht) | ((st_ == ht) & (ss_ >= hs))
                    elif i in star_set:
                        # anchored strictly after the previous required
                        # MATCH instant (the window a '?' observes)
                        ht, hs = hits_t[rr], hits_s[rr]
                        m &= (st_ > ht) | ((st_ == ht) & (ss_ > hs))
                    else:
                        # '+' consumes from its FIRST occurrence
                        ht, hs = firsts_t[rr], firsts_s[rr]
                        m &= (st_ > ht) | ((st_ == ht) & (ss_ >= hs))
                    m &= upper_mask(rr)
                    if u_t is not None:
                        m &= (st_ < u_t) | ((st_ == u_t) & (ss_ < u_s))
                    nsel = int(m.sum())
                    if nsel:
                        pi = plus_pos[i]
                        plus_cnt[pi] += nsel
                        for aj, (api, fn, vj) in enumerate(acc_layout):
                            if api != pi:
                                continue
                            vals = sv_[m, vj]
                            if fn == "sum":
                                plus_acc[aj] += float(vals.sum())
                            elif fn == "min":
                                plus_acc[aj] = min(plus_acc[aj], float(vals.min()))
                            else:
                                plus_acc[aj] = max(plus_acc[aj], float(vals.max()))
                # 3. observers: first match inside their window
                for i in obs_steps:
                    oi = obs_pos[i]
                    if obs_t[oi] != _NEG:
                        continue
                    rr = rank_of[i]
                    if rr >= stage:
                        continue
                    ht, hs = hits_t[rr], hits_s[rr]
                    m = ((sf_ >> i) & 1).astype(bool)
                    m &= (st_ > ht) | ((st_ == ht) & (ss_ > hs))
                    m &= upper_mask(rr)
                    if u_t is not None:
                        m &= (st_ < u_t) | ((st_ == u_t) & (ss_ < u_s))
                    idx = np.flatnonzero(m)
                    if len(idx):
                        obs_t[oi] = int(st_[idx[0]])
                        obs_s[oi] = int(ss_[idx[0]])
                settled_t = int(st_[-1])
                settled_s = int(ss_[-1])
                bt, bs, bf, bv = (
                    bt[n_settled:], bs[n_settled:], bf[n_settled:], bv[n_settled:],
                )
                # every future row follows a settled abort: the match
                # is done (its trailing window closed at the abort) or
                # dead — resolve within this invocation
                abort_now = u_t is not None

        def build_row():
            vals = {KEY: [key[0]]}
            for i, n in enumerate(names):
                if quants[i] in ("?", "*"):
                    ot = obs_t[obs_pos[i]]
                    vals[f"t_{n}"] = [pd.Timestamp(ot) if ot != _NEG else pd.NaT]
                else:
                    rr = rank_of[i]
                    vals[f"t_{n}"] = [pd.Timestamp(hits_t[rr])]
            aj = 0
            for i in plus_steps:
                pi = plus_pos[i]
                vals[f"n_{names[i]}"] = [plus_cnt[pi]]
                # acc_layout is flat in (plus step, agg) declaration
                # order, so the running cursor IS the slot index
                for out, _fn, _vj in agg_outs[i]:
                    vals[out] = [plus_acc[aj] if plus_cnt[pi] else None]
                    aj += 1
            return pd.DataFrame(vals)

        if not done and stage == k:
            if not trailing_open:
                done, rows = True, build_row()
                bt = bs = bf = np.empty(0, dtype=np.int64)
                bv = np.empty((0, n_v))
            elif abort_now or (
                within_ns is not None and wm_ns > firsts_t[0] + within_ns
            ):
                # window closed: at the abort (all in-window rows
                # settled before it) or at the horizon
                done, rows = True, build_row()
                bt = bs = bf = np.empty(0, dtype=np.int64)
                bv = np.empty((0, n_v))
        # dead entity: a settled abort (no later row can advance the
        # chain) or horizon passed without completing (a partial rank-0
        # sub-match anchors the horizon too)
        anchor_t0 = (
            firsts_t[0] if stage >= 1 else (cur_ft if cur_sub > 0 else None)
        )
        if not done and stage < k and (
            abort_now
            or (
                within_ns is not None
                and anchor_t0 is not None
                and wm_ns > anchor_t0 + within_ns
            )
        ):
            done = True
            bt = bs = bf = np.empty(0, dtype=np.int64)
            bv = np.empty((0, n_v))

        state.update(
            (
                int(stage), bool(done), bool(rows is not None or emitted),
                [int(x) for x in hits_t], [int(x) for x in hits_s],
                [int(x) for x in firsts_t], [int(x) for x in firsts_s],
                int(cur_sub), int(cur_ft), int(cur_fs), int(cur_lt), int(cur_ls),
                [int(x) for x in obs_t], [int(x) for x in obs_s],
                [int(x) for x in plus_cnt], [float(x) for x in plus_acc],
                [int(x) for x in bt], [int(x) for x in bs],
                [int(x) for x in bf], [float(x) for x in bv.ravel()],
                int(settled_t), int(settled_s),
            )
        )
        if not done:
            cands = []
            if len(bt):
                cands.append(int(bt.min()) // 10**6 - 1)
            if stage == k and trailing_open:
                cands.append((firsts_t[0] + within_ns) // 10**6)
            elif within_ns is not None and (stage >= 1 or cur_sub > 0):
                a = firsts_t[0] if stage >= 1 else cur_ft
                cands.append((a + within_ns) // 10**6)
            if cands:
                state.setTimeoutTimestamp(
                    max(min(cands), state.getCurrentWatermarkMs() + 1)
                )
        if rows is not None:
            yield rows

    return update
