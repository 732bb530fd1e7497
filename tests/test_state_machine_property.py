"""Property-based fuzzing of the streaming state machine WITHOUT Spark:
the `applyInPandasWithState` update function is driven directly with a
fake GroupState over randomized rows and randomized micro-batch splits,
and compared against a brute-force per-row model of the reference
semantics (running per-entity aggregation, null-skipping, since-window
resets where the firing row closes its window).

This hammers exactly the carry/reset edges Spark runs are too slow to
fuzz: state carried across arbitrary batch boundaries, window fires on
the last row of a batch, all-null prefixes, typed (string) values.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from kaskada_spark.streaming.state_machines import (
    AggSpec,
    _make_update_fn,
    _state_field_names,
)


class FakeState:
    def __init__(self):
        self._v = None
        self.exists = False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ts):
        pass


ROW = st.tuples(
    st.one_of(st.none(), st.integers(-50, 50)),  # value (nullable)
    st.booleans(),                               # since fire
)


def _chunks(pdf, cuts):
    """Split sorted rows into contiguous micro-batches at `cuts`."""
    bounds = sorted({min(c, len(pdf)) for c in cuts} | {0, len(pdf)})
    out = []
    for a, b in zip(bounds, bounds[1:]):
        if b > a:
            out.append(pdf.iloc[a:b].reset_index(drop=True))
    return out


def _drive(specs, pdf, cuts, kinds=None):
    kinds = kinds or {s.alias: "num" for s in specs}
    fn = _make_update_fn(specs, list(pdf.columns), kinds)
    state = FakeState()
    outs = []
    for chunk in _chunks(pdf, cuts):
        outs.extend(fn((1,), iter([chunk]), state))
    # state must round-trip through its declared flat tuple shape
    assert state.exists and len(state._v) == 2 + len(_state_field_names(specs))
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()


def _brute(rows, op, since):
    """Reference model: for each row, aggregate non-null values of rows
    in the same since-window (fires BEFORE the row demarcate) up to and
    including the row."""
    out = []
    wid = 0
    windows = {0: []}
    for v, fire in rows:
        windows.setdefault(wid, [])
        if v is not None:
            windows[wid].append(v)
        vals = windows[wid]
        if op == "count":
            out.append(len(vals))
        elif op == "count_if":
            out.append(sum(1 for x in vals if x == 1))
        elif not vals:
            out.append(None)
        elif op == "sum":
            out.append(float(sum(vals)))
        elif op == "min":
            out.append(float(min(vals)))
        elif op == "max":
            out.append(float(max(vals)))
        elif op == "mean":
            out.append(sum(vals) / len(vals))
        elif op == "first":
            out.append(float(vals[0]))
        elif op == "last":
            out.append(float(vals[-1]))
        elif op in ("variance", "stddev"):
            if len(vals) < 2:
                out.append(None)
            else:
                mu = sum(vals) / len(vals)
                var = sum((x - mu) ** 2 for x in vals) / len(vals)
                out.append(math.sqrt(var) if op == "stddev" else var)
        if since and fire:
            wid += 1
    return out


def _frame(rows):
    t0 = pd.Timestamp(2024, 1, 1)
    return pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "_subsort": range(len(rows)),
            "v": [float(v) if v is not None else None for v, _ in rows],
            "fire": [f for _, f in rows],
        }
    )


OPS = ("sum", "count", "min", "max", "mean", "first", "last", "variance", "stddev")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=24),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(OPS),
    st.booleans(),
)
def test_state_machine_matches_brute_force(rows, cuts, op, windowed):
    pdf = _frame(rows)
    specs = [AggSpec(op, "v", "out", since="fire" if windowed else None)]
    got = _drive(specs, pdf, cuts)["out"].tolist()
    exp = _brute(rows, op, windowed)
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (i, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (i, g, e)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.sampled_from(["a", "bb", "c", "dd"])), st.booleans()),
        min_size=1,
        max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=3),
    st.sampled_from(("first", "last", "min", "max")),
)
def test_typed_string_state_machine_matches_brute_force(rows, cuts, op):
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "_subsort": range(len(rows)),
            "v": [v for v, _ in rows],
            "fire": [f for _, f in rows],
        }
    )
    specs = [AggSpec(op, "v", "out", since="fire")]
    got = _drive(specs, pdf, cuts, kinds={"out": "str"})["out"].tolist()

    exp = []
    wid_vals: list[str] = []
    for v, fire in rows:
        if v is not None:
            wid_vals.append(v)
        if not wid_vals:
            exp.append(None)
        elif op == "first":
            exp.append(wid_vals[0])
        elif op == "last":
            exp.append(wid_vals[-1])
        elif op == "min":
            exp.append(min(wid_vals))
        else:
            exp.append(max(wid_vals))
        if fire:
            wid_vals = []
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and pd.isna(g)), (i, g)
        else:
            assert g == e, (i, g, e)


def _brute_sliding(rows, op, n):
    """sliding(n, fire): aggregate over the previous n-1 CLOSED windows
    plus the current partial window up to the row."""
    out = []
    closed: list[list[float]] = []
    cur: list[float] = []
    for v, fire in rows:
        if v is not None:
            cur.append(float(v))
        vals = [x for w in closed[-(n - 1):] for x in w] + cur if n > 1 else list(cur)
        if op == "count":
            out.append(len(vals))
        elif not vals:
            out.append(None)
        elif op == "sum":
            out.append(float(sum(vals)))
        elif op == "min":
            out.append(float(min(vals)))
        elif op == "max":
            out.append(float(max(vals)))
        elif op == "mean":
            out.append(sum(vals) / len(vals))
        elif op == "first":
            out.append(vals[0])
        elif op == "last":
            out.append(vals[-1])
        elif op in ("variance", "stddev"):
            if len(vals) < 2:
                out.append(None)
            else:
                mu = sum(vals) / len(vals)
                var = sum((x - mu) ** 2 for x in vals) / len(vals)
                out.append(math.sqrt(var) if op == "stddev" else var)
        if fire:
            closed.append(cur)
            cur = []
    return out


SLIDING_OPS = ("sum", "count", "min", "max", "mean", "first", "last", "variance", "stddev")


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=22),
    st.lists(st.integers(1, 21), max_size=4),
    st.sampled_from(SLIDING_OPS),
    st.integers(1, 3),
)
def test_sliding_state_machine_matches_brute_force(rows, cuts, op, n):
    pdf = _frame(rows)
    specs = [AggSpec(op, "v", "out", since="fire", n=n)]
    got = _drive(specs, pdf, cuts)["out"].tolist()
    exp = _brute_sliding(rows, op, n)
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (i, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (i, g, e)


# ----------------------------------------------------------------------
# tick boundary machine (streaming/ticks._make_tick_fn): fuzz the
# boundary-close/merge logic across arbitrary micro-batch splits and a
# advancing watermark — the full 11-op component-merge surface added in
# round 3 (shift-centered variance carried across batches, first/last/
# mean merges, empty windows)
# ----------------------------------------------------------------------
from kaskada_spark.streaming.ticks import TickAggSpec, _Cal, _make_tick_fn

HOUR_NS = 3600 * 10**9


class FakeTickState(FakeState):
    def __init__(self):
        super().__init__()
        self.wm_ms = 0

    def getCurrentWatermarkMs(self):
        return self.wm_ms


TICK_OPS = ("sum", "count", "count_if", "min", "max", "mean",
            "variance", "stddev", "first", "last")


def _agg_of(win, op):
    if op == "count":
        return len(win)
    if op == "count_if":
        return sum(1 for x in win if x == 1)
    if not win:
        return None
    if op == "sum":
        return float(sum(win))
    if op == "min":
        return float(min(win))
    if op == "max":
        return float(max(win))
    if op == "mean":
        return sum(win) / len(win)
    if op == "first":
        return float(win[0])
    if op == "last":
        return float(win[-1])
    if len(win) < 2:
        return None
    mu = sum(win) / len(win)
    var = sum((x - mu) ** 2 for x in win) / len(win)
    return math.sqrt(var) if op == "stddev" else var


def _brute_ticks(chunks, wms, op):
    """Incremental reference model of the tick machine's close rules:
    events prove closure strictly below the newest event's bucket; the
    watermark closes at-or-below; rows whose bucket already closed are
    dropped (bounded lateness, same convention as the other machines)."""
    settled: dict[int, list] = {}
    open_vals: dict[int, list] = {}
    next_tick = None
    max_t = None

    def close_through(target, inclusive):
        nonlocal next_tick
        while next_tick is not None and (
            next_tick <= target if inclusive else next_tick < target
        ):
            settled[next_tick] = open_vals.pop(next_tick, [])
            next_tick += 60

    for rows, wm in zip(chunks, wms):
        for t, v in rows:
            b = ((t + 59) // 60) * 60
            if next_tick is None:
                next_tick = b
            if b < next_tick:
                continue  # window already closed: straggler dropped
            if v is not None:
                open_vals.setdefault(b, []).append(float(v))
            else:
                open_vals.setdefault(b, [])
            max_t = t if max_t is None else max(max_t, t)
        if max_t is not None:
            close_through(((max_t + 59) // 60) * 60, inclusive=False)
        if wm is not None:
            close_through(wm, inclusive=True)
    return {b: _agg_of(v, op) for b, v in settled.items()}


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 240), st.one_of(st.none(), st.integers(-20, 20))),
        min_size=1, max_size=24,
    ),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(TICK_OPS),
)
def test_tick_machine_matches_brute_force(events, cuts, op):
    events = sorted(events, key=lambda e: e[0])  # stable; values may be None
    times_min = [t for t, _ in events]
    vals = [v for _, v in events]
    t0 = pd.Timestamp(2024, 1, 1).value // 10**9 // 60  # minutes epoch

    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [pd.Timestamp((t0 + t) * 60 * 10**9) for t in times_min],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for v in vals],
        }
    )
    spec = TickAggSpec(op, "v", "out")
    fn = _make_tick_fn([spec], _Cal("hourly"))
    state = FakeTickState()
    emitted = []
    model_chunks, model_wms = [], []
    seen_max = None
    for chunk in _chunks(pdf, cuts):
        # Spark's watermark lags one batch: it reflects data seen BEFORE
        # this batch
        wm_min = None if seen_max is None else seen_max
        state.wm_ms = 0 if wm_min is None else (t0 + wm_min) * 60_000
        for out in fn((1,), iter([chunk]), state):
            emitted.append(out)
        rel = [
            ((int(t) // 10**9) // 60 - t0, None if pd.isna(v) else v)
            for t, v in zip(chunk["_time"].astype("int64"), chunk["v"])
        ]
        model_chunks.append(rel)
        model_wms.append(wm_min)
        mx = max(r[0] for r in rel)
        seen_max = mx if seen_max is None else max(seen_max, mx)
    # final timeout pass with the terminal watermark (availableNow end)
    state.wm_ms = (t0 + seen_max) * 60_000
    for out in fn((1,), iter([]), state):
        emitted.append(out)
    model_chunks.append([])
    model_wms.append(seen_max)

    got = {}
    for frame in emitted:
        for _, r in frame.iterrows():
            b_min = (pd.Timestamp(r["tick_time"]).value // 10**9) // 60 - t0
            assert b_min not in got, f"boundary {b_min} emitted twice"
            got[b_min] = r["out"]

    exp = _brute_ticks(model_chunks, model_wms, op)
    assert set(got) == set(exp), (sorted(got), sorted(exp))
    for b, e in exp.items():
        g = got[b]
        if e is None:
            assert g is None or (isinstance(g, float) and math.isnan(g)), (b, g)
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (b, g, e)


# ----------------------------------------------------------------------
# tick-RUNNING machine (the materialize shape: per-event running values
# + injected boundary rows): SPLIT-INVARIANCE fuzz — output under any
# micro-batch split + watermark progression must equal the single-batch
# run (which the Spark equivalence tests pin to the batch lowering)
# ----------------------------------------------------------------------
from kaskada_spark.streaming.state_machines import AggSpec as _AggSpec
from kaskada_spark.streaming.ticks import _make_tick_running_fn

TR_OPS = ("sum", "count", "count_if", "min", "max", "mean",
          "variance", "stddev", "first", "last")


def _drive_tick_running(specs, tick_aliases, comp_names, pdf, cuts):
    """Feed ``pdf`` split at ``cuts``, each batch at the watermark of the
    batches before it. Returns the sorted output and the subsorts of
    the rows the machine must drop, worked out from the feed alone: a
    batch closes every boundary strictly below its newest event time
    and every boundary at-or-below its watermark, and a later row whose
    window's boundary is already closed is a straggler (the
    bounded-lateness rule of every machine). Rows at exactly the
    watermark still reach the machine."""
    cal = _Cal("hourly")
    fn = _make_tick_running_fn(
        specs, cal, {s.alias: "num" for s in specs},
        ["v", "fire"], set(tick_aliases), comp_names,
    )
    state = FakeTickState()
    outs, late = [], []
    seen_max_ms = horizon_ns = None
    for chunk in _chunks(pdf, cuts):
        tns = chunk["_time"].astype("int64")
        if horizon_ns is not None:
            late += chunk.loc[cal.bucket(tns) <= horizon_ns, "_subsort"].tolist()
        state.wm_ms = 0 if seen_max_ms is None else seen_max_ms
        outs.extend(fn((1,), iter([chunk]), state))
        mx = int(tns.max()) // 10**6
        seen_max_ms = mx if seen_max_ms is None else max(seen_max_ms, mx)
        closes = max(seen_max_ms * 10**6 - 1, state.wm_ms * 10**6)
        horizon_ns = closes if horizon_ns is None else max(horizon_ns, closes)
    state.wm_ms = seen_max_ms
    outs.extend(fn((1,), iter([]), state))
    out = pd.concat(outs, ignore_index=True)
    return out.sort_values(["_time", "_subsort"]).reset_index(drop=True), late


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 200),                        # minutes offset
            st.one_of(st.none(), st.integers(-20, 20)),  # value
            st.booleans(),                               # since-fire
        ),
        min_size=1, max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=4),
    st.sampled_from(TR_OPS),
    st.sampled_from(["tick", "cond", "plain"]),
)
# three events on an hour boundary, cut apart: the third arrives after
# the watermark closed that boundary's tick, so it is a straggler
@example([(0, None, False)] * 3, [1, 2], "sum", "tick")
def test_tick_running_machine_split_invariance(events, cuts, op, mode):
    from kaskada_spark.streaming.state_machines import _state_schema, _value_kind  # noqa: F401

    events = sorted(events, key=lambda e: e[0])
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=t) for t, _, _ in events],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for _, v, _ in events],
            "fire": [f for _, _, f in events],
        }
    )
    spec = _AggSpec(op, "v", "out", since="fire" if mode == "cond" else None)
    tick_aliases = {"out"} if mode == "tick" else set()
    from kaskada_spark.streaming.state_machines import _STATE_COMPS

    comp_names = [f"out__{c}" for c in _STATE_COMPS[op]]
    split, late = _drive_tick_running([spec], tick_aliases, comp_names, pdf, cuts)
    kept = pdf[~pdf["_subsort"].isin(late)].reset_index(drop=True)
    single, _ = _drive_tick_running([spec], tick_aliases, comp_names, kept, [])
    assert len(single) == len(split), (len(single), len(split))
    for i in range(len(single)):
        a, b = single.iloc[i], split.iloc[i]
        assert a["_time"] == b["_time"] and a["_subsort"] == b["_subsort"], i
        ga, gb = a["out"], b["out"]
        if pd.isna(ga) or ga is None:
            assert gb is None or pd.isna(gb), (i, ga, gb)
        else:
            assert gb == pytest.approx(ga, rel=1e-9, abs=1e-9), (i, ga, gb)


def _brute_chained(rows, inner_op, outer_op):
    """Reference chained-agg model (latched reconsumption,
    test_nested_sum_i64): the inner aggregate's running value is
    consumed by the outer at EVERY row — including rows where the inner
    input was null, where the held value counts again; rows before the
    first non-null input contribute nothing (inner is null)."""
    inner_vals = []
    inner_run = []
    for v, _ in rows:
        if v is not None:
            inner_vals.append(v)
        if not inner_vals:
            inner_run.append(None)
        elif inner_op == "sum":
            inner_run.append(float(sum(inner_vals)))
        elif inner_op == "mean":
            inner_run.append(sum(inner_vals) / len(inner_vals))
        elif inner_op == "last":
            inner_run.append(float(inner_vals[-1]))
    outer_inputs = []
    out = []
    for iv in inner_run:
        if iv is not None:
            outer_inputs.append(iv)
        vals = outer_inputs
        if outer_op == "count":
            out.append(len(vals))
        elif not vals:
            out.append(None)
        elif outer_op == "sum":
            out.append(float(sum(vals)))
        elif outer_op == "mean":
            out.append(sum(vals) / len(vals))
        elif outer_op == "max":
            out.append(float(max(vals)))
    return inner_run, out


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(ROW, min_size=1, max_size=24),
    st.lists(st.integers(1, 23), max_size=4),
    st.sampled_from(("sum", "mean", "last")),
    st.sampled_from(("sum", "mean", "count", "max")),
)
def test_chained_state_machine_matches_brute_force(rows, cuts, inner_op, outer_op):
    """Chained specs across arbitrary micro-batch splits: the outer
    consumes the inner's latched per-row output (null-input rows
    re-consume the held value) exactly like the reference model."""
    pdf = _frame(rows)
    specs = [
        AggSpec(inner_op, "v", "inner"),
        AggSpec(outer_op, "inner", "out"),
    ]
    res = _drive(specs, pdf, cuts)
    exp_inner, exp_out = _brute_chained(rows, inner_op, outer_op)
    for col, exp in (("inner", exp_inner), ("out", exp_out)):
        got = res[col].tolist()
        assert len(got) == len(exp)
        for i, (g, e) in enumerate(zip(got, exp)):
            if e is None:
                assert g is None or (isinstance(g, float) and math.isnan(g)), (col, i, g)
            else:
                assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (col, i, g, e)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 200),                         # minutes offset
            st.one_of(st.none(), st.integers(-20, 20)),  # value
            st.booleans(),                               # unused fire slot
        ),
        min_size=1, max_size=20,
    ),
    st.lists(st.integers(1, 19), max_size=4),
    st.sampled_from(("sum", "mean", "last")),
    st.sampled_from(("sum", "mean", "count", "max")),
    st.sampled_from(["tick", "plain"]),
)
def test_tick_machine_chained_split_invariance(events, cuts, inner_op, outer_op, mode):
    """Chained specs through the TICK machine: micro-batch splits must
    not change any row (incl. injected boundary rows, where the outer
    consumes the inner's latch). Covers the outer as tick-windowed and
    as plain running."""
    from kaskada_spark.streaming.state_machines import _STATE_COMPS

    events = sorted(events, key=lambda e: e[0])
    t0 = pd.Timestamp(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "_key": 1,
            "_time": [t0 + pd.Timedelta(minutes=t) for t, _, _ in events],
            "_subsort": range(len(events)),
            "v": [float(v) if v is not None else None for _, v, _ in events],
            "fire": [f for _, _, f in events],
        }
    )
    specs = [
        _AggSpec(inner_op, "v", "inner"),
        _AggSpec(outer_op, "inner", "out"),
    ]
    tick_aliases = {"out"} if mode == "tick" else set()
    comp_names = [f"inner__{c}" for c in _STATE_COMPS[inner_op]] + [
        f"out__{c}" for c in _STATE_COMPS[outer_op]
    ]
    split, late = _drive_tick_running(specs, tick_aliases, comp_names, pdf, cuts)
    kept = pdf[~pdf["_subsort"].isin(late)].reset_index(drop=True)
    single, _ = _drive_tick_running(specs, tick_aliases, comp_names, kept, [])
    assert len(single) == len(split), (len(single), len(split))
    for i in range(len(single)):
        a, b = single.iloc[i], split.iloc[i]
        assert a["_time"] == b["_time"] and a["_subsort"] == b["_subsort"], i
        for col in ("inner", "out"):
            ga, gb = a[col], b[col]
            if pd.isna(ga) or ga is None:
                assert gb is None or pd.isna(gb), (i, col, ga, gb)
            else:
                assert gb == pytest.approx(ga, rel=1e-9, abs=1e-9), (i, col, ga, gb)


# ---------------------------------------------------------------------------
# CEP pattern machine: Spark-free micro-batch fuzz vs the batch model
# ---------------------------------------------------------------------------
def _drive_pattern(spec_steps, within_s, events, cuts, unless_label=None):
    """Drive streaming/cep.py::_make_pattern_fn for ONE entity with a
    fake GroupState across micro-batch `cuts`, watermark advancing to
    the max fed event time after each batch, then a far-future flush.
    events: sorted [(t_sec, s, label, val)]; ``unless_label`` marks
    abort rows."""
    from kaskada_spark.operators.cep import PatternStep
    from kaskada_spark.prepare import KEY, SUBSORT, TIME
    from kaskada_spark.streaming import cep as scep

    labels = ["a", "b", "e", "d", "c"]
    spec_steps = [(s[0], s[1], s[2] if len(s) > 2 else 1) for s in spec_steps]
    quant = {n: (q, m) for n, q, m in spec_steps}
    steps = [
        PatternStep(n, None, quant[n][0],
                    aggs=[(f"sum_{n}", "sum", "val")]
                    if quant[n][0] in ("+", "*") else [],
                    min_count=quant[n][1])
        for n in labels if n in quant
    ]
    names = [s.name for s in steps]
    spec, _vidx = scep._build_pattern_spec(
        steps, f"{within_s} seconds" if within_s is not None else None
    )
    spec["has_unless"] = unless_label is not None
    fn = scep._make_pattern_fn(spec)

    class S:
        _v, exists, wm = None, False, 0
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v, self.exists = v, True
        def getCurrentWatermarkMs(self):
            return self.wm
        def setTimeoutTimestamp(self, ts):
            pass

    base = pd.Timestamp(2024, 1, 1)
    def mk_pdf(evs):
        cols = {
            TIME: [base + pd.Timedelta(seconds=t) for t, _s, _l, _v in evs],
            SUBSORT: [s for _t, s, _l, _v in evs],
            KEY: ["e"] * len(evs),
            **{f"__p{i}": [lbl == names[i] for _t, _s, lbl, _v in evs]
               for i in range(len(steps))},
        }
        if unless_label is not None:
            cols[f"__p{len(steps)}"] = [lbl == unless_label for _t, _s, lbl, _v in evs]
        cols["__v0"] = [float(v) for _t, _s, _l, v in evs]
        return pd.DataFrame(cols)

    state, outs = S(), []
    bounds = sorted({min(c, len(events)) for c in cuts} | {0, len(events)})
    fed_max = 0
    for a, b in zip(bounds, bounds[1:]):
        chunk = events[a:b]
        if not chunk:
            continue
        fed_max = max(fed_max, max(t for t, *_ in chunk))
        state.wm = int((base + pd.Timedelta(seconds=fed_max)).value) // 10**6
        outs.extend(fn(("e",), iter([mk_pdf(chunk)]), state))
    state.wm = int((base + pd.Timedelta(days=365)).value) // 10**6
    outs.extend(fn(("e",), iter([]), state))
    if not outs:
        return None
    row = outs[0].iloc[0]
    return row, base


def test_pattern_machine_matches_batch_model_fuzz():
    """pattern_stream's state machine == the batch reference model on
    randomized per-entity event sets split at randomized micro-batch
    boundaries (in-order feeding; the settle logic is exercised by the
    Spark-level out-of-order tests)."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(23)
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(1, 25)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcdx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "d", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 300, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "c", "d"):
            g = row[f"t_{nm}"]
            e = ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 40


def test_pattern_machine_trailing_plus_fuzz():
    """Trailing-open (`a b+`): emission at horizon close, consumption
    horizon-bounded — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(29)
    spec = [("a", "1"), ("b", "+")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(1, 20)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b"), v) for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=100)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 3)))
        got = _drive_pattern(spec, 100, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        assert row["t_a"] == base + pd.Timedelta(seconds=exp["t_a"]), trial
        assert row["t_b"] == base + pd.Timedelta(seconds=exp["t_b"]), trial
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 60


def test_pattern_machine_star_fuzz():
    """`a b+ e* c` with a zero-or-more consumer: machine == batch model
    (star consumption window, zero-count completion, aggregates)."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(37)
    spec = [("a", "1"), ("b", "+"), ("e", "*"), ("c", "1")]
    n_emitted = n_star = 0
    for trial in range(300):
        n = rng.randint(1, 25)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcex"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "e", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 300, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "e", "c"):
            g, e = row[f"t_{nm}"], ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], trial
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        assert row["n_e"] == exp["n_e"], (trial, row["n_e"], exp["n_e"])
        if exp["n_e"]:
            assert row["sum_e"] == pytest.approx(float(exp["sum_e"])), trial
            n_star += 1
        else:
            assert row["sum_e"] is None or pd.isna(row["sum_e"]), trial
        n_emitted += 1
    assert n_emitted >= 40 and n_star >= 5


def test_pattern_machine_min_count_fuzz():
    """`a b{3,} c` with sub-occurrences spanning micro-batch splits:
    the cur_* partial-progress state must carry 1-of-3 / 2-of-3
    sub-matches across invocations — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    # `a{3,} b?` within 100 s with `a` at 0, 1 and 1000 s in ONE batch:
    # the third `a` lies past the first one's horizon, so nothing matches
    spec = [("a", "+", 3), ("b", "?")]
    events = [(0, 0, "a", 1), (1, 1, "a", 1), (1000, 2, "a", 1)]
    flags = [(t, s, (lbl == "a", lbl == "b"), v) for t, s, lbl, v in events]
    assert not _brute_pattern(flags, spec, within=100)["completed"]
    for cuts in ([], [1], [2], [1, 2]):
        assert _drive_pattern(spec, 100, events, cuts) is None, cuts

    rng = random.Random(43)
    spec = [("a", "1"), ("b", "+", 3), ("c", "1")]
    n_emitted = 0
    for trial in range(300):
        n = rng.randint(3, 30)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abbcx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "c"), v)
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=400)
        # many cuts -> sub-matches split across invocations often
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(2, 8)))
        got = _drive_pattern(spec, 400, events, cuts)
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x)
        assert row["t_a"] == ts(exp["t_a"]), trial
        assert row["t_b"] == ts(exp["t_b"]), trial
        assert row["t_c"] == ts(exp["t_c"]), trial
        assert row["n_b"] == exp["n_b"] and row["n_b"] >= 3, trial
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 40


def test_pattern_machine_unless_fuzz():
    """`a b+ d? c UNLESS x` across micro-batch splits: abort voids later
    hits, bounds consumption/observation, kills or closes within the
    abort's settle pass — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(53)
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_emitted = n_aborted_effect = 0
    for trial in range(300):
        n = rng.randint(1, 30)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abcdxy"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b", l == "d", l == "c"), v, l == "x")
                 for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=300)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 5)))
        got = _drive_pattern(spec, 300, events, cuts, unless_label="x")
        if not exp["completed"]:
            assert got is None, (trial, exp)
            if any(a for *_x, a in flags):
                n_aborted_effect += 1
            continue
        assert got is not None, (trial, exp)
        row, base = got
        ts = lambda x: base + pd.Timedelta(seconds=x) if x is not None else None
        for nm in ("a", "b", "d", "c"):
            g, e = row[f"t_{nm}"], ts(exp[f"t_{nm}"])
            if e is None:
                assert pd.isna(g), (trial, nm, g)
            else:
                assert g == e, (trial, nm, g, e)
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
    assert n_emitted >= 20 and n_aborted_effect >= 20


def test_pattern_machine_unless_trailing_fuzz():
    """Trailing-open `a b+ UNLESS x`: the abort CLOSES the trailing
    window early (emission at the abort's settle pass, consumption
    strictly before it) — vs the batch model."""
    import random

    from tests.test_cep import _brute_pattern

    rng = random.Random(59)
    spec = [("a", "1"), ("b", "+")]
    n_emitted = n_closed_by_abort = 0
    for trial in range(300):
        n = rng.randint(1, 20)
        events = sorted(
            (rng.randint(0, 500), s, rng.choice("abbx"), rng.randint(1, 9))
            for s in range(n)
        )
        flags = [(t, s, (l == "a", l == "b"), v, l == "x") for t, s, l, v in events]
        exp = _brute_pattern(flags, spec, within=150)
        cuts = sorted(rng.randint(0, n) for _ in range(rng.randint(0, 4)))
        got = _drive_pattern(spec, 150, events, cuts, unless_label="x")
        if not exp["completed"]:
            assert got is None, (trial, exp)
            continue
        assert got is not None, (trial, exp)
        row, base = got
        assert row["t_a"] == base + pd.Timedelta(seconds=exp["t_a"]), trial
        assert row["t_b"] == base + pd.Timedelta(seconds=exp["t_b"]), trial
        assert row["n_b"] == exp["n_b"], (trial, row["n_b"], exp["n_b"])
        assert row["sum_b"] == pytest.approx(float(exp["sum_b"])), trial
        n_emitted += 1
        if any(a for *_x, a in flags):
            n_closed_by_abort += 1
    assert n_emitted >= 40 and n_closed_by_abort >= 10


# ---------------------------------------------------------------------------
# The four watermark-settling machines (shift_to, shift_until, merge,
# lookup): Spark-free differential fuzz vs pandas models of the batch
# operators, fed as one batch, one row per batch and random cuts
# ---------------------------------------------------------------------------
import random

from pyspark.sql import types as T

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.streaming import join as sjoin
from kaskada_spark.streaming import merge as smerge
from kaskada_spark.streaming import shift as sshift

_BASE = pd.Timestamp(2024, 1, 1)
_BASE_MS = _BASE.value // 10**6
_BIG = 2**53 + 1  # the smallest int64 a float64 cannot hold
_INT_MAX = 2**63 - 1


class WatermarkState(FakeTickState):
    """GroupState with a settable watermark that records the event-time
    timer. Spark clears the timer before every call, so ``_feed``
    resets ``timer`` before each one."""

    def __init__(self):
        super().__init__()
        self.timer = None

    def setTimeoutTimestamp(self, ts):
        assert ts > self.wm_ms, (ts, self.wm_ms)
        self.timer = ts


def _ts(sec):
    return _BASE + pd.Timedelta(seconds=sec)


def _sec(x):
    return int((pd.Timestamp(x) - _BASE) / pd.Timedelta(seconds=1))


def _plain(x):
    if x is None or x is pd.NaT or (isinstance(x, float) and math.isnan(x)):
        return None
    return x.item() if hasattr(x, "item") else x


def _carried_long(vals):
    """A nullable long payload column as the machines receive it: as
    strings (streaming/buffer.py)."""
    return pd.Series([None if v is None else str(v) for v in vals], dtype=object)


def _feed(fn, rows, cuts, mk_pdf, mark, due):
    """Feed ``rows`` (arrival order, one entity) the way Spark does with
    a 0 s watermark delay: a micro-batch sees the watermark of the
    batches before it, rows strictly behind it are dropped upstream, a
    batch left empty calls the machine only when its timer has passed,
    and a final far-future watermark flushes.

    ``mark(row)`` is the (time, subsort) the machine compares to its
    settled high-water mark; ``due(row)`` is the time at which an
    accepted row settles (and moves that mark), or None if it never
    settles on its own. After every call the armed timer must sit 1 ms
    before the earliest pending due time, and never at or behind the
    watermark. Returns (output frames in emission order, rows the batch
    operator sees, coverage counts)."""
    state = WatermarkState()
    idx = pd.DataFrame({"i": range(len(rows))})
    batches = [[rows[i] for i in c["i"]] for c in _chunks(idx, cuts)]
    outs, accepted = [], []
    hw = (-(2**63), -(2**63))
    seen = None
    cover = {"at_wm": 0, "straggler": 0}

    def call(batch, wm_s):
        nonlocal hw
        state.wm_ms, state.timer = _BASE_MS + int(wm_s * 1000), None
        feed = iter([mk_pdf(batch)] if batch else [])
        outs.extend(o for o in fn((1,), feed, state) if len(o))
        dues = [(due(r), mark(r)) for r in accepted if due(r) is not None]
        hw = max([hw] + [m for d, m in dues if d <= wm_s])
        pending = [d for d, _m in dues if d > wm_s]
        want = (max(_BASE_MS + min(pending) * 1000 - 1, state.wm_ms + 1)
                if pending else None)
        assert state.timer == want, (state.timer, want)

    for batch in batches + [None]:
        # Spark's watermark is the epoch until the first batch; the
        # final one lies past every shift target
        wm_s = 10**6 if batch is None else (-_BASE_MS // 1000 if seen is None else seen)
        live = []
        for r in batch or []:
            if r["t"] < wm_s:
                continue  # late: Spark drops it before the machine
            if mark(r) <= hw:
                cover["straggler"] += 1  # the machine must drop it
            else:
                cover["at_wm"] += r["t"] == wm_s
                accepted.append(r)
            live.append(r)
        if live:
            call(live, wm_s)
        elif state.timer is not None and _BASE_MS + int(wm_s * 1000) > state.timer:
            call([], wm_s)
        if batch:
            seen = max([r["t"] for r in batch] + ([] if seen is None else [seen]))
    return outs, accepted, cover


def _out_rows(outs, cols):
    rows = []
    for o in outs:
        vals = [o[TIME].tolist(), o[SUBSORT].tolist()] + [o[c].tolist() for c in cols]
        rows.extend((_sec(t), int(s), *map(_plain, rest)) for t, s, *rest in zip(*vals))
    return rows


_PAYLOAD = {"v": T.DoubleType(), "tag": T.StringType(), "n": T.LongType()}


def _payload(rng):
    return {
        "v": rng.choice([None, 1.5, -2.25, 7.0]),
        "tag": rng.choice([None, "x", "y"]),
        "n": rng.choice([None, 5, -3, _BIG]),
    }


def _shift_to_case(rng, n):
    rows = [dict(t=rng.randint(0, 12), s=i, d=rng.choice((0, 0, 1, 2, 5)), **_payload(rng))
            for i in range(n)]
    def mk_pdf(batch):
        return pd.DataFrame({
            TIME: [_ts(r["t"]) for r in batch], SUBSORT: [r["s"] for r in batch],
            KEY: [1] * len(batch),
            "v": pd.Series([r["v"] for r in batch], dtype="float64"),
            "tag": pd.Series([r["tag"] for r in batch], dtype=object),
            "n": _carried_long([r["n"] for r in batch]),
            sshift._TARGET: [_ts(r["t"] + r["d"]) for r in batch],
        })

    def model(acc):
        return [(r["t"] + r["d"], r["s"], 1, r["v"], r["tag"], r["n"]) for r in acc]

    return dict(
        rows=rows, fn=sshift._make_shift_fn(_PAYLOAD)[1], mk_pdf=mk_pdf, model=model,
        cols=[KEY, *_PAYLOAD],
        mark=lambda r: (r["t"] + r["d"], _INT_MAX),
        due=lambda r: r["t"] + r["d"],
    )


def _shift_until_case(rng, n):
    rows = [dict(t=rng.randint(0, 12), s=i, p=rng.random() < 0.3, **_payload(rng))
            for i in range(n)]
    def mk_pdf(batch):
        return pd.DataFrame({
            TIME: [_ts(r["t"]) for r in batch], SUBSORT: [r["s"] for r in batch],
            KEY: [1] * len(batch),
            "v": pd.Series([r["v"] for r in batch], dtype="float64"),
            "tag": pd.Series([r["tag"] for r in batch], dtype=object),
            "n": _carried_long([r["n"] for r in batch]),
            sshift._PRED: [r["p"] for r in batch],
        })

    def model(acc):
        df = pd.DataFrame({"t": [r["t"] for r in acc], "s": [r["s"] for r in acc],
                           "p": [r["p"] for r in acc], "r": acc})
        df = df.sort_values(["t", "s"])
        fire = df["t"].where(df["p"]).bfill()
        return [(int(f), r["s"], 1, r["v"], r["tag"], r["n"])
                for f, r in zip(fire, df["r"]) if not math.isnan(f)]

    return dict(
        rows=rows, fn=sshift._make_shift_until_fn(_PAYLOAD)[1], mk_pdf=mk_pdf, model=model,
        cols=[KEY, *_PAYLOAD],
        mark=lambda r: (r["t"], r["s"]),
        due=lambda r: r["t"] if r["p"] else None,
    )


def _merge_case(rng, n):
    keys = {(rng.choice("LR"), rng.randint(0, 12), rng.randint(0, 4)) for _ in range(n)}
    rows = [dict(side=side, t=t, s=s, price=rng.choice([None, 1.5, 9.0]),
                 qty=rng.choice([None, 2, _BIG]), tag=rng.choice([None, "x"]))
            for side, t, s in sorted(keys)]
    for r in rows:
        if r["side"] == "L":
            r["qty"] = r["tag"] = None
        else:
            r["price"] = None

    def mk_pdf(batch):
        return pd.DataFrame({
            KEY: [1] * len(batch), TIME: [_ts(r["t"]) for r in batch],
            SUBSORT: [r["s"] for r in batch],
            smerge._SIDE: [r["side"] == "L" for r in batch],
            "price": pd.Series([r["price"] for r in batch], dtype="float64"),
            "qty": _carried_long([r["qty"] for r in batch]),
            "tag": pd.Series([r["tag"] for r in batch], dtype=object),
        })

    def model(acc):
        cols = ["t", "s", "price", "qty", "tag"]
        side = {sd: pd.DataFrame([[r[c] for c in cols] for r in acc if r["side"] == sd],
                                 columns=cols, dtype=object) for sd in "LR"}
        m = side["L"][["t", "s", "price"]].merge(
            side["R"][["t", "s", "qty", "tag"]], on=["t", "s"], how="outer"
        ).sort_values(["t", "s"], key=lambda c: c.astype("int64"))
        latch, out = None, []
        for t, s, price, qty, tag in m.itertuples(index=False):
            latch = latch if _plain(qty) is None else qty
            out.append((int(t), int(s), 1, _plain(price), latch, _plain(tag)))
        return out

    return dict(
        rows=rows,
        fn=smerge._make_merge_fn(["price"], ["qty", "tag"], ["qty"], {
            "price": T.DoubleType(), "qty": T.LongType(), "tag": T.StringType()})[1],
        mk_pdf=mk_pdf, model=model, cols=[KEY, "price", "qty", "tag"],
        mark=lambda r: (r["t"], _INT_MAX), due=lambda r: r["t"],
    )


def _lookup_case(rng, n):
    keys = {(rng.choice("FQ"), rng.randint(0, 12), rng.randint(0, 4)) for _ in range(n)}
    rows = [dict(side=side, t=t, s=s, price=rng.choice([None, 1.5, 9.0]),
                 qty=rng.choice([None, 2, _BIG]), orig=rng.choice([7, -1, _BIG]))
            for side, t, s in sorted(keys)]

    def mk_pdf(batch):
        req = [r["side"] == "Q" for r in batch]
        return pd.DataFrame({
            KEY: [1] * len(batch), TIME: [_ts(r["t"]) for r in batch],
            SUBSORT: [r["s"] for r in batch],
            sjoin._ORIG: pd.Series([str(r["orig"]) if q else None for r, q in zip(batch, req)],
                                   dtype=object),
            sjoin._IS_REQ: req,
            "__f_price": pd.Series([None if q else r["price"] for r, q in zip(batch, req)],
                                   dtype="float64"),
            "__f_qty": _carried_long([None if q else r["qty"] for r, q in zip(batch, req)]),
        })

    def model(acc):
        snap, out = (None, None), []
        for r in sorted(acc, key=lambda r: (r["t"], r["s"], r["side"] == "Q")):
            if r["side"] == "F":
                snap = (r["price"], r["qty"])
            else:
                out.append((r["t"], r["s"], r["orig"], *snap))
        return out

    return dict(
        rows=rows,
        fn=sjoin._make_lookup_fn(
            T.LongType(), {"price": T.DoubleType(), "qty": T.LongType()})[1],
        mk_pdf=mk_pdf,
        model=model, cols=[KEY, "price", "qty"],
        mark=lambda r: (r["t"], _INT_MAX), due=lambda r: r["t"],
    )


_SETTLING = {
    "shift_to": _shift_to_case,
    "shift_until": _shift_until_case,
    "merge": _merge_case,
    "lookup": _lookup_case,
}


@pytest.mark.parametrize("machine", sorted(_SETTLING))
def test_settling_machine_matches_batch_model_fuzz(machine):
    """Each watermark-settling machine == a pandas model of its batch
    operator on the rows the stream accepts, whether fed as one batch,
    one row per batch or at random cuts. Arrival order is locally
    shuffled and times collide, so batches see rows at exactly the
    watermark (kept) and stragglers at the settled high-water mark
    (dropped); the machine's own event-time timer drives every flush."""
    rng = random.Random(71)
    cover = {"at_wm": 0, "straggler": 0, "emitted": 0}
    for trial in range(150):
        case = _SETTLING[machine](rng, rng.randint(1, 18))
        rows = sorted(case["rows"], key=lambda r: r["t"] + 3 * rng.random())
        n = len(rows)
        for cuts in ([], list(range(n)), sorted(rng.randint(0, n) for _ in range(rng.randint(1, 5)))):
            outs, acc, cov = _feed(case["fn"], rows, cuts, case["mk_pdf"],
                                   case["mark"], case["due"])
            got = _out_rows(outs, case["cols"])
            times = [r[0] for r in got]
            assert times == sorted(times), (trial, cuts, "emitted out of order")
            exp = case["model"](acc)
            assert sorted(got, key=lambda r: r[:2]) == sorted(exp, key=lambda r: r[:2]), (
                trial, cuts)
            cover["at_wm"] += cov["at_wm"]
            cover["straggler"] += cov["straggler"]
            cover["emitted"] += len(got)
    assert cover["at_wm"] >= 100 and cover["straggler"] >= 20 and cover["emitted"] >= 1000, cover
