"""CEP sequence matching per entity: quantified patterns, and the
first-occurrence funnel as their all-``"1"`` special case.

The north rule names a "structured-streaming / CEP engine"; sessions,
windows and stateful joins cover most of that surface, and this module
adds the classic event-sequence primitive: does each entity's timeline
contain step-1 THEN step-2 THEN ... step-k, optionally all within a
horizon measured from the step-1 instant (MATCH_RECOGNIZE-style
``A B+ C?``, see :func:`match_pattern`).

A funnel (:func:`match_funnel`) is a pattern whose every step is a
plain ``"1"`` (first-occurrence / AFTER MATCH SKIP TO FIRST):
- t1 = the entity's FIRST row matching step 1;
- t_i = the FIRST row matching step i strictly after (t_{i-1},
  subsort_{i-1}) and (if ``within``) at-or-before t1 + within. A single
  row can never satisfy two consecutive steps (strict (time, subsort)
  ordering), and predicates may overlap freely.
- First-occurrence is well-defined under ``within``: if the first
  step-i row after t_{i-1} falls outside the horizon, every later one
  does too, so greedy == optimal and no backtracking exists.
``match_funnel`` only names the steps and calls ``match_pattern``.

Scale posture: the lowering is ONE shuffle. Rows are pre-filtered to
those matching ANY step (predicate pushdown to the scan), then a single
`partitionBy(_key).orderBy(_time,_subsort)` window computes chained
running-min structs — each `__r{i}` is the running "first step-i row
seen so far that follows __r{i-1}"; because rows are scanned in order,
the running min is CONSTANT once set, so the stacked Window operators
reuse one exchange+sort, and the final per-entity groupBy is satisfied
by the same hash partitioning (no second exchange). State per row is
k small structs — no per-entity buffering, unlike a collect_list
lowering which would hold a hot entity's whole history in one task. A
funnel uses none of the consumption/observation finals, so Catalyst
prunes them and it plans as k running-min windows (one more with
``unless``).

The streaming twin is streaming/cep.py::pattern_stream (funnel_stream
is its all-``"1"`` adapter); batch ``completed`` rows equal the
streamed output on ordered replay (tests/test_cep.py).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from kaskada_spark.prepare import KEY, SUBSORT, TIME
from kaskada_spark.timeline import Timeline


@dataclass
class PatternStep:
    """One step of a quantified CEP pattern (see :func:`match_pattern`).

    ``quant``:
    - ``"1"`` — exactly one event (a plain funnel step);
    - ``"+"`` — one-or-more (MATCH_RECOGNIZE ``B+`` in its reluctant /
      minimal-match reading, the funnel-analytics form): the step
      matches at its FIRST occurrence and *consumes* every further
      event matching its predicate until the next required step's
      matched instant (or the horizon / entity end for the last step);
    - ``"?"`` — optional observer (``B?``): never gates the required
      chain; records the first matching event strictly between the
      surrounding required steps' instants (or up to the horizon when
      the following required step is unmatched / absent);
    - ``"*"`` — zero-or-more (``B*``): never gates the chain either;
      CONSUMES every matching event in the same strictly-between
      window a ``?`` observes, emitting ``t_<name>`` (first consumed
      instant, null when none), ``n_<name>`` (may be 0) and any
      ``aggs`` over the consumed set.

    ``aggs`` — per-step aggregates over the step's consumed events,
    as ``(out_name, fn, col)`` with ``fn`` in {sum, min, max}; a
    ``n_<name>`` consumed-event count is always emitted for ``+``/``*``
    steps. Only ``+``/``*`` steps may carry aggregates (a ``"1"`` step
    consumes exactly its one matched row — project it upstream
    instead).
    """

    name: str
    pred: Column
    quant: str = "1"
    aggs: Sequence[tuple[str, str, str]] = field(default_factory=tuple)
    #: bounded repetition (MATCH_RECOGNIZE ``B{m,}``), ``"+"`` only:
    #: the step matches at its ``min_count``-th qualifying occurrence
    #: (each strictly after the previous, all inside the horizon); the
    #: next required step anchors after that instant, while consumption
    #: still starts at the FIRST occurrence — so ``n_<name> >=
    #: min_count`` whenever matched.
    min_count: int = 1


def _validate_steps(steps: Sequence[PatternStep]) -> tuple[list[int], dict[int, int]]:
    """Reject a malformed pattern — the one check list of
    :func:`match_pattern` and streaming ``pattern_stream``. Returns the
    required (``"1"``/``"+"``) step indices and each step's required
    rank (for observers, the rank of the nearest PRECEDING required
    step, its anchor)."""
    if len(steps) < 2:
        raise ValueError("a pattern needs at least two steps")
    names = [s.name for s in steps]
    if len(set(names)) != len(names):
        raise ValueError(f"step names must be unique, got {names}")
    for s in steps:
        if s.quant not in ("1", "+", "?", "*"):
            raise ValueError(
                f"step {s.name!r}: quant must be '1', '+', '?' or '*'"
            )
        if s.aggs and s.quant not in ("+", "*"):
            raise ValueError(f"step {s.name!r}: aggregates need quant '+' or '*'")
        for out, fn, _col in s.aggs:
            if fn not in ("sum", "min", "max"):
                raise ValueError(f"step {s.name!r}: agg fn {fn!r} not in sum/min/max")
        if s.min_count < 1:
            raise ValueError(f"step {s.name!r}: min_count must be >= 1")
        if s.min_count > 1 and s.quant != "+":
            raise ValueError(f"step {s.name!r}: min_count needs quant '+'")
    if steps[0].quant in ("?", "*"):
        raise ValueError("a pattern cannot start with an optional step")
    req = [i for i, s in enumerate(steps) if s.quant in ("1", "+")]
    rank_of = {i: sum(j <= i for j in req) - 1 for i in range(len(steps))}
    return req, rank_of


def _funnel_steps(
    steps: Sequence[Column], step_names: Sequence[str] | None
) -> list[PatternStep]:
    """A funnel as a pattern: one plain ``"1"`` step per predicate,
    named ``step_names`` (default ``step1..stepk``)."""
    names = list(step_names) if step_names else [f"step{i + 1}" for i in range(len(steps))]
    if len(names) != len(steps):
        raise ValueError("step_names must match steps")
    return [PatternStep(n, pred) for n, pred in zip(names, steps)]


def match_funnel(
    tl: Timeline,
    steps: Sequence[Column],
    within: str | None = None,
    step_names: Sequence[str] | None = None,
    unless: Column | None = None,
) -> DataFrame:
    """Per-entity first-occurrence funnel over ``steps`` predicates: the
    all-``"1"`` :func:`match_pattern` (see the module docstring).

    Returns one row per entity that has at least one row matching any
    step: ``(_key, step_reached, t_<name> per step, completed)``.
    ``within`` is an SQL interval body (e.g. ``"48 hours"``) bounding
    steps 2..k relative to the step-1 instant. ``unless`` is the CEP
    abort predicate ("A then B then C with no X in between"): a row
    matching it strictly after the step-1 instant kills the match —
    steps at-or-after the first abort row don't count.
    """
    return match_pattern(tl, _funnel_steps(steps, step_names), within, unless)


def match_pattern(
    tl: Timeline,
    steps: Sequence[PatternStep],
    within: str | None = None,
    unless: Column | None = None,
) -> DataFrame:
    """Quantified per-entity pattern matching — MATCH_RECOGNIZE-style
    ``A B+ C?`` sequences with per-step aggregates; :func:`match_funnel`
    is its all-``"1"`` case.

    Semantics (first-occurrence / reluctant quantifiers — greedy-minimal
    matching, so no backtracking exists and the lowering stays a single
    window chain):

    - The REQUIRED chain is the ``"1"``/``"+"`` steps in order: t_i is
      the entity's first event matching step i strictly after
      (t_{i-1}, subsort_{i-1}), bounded (steps 2..k) by
      ``t_1 + within`` when a horizon is given. ``completed`` means all
      required steps matched; ``step_reached`` counts matched required
      steps.
    - A ``"+"`` step additionally CONSUMES every event matching its
      predicate from its matched instant (inclusive) up to the next
      required step's matched instant (exclusive); for the last
      required step — or when the next required step is unmatched —
      consumption runs to the horizon (inclusive) / entity end. Its
      ``n_<name>`` count (>= 1 whenever matched) and ``aggs`` are
      computed over the consumed events.
    - A ``"?"`` step observes: ``t_<name>`` is the first event matching
      its predicate strictly between the previous required step's
      instant and the next required step's instant (or horizon when
      that is unmatched / absent). Observers never gate the chain and
      may be null on completed entities. A pattern cannot START with an
      observer (the anchor must be a required step).

    ``unless`` is the abort predicate ("... with no X in between"): the
    FIRST event matching it strictly after the match anchor (the first
    required step's first occurrence; an anchor row matching ``unless``
    does not kill its own match) voids every required (sub-)hit
    at-or-after it — abort wins ties — and bounds every
    consumption/observation window strictly before it. Exact without
    backtracking: each required instant is the earliest achievable
    given the anchor, so a match avoiding the abort row exists iff the
    greedy one does; the lowering adds one more chained running-min
    (the first abort row after the anchor).

    Returns one row per entity having >= 1 event matching any step:
    ``(_key, step_reached, t_<name> per step, n_<name> + aggs per "+"
    step, completed)``.

    Scale posture (module docstring): ONE shuffle.
    The chained running-min structs share one
    ``partitionBy(_key).orderBy(_time,_subsort)`` exchange+sort; the
    per-step FINAL instants are full-partition-frame windows over the
    same sort (a running min is constant once set, so its partition max
    IS its final value — no join-back needed); consumption masks are
    per-row predicates over those finals, folded into the same
    per-entity hash aggregate the exchange already satisfies. State per
    row stays k small structs — no per-entity event buffering.

    Reference: sparrow has no quantified-pattern operator; this is the
    north rule's CEP term. Streaming twin:
    streaming/cep.py::pattern_stream (equivalence-tested).
    """
    steps = list(steps)
    req, rank_of = _validate_steps(steps)
    k = len(req)

    flags = [F.coalesce(s.pred.cast("boolean"), F.lit(False)) for s in steps]
    ord_struct = F.struct(F.col(TIME).alias("t"), F.col(SUBSORT).alias("s"))
    keep = reduce(lambda a, b: a | b, flags)
    if unless is not None:
        unless = F.coalesce(unless.cast("boolean"), F.lit(False))
        keep = keep | unless
    df = tl.df.filter(keep)

    w_run = (
        W.partitionBy(KEY)
        .orderBy(TIME, SUBSORT)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = (
        W.partitionBy(KEY)
        .orderBy(TIME, SUBSORT)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    # per required rank: the MATCH column (min_count-th occurrence, the
    # chain instant) and the FIRST-occurrence column (where consumption
    # begins); identical for min_count == 1. The horizon anchors at the
    # match START — rank 0's first occurrence.
    rname = {rr: f"__r{rr}" for rr in range(k)}
    fname = {}
    for rr, i in enumerate(req):
        need = steps[i].min_count
        fname[rr] = f"__q{rr}_0" if need > 1 else rname[rr]
        for j in range(need):
            cond = flags[i]
            if j > 0:
                prev = F.col(f"__q{rr}_{j - 1}")
                cond = cond & prev.isNotNull() & (ord_struct > prev)
            elif rr > 0:
                prev = F.col(rname[rr - 1])
                cond = cond & prev.isNotNull() & (ord_struct > prev)
            if within is not None and (rr > 0 or j > 0):
                cond = cond & (
                    F.col(f"{fname[0]}.t") + F.expr(f"INTERVAL {within}")
                    >= F.col(TIME)
                )
            if unless is not None and (rr > 0 or j > 0):
                u = F.col("__u")
                cond = cond & (u.isNull() | (ord_struct < u))
            col = rname[rr] if j == need - 1 else f"__q{rr}_{j}"
            df = df.withColumn(col, F.min(F.when(cond, ord_struct)).over(w_run))
            if rr == 0 and j == 0 and unless is not None:
                # first abort row strictly after the anchor (an anchor
                # row matching ``unless`` doesn't kill its own match)
                anchor = F.col(fname[0])
                ucond = unless & anchor.isNotNull() & (ord_struct > anchor)
                df = df.withColumn("__u", F.min(F.when(ucond, ord_struct)).over(w_run))
    ffname = {}
    for rr in range(k):
        df = df.withColumn(f"__f{rr}", F.max(F.col(rname[rr])).over(w_all))
        if fname[rr] == rname[rr]:
            ffname[rr] = f"__f{rr}"
        else:
            ffname[rr] = f"__ff{rr}"
            df = df.withColumn(ffname[rr], F.max(F.col(fname[rr])).over(w_all))

    horizon_ok = (
        F.col(TIME) <= F.col(f"{ffname[0]}.t") + F.expr(f"INTERVAL {within}")
        if within is not None
        else F.lit(True)
    )

    if unless is not None:
        df = df.withColumn("__fu", F.max(F.col("__u")).over(w_all))

    def upper_bound(rr: int) -> Column:
        """Consumption/observation upper bound after required rank rr:
        strictly before the next required instant; to the horizon when
        that is unmatched or absent; always strictly before the abort
        instant when an ``unless`` abort exists."""
        if rr + 1 < k:
            nxt = F.col(f"__f{rr + 1}")
            ub = F.when(nxt.isNotNull(), ord_struct < nxt).otherwise(horizon_ok)
        else:
            ub = horizon_ok
        if unless is not None:
            fu = F.col("__fu")
            ub = ub & (fu.isNull() | (ord_struct < fu))
        return ub

    aggs = [F.max(F.col(f"__r{rr}")).alias(f"__m{rr}") for rr in range(k)]
    for i, s in enumerate(steps):
        rr = rank_of[i]
        if s.quant == "+":
            # gate on the MATCH (min_count-th occurrence); consume from
            # the FIRST occurrence
            lower = F.col(f"__f{rr}").isNotNull() & (
                ord_struct >= F.col(ffname[rr])
            )
            c = flags[i] & lower & upper_bound(rr)
            aggs.append(F.count(F.when(c, F.lit(1))).alias(f"n_{s.name}"))
            for out, fn, col in s.aggs:
                aggs.append(getattr(F, fn)(F.when(c, F.col(col))).alias(out))
        elif s.quant in ("?", "*"):
            anchor = F.col(f"__f{rr}")
            c = flags[i] & anchor.isNotNull() & (ord_struct > anchor) & upper_bound(rr)
            aggs.append(F.min(F.when(c, ord_struct)).alias(f"__o{i}"))
            if s.quant == "*":
                aggs.append(F.count(F.when(c, F.lit(1))).alias(f"n_{s.name}"))
                for out, fn, col in s.aggs:
                    aggs.append(getattr(F, fn)(F.when(c, F.col(col))).alias(out))

    g = df.groupBy(KEY).agg(*aggs)
    step_reached = reduce(
        lambda a, b: a + b,
        [F.when(F.col(f"__m{rr}").isNotNull(), 1).otherwise(0) for rr in range(k)],
    )
    out_cols = [KEY, step_reached.cast("int").alias("step_reached")]
    for i, s in enumerate(steps):
        src = f"__o{i}" if s.quant in ("?", "*") else f"__m{rank_of[i]}"
        out_cols.append(F.col(f"{src}.t").alias(f"t_{s.name}"))
    for s in steps:
        if s.quant in ("+", "*"):
            out_cols.append(F.col(f"n_{s.name}"))
            out_cols.extend(F.col(out) for out, _fn, _c in s.aggs)
    out_cols.append(F.col(f"__m{k - 1}").isNotNull().alias("completed"))
    return g.select(*out_cols)
