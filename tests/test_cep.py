"""CEP funnel matching: batch goldens, a brute-force reference fuzz,
plan shape (single exchange), and batch ≡ streaming equivalence."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from kaskada_spark import Timeline
from kaskada_spark.operators.cep import match_funnel
from kaskada_spark.streaming.cep import funnel_stream

from tests.test_streaming import _write_time_split


def _tl(spark, rows):
    """rows: (entity, t_seconds, subsort, step_label)"""
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(e, base + dt.timedelta(seconds=t), s, lbl) for e, t, s, lbl in rows],
        "ent string, ts timestamp, sid long, lbl string",
    )
    return Timeline.from_events(df, "ts", "ent", "sid")


def _steps():
    # Column construction needs an active SparkContext — keep it lazy.
    return [F.col("lbl") == "a", F.col("lbl") == "b", F.col("lbl") == "c"]


def _run(spark, rows, within=None):
    out = match_funnel(_tl(spark, rows), _steps(), within=within)
    return {
        r["_key"]: (r["step_reached"], r["completed"], r["t_step1"], r["t_step2"], r["t_step3"])
        for r in out.collect()
    }


def test_funnel_basic_and_partials(spark):
    got = _run(
        spark,
        [
            # e1 completes a->b->c; the second 'a'/'b' are ignored
            ("e1", 0, 0, "a"), ("e1", 1, 1, "a"), ("e1", 2, 2, "b"),
            ("e1", 3, 3, "b"), ("e1", 4, 4, "c"),
            # e2 stalls at b (no c)
            ("e2", 0, 0, "a"), ("e2", 5, 1, "b"),
            # e3 has b,c but never a -> step_reached 0 (rows still match a step)
            ("e3", 0, 0, "b"), ("e3", 1, 1, "c"),
            # e4: c before a doesn't count; b after a does
            ("e4", 0, 0, "c"), ("e4", 1, 1, "a"), ("e4", 2, 2, "b"),
        ],
    )
    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    assert got["e1"] == (3, True, t(0), t(2), t(4))
    assert got["e2"] == (2, False, t(0), t(5), None)
    assert got["e3"] == (0, False, None, None, None)
    assert got["e4"] == (2, False, t(1), t(2), None)


def test_funnel_within_expiry_and_first_occurrence(spark):
    # first-occurrence: the horizon is anchored at the FIRST 'a', so a
    # later in-horizon a->b->c run does not rescue the entity
    got = _run(
        spark,
        [
            ("e1", 0, 0, "a"), ("e1", 100, 1, "b"), ("e1", 101, 2, "c"),
            ("e2", 0, 0, "a"), ("e2", 5, 1, "b"), ("e2", 100, 2, "c"),
            ("e3", 0, 0, "a"), ("e3", 50, 1, "a"), ("e3", 55, 2, "b"), ("e3", 58, 3, "c"),
        ],
        within="10 seconds",
    )
    assert got["e1"][0] == 1 and not got["e1"][1]
    assert got["e2"][0] == 2 and not got["e2"][1]
    assert got["e3"][0] == 1 and not got["e3"][1]


def test_funnel_same_row_cannot_satisfy_two_steps(spark):
    # one row matching both 'a' and 'b' predicates may only serve one step
    tl = _tl(spark, [("e1", 0, 0, "ab"), ("e1", 1, 1, "b"), ("e1", 2, 2, "c")])
    out = match_funnel(
        tl,
        [F.col("lbl").contains("a"), F.col("lbl").contains("b"), F.col("lbl") == "c"],
    )
    r = out.collect()[0]
    assert r["step_reached"] == 3
    assert r["t_step1"] != r["t_step2"]


def _brute_funnel(events, k, within=None):
    """events: sorted [(t, s, step_flags)] or [(t, s, step_flags, abort)]
    for ONE entity; returns hit times."""
    hits = []
    for ev in events:
        t, s, flags = ev[0], ev[1], ev[2]
        abort = ev[3] if len(ev) > 3 else False
        stage = len(hits)
        if stage >= k:
            break
        if abort and hits and (t, s) > hits[0]:
            break  # abort wins ties; later steps never count
        if not flags[stage]:
            continue
        if stage > 0:
            if (t, s) <= hits[-1][:2]:
                continue
            if within is not None and t > hits[0][0] + within:
                continue
        hits.append((t, s))
    return hits


def test_funnel_matches_bruteforce_random(spark):
    rng = random.Random(7)
    rows = []
    for e in range(40):
        for s in range(rng.randint(1, 30)):
            rows.append((f"e{e}", rng.randint(0, 1000), s, rng.choice("abcx")))
    got = _run(spark, rows, within="300 seconds")
    base = dt.datetime(2024, 1, 1)
    by_ent = {}
    for e, t, s, lbl in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "c"))
        )
    n_checked = 0
    for e, evs in by_ent.items():
        if not any(any(f) for _, _, f in evs):
            assert e not in got
            continue
        hits = _brute_funnel(evs, 3, within=300)
        exp_t = [base + dt.timedelta(seconds=h[0]) for h in hits] + [None] * (3 - len(hits))
        assert got[e] == (len(hits), len(hits) == 3, *exp_t), e
        n_checked += 1
    assert n_checked >= 30


def test_funnel_unless_abort(spark):
    got_rows = match_funnel(
        _tl(
            spark,
            [
                # e1: x between a and b kills the match (step_reached stays 1)
                ("e1", 0, 0, "a"), ("e1", 1, 1, "x"), ("e1", 2, 2, "b"), ("e1", 3, 3, "c"),
                # e2: x after completion is irrelevant
                ("e2", 0, 0, "a"), ("e2", 1, 1, "b"), ("e2", 2, 2, "c"), ("e2", 3, 3, "x"),
                # e3: x before the anchor is irrelevant
                ("e3", 0, 0, "x"), ("e3", 1, 1, "a"), ("e3", 2, 2, "b"), ("e3", 3, 3, "c"),
                # e4: b between a and the abort still counts (partial progress)
                ("e4", 0, 0, "a"), ("e4", 1, 1, "b"), ("e4", 2, 2, "x"), ("e4", 3, 3, "c"),
            ],
        ),
        _steps(),
        unless=F.col("lbl") == "x",
    ).collect()
    got = {r["_key"]: (r["step_reached"], r["completed"]) for r in got_rows}
    assert got == {
        "e1": (1, False),
        "e2": (3, True),
        "e3": (3, True),
        "e4": (2, False),
    }


def test_funnel_unless_matches_bruteforce_random(spark):
    rng = random.Random(11)
    rows = []
    for e in range(40):
        for s in range(rng.randint(1, 30)):
            rows.append((f"e{e}", rng.randint(0, 1000), s, rng.choice("abcxy")))
    out = match_funnel(
        _tl(spark, rows), _steps(), within="300 seconds",
        unless=F.col("lbl") == "x",
    )
    got = {
        r["_key"]: (r["step_reached"], r["completed"])
        for r in out.collect()
    }
    by_ent = {}
    for e, t, s, lbl in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "c"), lbl == "x")
        )
    n_checked = 0
    for e, evs in by_ent.items():
        if not any(any(f) or a for _, _, f, a in evs):
            assert e not in got
            continue
        hits = _brute_funnel(evs, 3, within=300)
        assert got[e] == (len(hits), len(hits) == 3), e
        n_checked += 1
    assert n_checked >= 30


def test_stream_funnel_unless_equals_batch(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")
    steps = [F.col("event_type") == "signup", F.col("event_type") == "click",
             F.col("event_type") == "purchase"]
    unless = F.col("event_type") == "error"
    names = ["signup", "click", "purchase"]
    batch = match_funnel(tl, steps, step_names=names, unless=unless)
    expected = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in batch.filter("completed").collect()
    }
    # the abort must be non-vacuous: some entity completes WITHOUT the
    # abort predicate but not with it
    plain = match_funnel(tl, steps, step_names=names)
    assert plain.filter("completed").count() > len(expected)

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = funnel_stream(stream, steps, step_names=names, unless=unless)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected


def test_funnel_plan_single_exchange(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")
    out = match_funnel(
        tl,
        [F.col("event_type") == "signup", F.col("event_type") == "click",
         F.col("event_type") == "purchase"],
        within="48 hours",
        unless=F.col("event_type") == "error",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_stream_funnel_equals_batch(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")
    steps = [F.col("event_type") == "signup", F.col("event_type") == "click",
             F.col("event_type") == "purchase"]
    names = ["signup", "click", "purchase"]
    batch = match_funnel(tl, steps, within="48 hours", step_names=names)
    expected = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in batch.filter("completed").collect()
    }
    assert expected  # non-vacuous at sf0.001 with 48h

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = funnel_stream(stream, steps, within="48 hours", step_names=names)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_df = spark.read.parquet(str(tmp_path / "out"))
    got = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in got_df.collect()
    }
    assert got == expected


def test_stream_funnel_out_of_order_within_watermark(spark, tmp_path):
    """Rows split across micro-batches NOT in time order: a generous
    watermark lets the settle logic reorder them, so the match is still
    the batch match."""
    rows = [
        ("e1", 0, 0, "a"), ("e1", 10, 1, "b"), ("e1", 20, 2, "c"),
        ("e2", 5, 0, "a"), ("e2", 6, 1, "c"), ("e2", 7, 2, "b"), ("e2", 8, 3, "c"),
    ]
    tl = _tl(spark, rows)
    batch = match_funnel(tl, _steps(), step_names=["a", "b", "c"])
    expected = {
        r["_key"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in batch.filter("completed").collect()
    }
    # reverse-time file order: later rows arrive first; a final far-future
    # row on an unrelated entity pushes the watermark past everything so
    # the buffered rows settle (with a 1h delay the availableNow final
    # watermark would otherwise stay behind this 20-second data span)
    import os
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    ordered = tl.df.orderBy(F.desc("_time")).collect()
    flush = _tl(spark, [("e9", 100_000, 0, "a")]).df.collect()
    _write_rows_as_files(spark, tl.df.schema, ordered + flush, in_dir, 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = funnel_stream(
        stream, _steps(), step_names=["a", "b", "c"], watermark="1 hour"
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["_key"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected


def test_stream_funnel_resume_from_checkpoint(spark, sf_dir, tmp_path):
    """Run files 1-2, stop, DELETE file 1, add files 3-4, resume: the
    combined emissions must equal the batch completed set (funnel state
    — stage, hit times, settled high-water — survives the checkpoint;
    the reference's resumeable_tests.rs pattern)."""
    import os
    import shutil

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")
    steps = [F.col("event_type") == "signup", F.col("event_type") == "click",
             F.col("event_type") == "purchase"]
    names = ["signup", "click", "purchase"]
    expected = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in match_funnel(tl, steps, within="48 hours", step_names=names)
        .filter("completed").collect()
    }

    full = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "full"), 4)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    files = sorted(os.listdir(full))

    def run():
        stream = (
            spark.readStream.schema(tl.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = funnel_stream(stream, steps, within="48 hours", step_names=names)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    run()
    os.remove(os.path.join(in_dir, files[0]))  # early input gone
    for f in files[2:]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    run()

    got = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_purchase"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected


# ----------------------------------------------------------------------
# quantified patterns: A B+ C? with per-step aggregates (match_pattern)
# ----------------------------------------------------------------------
def _pattern_steps():
    from kaskada_spark.operators.cep import PatternStep

    return [
        PatternStep("a", F.col("lbl") == "a"),
        PatternStep(
            "b",
            F.col("lbl") == "b",
            "+",
            aggs=[("b_sum", "sum", "val"), ("b_max", "max", "val")],
        ),
        PatternStep("d", F.col("lbl") == "d", "?"),
        PatternStep("c", F.col("lbl") == "c"),
    ]


def _tlv(spark, rows):
    """rows: (entity, t_seconds, subsort, step_label, value)"""
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(e, base + dt.timedelta(seconds=t), s, lbl, v) for e, t, s, lbl, v in rows],
        "ent string, ts timestamp, sid long, lbl string, val long",
    )
    return Timeline.from_events(df, "ts", "ent", "sid")


def _run_pattern(spark, rows, within=None):
    from kaskada_spark.operators.cep import match_pattern

    out = match_pattern(_tlv(spark, rows), _pattern_steps(), within=within)
    return {
        r["_key"]: (
            r["step_reached"], r["completed"], r["t_a"], r["t_b"], r["t_d"],
            r["t_c"], r["n_b"], r["b_sum"], r["b_max"],
        )
        for r in out.collect()
    }


def test_pattern_plus_consumption_and_observer(spark):
    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    got = _run_pattern(
        spark,
        [
            # e1: a, then 3 b's (10+20+30) consumed until c; d observed
            # between the b anchor and c; the post-c b is NOT consumed.
            # e2: no c -> b+ consumes to entity end; d after b observed.
            # e3: d before b's instant is NOT observed (observer window
            # opens at the b anchor, exclusive).
            ("e1", 0, 0, "a", 0), ("e1", 1, 1, "b", 10), ("e1", 2, 2, "b", 20),
            ("e1", 3, 3, "d", 0), ("e1", 4, 4, "b", 30), ("e1", 5, 5, "c", 0),
            ("e1", 6, 6, "b", 99),
            ("e2", 0, 0, "a", 0), ("e2", 1, 1, "b", 7), ("e2", 2, 2, "d", 0),
            ("e2", 3, 3, "b", 8),
            ("e3", 0, 0, "a", 0), ("e3", 1, 1, "d", 0), ("e3", 2, 2, "b", 5),
            ("e3", 3, 3, "c", 0),
        ],
    )
    assert got["e1"] == (3, True, t(0), t(1), t(3), t(5), 3, 60, 30)
    assert got["e2"] == (2, False, t(0), t(1), t(2), None, 2, 15, 8)
    assert got["e3"] == (3, True, t(0), t(2), None, t(3), 1, 5, 5)


def test_pattern_within_bounds_trailing_consumption(spark):
    # horizon: b+ without a following c consumes only to t_a + within
    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    got = _run_pattern(
        spark,
        [
            ("e1", 0, 0, "a", 0), ("e1", 5, 1, "b", 1), ("e1", 9, 2, "b", 2),
            ("e1", 10, 3, "b", 4), ("e1", 11, 4, "b", 8),
        ],
        within="10 seconds",
    )
    # rows at t=5,9,10 are inside t_a+10s (inclusive); t=11 is out
    assert got["e1"] == (2, False, t(0), t(5), None, None, 3, 7, 4)


def test_pattern_validation(spark):
    from kaskada_spark.operators.cep import PatternStep, match_pattern
    from kaskada_spark.streaming.cep import pattern_stream

    tl = _tlv(spark, [("e", 0, 0, "a", 1)])
    a, b, c = (F.col("lbl") == x for x in "abc")
    bad = [
        ("optional", [PatternStep("x", a, "?"), PatternStep("y", b)]),
        ("unique", [PatternStep("x", a), PatternStep("x", b)]),
        ("quant '\\+'", [PatternStep("x", a, aggs=[("s", "sum", "val")]),
                         PatternStep("y", b)]),
        ("sum/min/max", [PatternStep("x", a),
                         PatternStep("y", b, "+", aggs=[("s", "avg", "val")]),
                         PatternStep("z", c)]),
        ("quant must be", [PatternStep("x", a), PatternStep("y", b, "{2}"),
                           PatternStep("z", c)]),
        ("at least two", [PatternStep("x", a)]),
    ]
    for match, steps in bad:
        with pytest.raises(ValueError, match=match):
            match_pattern(tl, steps)
        with pytest.raises(ValueError, match=match):
            pattern_stream(tl.df, steps)


def _brute_pattern(events, steps, within=None):
    """Independent reference model. events: sorted [(t, s, flags, val)]
    or [(t, s, flags, val, abort)] for ONE entity; steps: [(name,
    quant)] or [(name, quant, min_count)]; returns the match_pattern
    output tuple shape (times as seconds)."""
    steps = [(s[0], s[1], s[2] if len(s) > 2 else 1) for s in steps]
    events = [(e[0], e[1], e[2], e[3], e[4] if len(e) > 4 else False)
              for e in events]
    req = [i for i, (_n, q, _m) in enumerate(steps) if q in ("1", "+")]
    # abort instant: first abort row strictly after the anchor (the
    # rank-0 first occurrence, which nothing constrains)
    anchor = next(((t, s) for t, s, fl, _v, _a in events if fl[req[0]]), None)
    u = None
    if anchor is not None:
        u = next(((t, s) for t, s, _fl, _v, a in events
                  if a and (t, s) > anchor), None)
    hits, firsts = {}, {}
    last_req = None
    anchor_t = None  # match START: rank 0's FIRST occurrence
    for rr, i in enumerate(req):
        need = steps[i][2]
        subs = []
        for t, s, fl, _v, _a in events:
            if not fl[i]:
                continue
            lower = subs[-1] if subs else last_req
            if lower is not None and (t, s) <= lower:
                continue
            if (rr > 0 or subs) and within is not None and t > anchor_t + within:
                continue
            if (rr > 0 or subs) and u is not None and (t, s) >= u:
                continue  # abort wins ties
            if rr == 0 and not subs:
                anchor_t = t
            subs.append((t, s))
            if len(subs) == need:
                break
        if len(subs) < need:
            break
        hits[i], firsts[i] = subs[-1], subs[0]
        last_req = subs[-1]

    def upper_ok(rr, t, s):
        if u is not None and (t, s) >= u:
            return False
        nxt = req[rr + 1] if rr + 1 < len(req) else None
        if nxt is not None and nxt in hits:
            return (t, s) < hits[nxt]
        return within is None or t <= anchor_t + within

    out = {"step_reached": len(hits), "completed": req[-1] in hits}
    rank = -1
    for i, (name, q, _m) in enumerate(steps):
        if q in ("1", "+"):
            rank += 1
            out[f"t_{name}"] = hits[i][0] if i in hits else None
            if q == "+":
                if i in hits:
                    consumed = [
                        v for t, s, fl, v, _a in events
                        if fl[i] and (t, s) >= firsts[i] and upper_ok(rank, t, s)
                    ]
                else:
                    consumed = []
                out[f"n_{name}"] = len(consumed)
                out[f"sum_{name}"] = sum(consumed) if consumed else None
                out[f"max_{name}"] = max(consumed) if consumed else None
        else:
            cand = [
                (t, s, v) for t, s, fl, v, _a in events
                if fl[i] and req[rank] in hits and (t, s) > hits[req[rank]]
                and upper_ok(rank, t, s)
            ]
            out[f"t_{name}"] = min(cand)[0] if cand else None
            if q == "*":
                vals = [v for _t, _s, v in cand]
                out[f"n_{name}"] = len(vals)
                out[f"sum_{name}"] = sum(vals) if vals else None
                out[f"max_{name}"] = max(vals) if vals else None
    return out


def test_pattern_matches_bruteforce_random(spark):
    rng = random.Random(13)
    rows = []
    for e in range(50):
        for s in range(rng.randint(1, 35)):
            rows.append(
                (f"e{e}", rng.randint(0, 1000), s, rng.choice("abcdx"),
                 rng.randint(1, 100))
            )
    got = _run_pattern(spark, rows, within="300 seconds")
    base = dt.datetime(2024, 1, 1)
    by_ent = {}
    for e, t, s, lbl, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "d", lbl == "c"), v)
        )
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_checked = 0
    for e, evs in by_ent.items():
        if not any(any(f) for _, _, f, _ in evs):
            assert e not in got
            continue
        exp = _brute_pattern(evs, spec, within=300)
        ts = lambda x: base + dt.timedelta(seconds=x) if x is not None else None
        assert got[e] == (
            exp["step_reached"], exp["completed"], ts(exp["t_a"]), ts(exp["t_b"]),
            ts(exp["t_d"]), ts(exp["t_c"]), exp["n_b"], exp["sum_b"], exp["max_b"],
        ), e
        n_checked += 1
    assert n_checked >= 40


def test_pattern_plan_single_exchange(spark, sf_dir):
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")
    out = match_pattern(
        tl,
        [
            PatternStep("signup", F.col("event_type") == "signup"),
            PatternStep("click", F.col("event_type") == "click", "+",
                        aggs=[("v", "sum", "value")], min_count=2),
            PatternStep("view", F.col("event_type") == "view", "*"),
            PatternStep("error", F.col("event_type") == "error", "?"),
            PatternStep("purchase", F.col("event_type") == "purchase"),
        ],
        within="48 hours",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # min_count's extra chained running-min and the '*' consumer masks
    # all ride the same entity exchange
    assert plan.count("Exchange") <= 1, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_stream_pattern_equals_batch(spark, sf_dir, tmp_path):
    """pattern_stream == match_pattern(completed) on ordered replay:
    signup (click+ with sum/max aggregates) error? purchase, 48h."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern
    from kaskada_spark.streaming.cep import pattern_stream

    df = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "val_l", F.col("value").cast("long")
    )
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")

    def steps():
        return [
            PatternStep("signup", F.col("event_type") == "signup"),
            PatternStep("click", F.col("event_type") == "click", "+",
                        aggs=[("click_sum", "sum", "val_l"),
                              ("click_max", "max", "val_l")]),
            PatternStep("view", F.col("event_type") == "view", "*",
                        aggs=[("view_sum", "sum", "val_l")]),
            PatternStep("error", F.col("event_type") == "error", "?"),
            PatternStep("purchase", F.col("event_type") == "purchase"),
        ]

    batch = match_pattern(tl, steps(), within="14 days")
    expected = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_view"], r["t_error"],
                    r["t_purchase"], r["n_click"], float(r["click_sum"]),
                    float(r["click_max"]), r["n_view"],
                    None if r["view_sum"] is None else float(r["view_sum"]))
        for r in batch.filter("completed").collect()
    }
    assert expected
    # aggregates must be non-trivial somewhere: some entity consumes >1 click
    assert any(v[5] > 1 for v in expected.values())
    # the observer must fire somewhere and stay null somewhere else
    assert any(v[3] is not None for v in expected.values())
    assert any(v[3] is None for v in expected.values())
    # star: consumed somewhere, zero somewhere (it must never gate)
    assert any(v[8] > 0 for v in expected.values())
    assert any(v[8] == 0 for v in expected.values())

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = pattern_stream(stream, steps(), within="14 days")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["_key"]: (r["t_signup"], r["t_click"], r["t_view"], r["t_error"],
                    r["t_purchase"], r["n_click"], r["click_sum"],
                    r["click_max"], r["n_view"], r["view_sum"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected


def test_stream_pattern_trailing_plus_horizon(spark, tmp_path):
    """A trailing-open pattern (a b+) emits when the watermark passes
    the anchor horizon, with consumption bounded by it — equal to the
    batch result."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern
    from kaskada_spark.streaming.cep import pattern_stream

    rows = [
        ("e1", 0, 0, "a", 1), ("e1", 5, 1, "b", 10), ("e1", 9, 2, "b", 20),
        ("e1", 30, 3, "b", 99),          # outside the 10s horizon
        ("e2", 0, 0, "a", 1), ("e2", 50, 1, "b", 5),  # b outside horizon
        ("e9", 1000, 0, "a", 0),          # watermark flush row
    ]
    tl = _tlv(spark, rows)

    def steps():
        return [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("b_sum", "sum", "val")]),
        ]

    batch = match_pattern(tl, steps(), within="10 seconds")
    expected = {
        r["_key"]: (r["t_a"], r["t_b"], r["n_b"], float(r["b_sum"]))
        for r in batch.filter("completed").collect()
    }
    assert set(expected) == {"e1"}
    assert expected["e1"][2:] == (2, 30.0)

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = pattern_stream(stream, steps(), within="10 seconds")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["_key"]: (r["t_a"], r["t_b"], r["n_b"], r["b_sum"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected


def test_stream_pattern_requires_within_when_trailing(spark):
    from kaskada_spark.operators.cep import PatternStep
    from kaskada_spark.streaming.cep import pattern_stream

    tl = _tlv(spark, [("e", 0, 0, "a", 1)])
    with pytest.raises(ValueError, match="trailing-open"):
        pattern_stream(
            tl.df,
            [PatternStep("a", F.col("lbl") == "a"),
             PatternStep("b", F.col("lbl") == "b", "+")],
        )


def _write_rows_as_files(spark, schema, rows, path, n_files):
    import os
    import shutil
    import time

    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        fp = os.path.join(path, f"part-{i:03d}.parquet")
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(fp + ".dir")
        src = [f for f in os.listdir(fp + ".dir") if f.endswith(".parquet")][0]
        shutil.move(os.path.join(fp + ".dir", src), fp)
        shutil.rmtree(fp + ".dir")
        os.utime(fp, (time.time() + i, time.time() + i))


# ----------------------------------------------------------------------
# '*' quantifier: zero-or-more non-gating consumer
# ----------------------------------------------------------------------
def test_pattern_star_consumption(spark):
    """`a b* c`: b* never gates (c completes with zero b's), consumes
    strictly between t_a and t_c, and carries count/sum aggregates."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    rows = [
        # e1: two b's between a and c (the post-c b is not consumed)
        ("e1", 0, 0, "a", 0), ("e1", 1, 1, "b", 5), ("e1", 2, 2, "b", 7),
        ("e1", 3, 3, "c", 0), ("e1", 4, 4, "b", 99),
        # e2: completes with ZERO b's — '*' must not gate
        ("e2", 0, 0, "a", 0), ("e2", 1, 1, "c", 0),
        # e3: b before a is outside the window
        ("e3", 0, 0, "b", 3), ("e3", 1, 1, "a", 0), ("e3", 2, 2, "c", 0),
    ]
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "*",
                        aggs=[("b_sum", "sum", "val")]),
            PatternStep("c", F.col("lbl") == "c"),
        ],
    )
    got = {r["_key"]: (r["completed"], r["t_a"], r["t_b"], r["t_c"],
                       r["n_b"], r["b_sum"]) for r in out.collect()}
    assert got["e1"] == (True, t(0), t(1), t(3), 2, 12)
    assert got["e2"] == (True, t(0), None, t(1), 0, None)
    assert got["e3"] == (True, t(1), None, t(2), 0, None)


def test_pattern_star_matches_bruteforce_random(spark):
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    rng = random.Random(31)
    rows = []
    for e in range(50):
        for s in range(rng.randint(1, 35)):
            rows.append((f"e{e}", rng.randint(0, 1000), s, rng.choice("abcex"),
                         rng.randint(1, 100)))
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("sum_b", "sum", "val")]),
            PatternStep("e", F.col("lbl") == "e", "*",
                        aggs=[("sum_e", "sum", "val"), ("max_e", "max", "val")]),
            PatternStep("c", F.col("lbl") == "c"),
        ],
        within="300 seconds",
    )
    got = {r["_key"]: r for r in out.collect()}
    base = dt.datetime(2024, 1, 1)
    by_ent = {}
    for e, t, s, lbl, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "e", lbl == "c"), v)
        )
    spec = [("a", "1"), ("b", "+"), ("e", "*"), ("c", "1")]
    n_checked = n_star = 0
    for e, evs in by_ent.items():
        if not any(any(f) for _, _, f, _ in evs):
            assert e not in got
            continue
        exp = _brute_pattern(evs, spec, within=300)
        r = got[e]
        ts = lambda x: base + dt.timedelta(seconds=x) if x is not None else None
        assert (r["step_reached"], r["completed"]) == (
            exp["step_reached"], exp["completed"]), e
        for nm in ("a", "b", "e", "c"):
            assert r[f"t_{nm}"] == ts(exp[f"t_{nm}"]), (e, nm)
        assert (r["n_b"], r["sum_b"]) == (exp["n_b"], exp["sum_b"]), e
        assert (r["n_e"], r["sum_e"], r["max_e"]) == (
            exp["n_e"], exp["sum_e"], exp["max_e"]), e
        if exp["n_e"]:
            n_star += 1
        n_checked += 1
    assert n_checked >= 40 and n_star >= 3


# ----------------------------------------------------------------------
# bounded repetition: '+' with min_count (MATCH_RECOGNIZE B{m,})
# ----------------------------------------------------------------------
def test_pattern_min_count(spark):
    """`a b{2,} c`: b matches at its 2nd occurrence; c anchors after it;
    consumption still starts at the FIRST b."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    rows = [
        # e1: b at 1,2 -> match at 2; c at 1.5 does NOT count (before
        # the 2nd b); c at 3 completes; both b's consumed
        ("e1", 0, 0, "a", 0), ("e1", 1, 1, "b", 5),
        ("e1", 2, 3, "c", 0),  # subsort puts this before the 2nd b? no: t=2,s=3
        ("e1", 2, 2, "b", 7), ("e1", 3, 4, "c", 0),
        # e2: only one b -> step_reached stalls at 1, not completed
        ("e2", 0, 0, "a", 0), ("e2", 1, 1, "b", 9), ("e2", 2, 2, "c", 0),
    ]
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("b_sum", "sum", "val")], min_count=2),
            PatternStep("c", F.col("lbl") == "c"),
        ],
    )
    got = {r["_key"]: (r["step_reached"], r["completed"], r["t_a"], r["t_b"],
                       r["t_c"], r["n_b"], r["b_sum"]) for r in out.collect()}
    # e1: 2nd b at (t=2,s=2); first c strictly after it is (t=2,s=3)
    assert got["e1"] == (3, True, t(0), t(2), t(2), 2, 12)
    assert got["e2"] == (1, False, t(0), None, None, 0, None)


def test_pattern_min_count_matches_bruteforce_random(spark):
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    rng = random.Random(41)
    rows = []
    for e in range(50):
        for s in range(rng.randint(1, 35)):
            rows.append((f"e{e}", rng.randint(0, 1000), s, rng.choice("abcx"),
                         rng.randint(1, 100)))
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("sum_b", "sum", "val")], min_count=3),
            PatternStep("c", F.col("lbl") == "c"),
        ],
        within="400 seconds",
    )
    got = {r["_key"]: r for r in out.collect()}
    base = dt.datetime(2024, 1, 1)
    by_ent = {}
    for e, t, s, lbl, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "c"), v)
        )
    spec = [("a", "1"), ("b", "+", 3), ("c", "1")]
    n_checked = n_completed = 0
    for e, evs in by_ent.items():
        if not any(any(f) for _, _, f, _ in evs):
            assert e not in got
            continue
        exp = _brute_pattern(evs, spec, within=400)
        r = got[e]
        ts = lambda x: base + dt.timedelta(seconds=x) if x is not None else None
        assert (r["step_reached"], r["completed"]) == (
            exp["step_reached"], exp["completed"]), e
        for nm in ("a", "b", "c"):
            assert r[f"t_{nm}"] == ts(exp[f"t_{nm}"]), (e, nm)
        assert (r["n_b"], r["sum_b"]) == (exp["n_b"], exp["sum_b"]), e
        if exp["completed"]:
            assert r["n_b"] >= 3
            n_completed += 1
        n_checked += 1
    assert n_checked >= 40 and n_completed >= 5


# ----------------------------------------------------------------------
# unless (abort) on quantified patterns
# ----------------------------------------------------------------------
def test_pattern_unless(spark):
    """`a b+ c UNLESS x`: an x after the anchor voids later hits AND
    bounds consumption strictly before it."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    rows = [
        # e1: x between the b's — b matches (first b precedes x) but c
        # after x doesn't count; consumption stops before x
        ("e1", 0, 0, "a", 0), ("e1", 1, 1, "b", 5), ("e1", 2, 2, "x", 0),
        ("e1", 3, 3, "b", 7), ("e1", 4, 4, "c", 0),
        # e2: x after completion is irrelevant; but it still bounds the
        # (already-closed) consumption window — no effect
        ("e2", 0, 0, "a", 0), ("e2", 1, 1, "b", 9), ("e2", 2, 2, "c", 0),
        ("e2", 3, 3, "x", 0),
        # e3: x before the anchor is irrelevant
        ("e3", 0, 0, "x", 0), ("e3", 1, 1, "a", 0), ("e3", 2, 2, "b", 4),
        ("e3", 3, 3, "c", 0),
    ]
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("b_sum", "sum", "val")]),
            PatternStep("c", F.col("lbl") == "c"),
        ],
        unless=F.col("lbl") == "x",
    )
    got = {r["_key"]: (r["step_reached"], r["completed"], r["n_b"], r["b_sum"])
           for r in out.collect()}
    assert got["e1"] == (2, False, 1, 5)     # second b and c are post-abort
    assert got["e2"] == (3, True, 1, 9)
    assert got["e3"] == (3, True, 1, 4)


def test_pattern_unless_matches_bruteforce_random(spark):
    from kaskada_spark.operators.cep import PatternStep, match_pattern

    rng = random.Random(47)
    rows = []
    for e in range(50):
        for s in range(rng.randint(1, 35)):
            rows.append((f"e{e}", rng.randint(0, 1000), s, rng.choice("abcdxy"),
                         rng.randint(1, 100)))
    out = match_pattern(
        _tlv(spark, rows),
        [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("sum_b", "sum", "val")]),
            PatternStep("d", F.col("lbl") == "d", "?"),
            PatternStep("c", F.col("lbl") == "c"),
        ],
        within="300 seconds",
        unless=F.col("lbl") == "x",
    )
    got = {r["_key"]: r for r in out.collect()}
    base = dt.datetime(2024, 1, 1)
    by_ent = {}
    for e, t, s, lbl, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_ent.setdefault(e, []).append(
            (t, s, (lbl == "a", lbl == "b", lbl == "d", lbl == "c"), v,
             lbl == "x")
        )
    spec = [("a", "1"), ("b", "+"), ("d", "?"), ("c", "1")]
    n_checked = n_aborted = 0
    for e, evs in by_ent.items():
        if not any(any(f) for _, _, f, _, _ in evs):
            assert e not in got
            continue
        exp = _brute_pattern(evs, spec, within=300)
        r = got[e]
        ts = lambda x: base + dt.timedelta(seconds=x) if x is not None else None
        assert (r["step_reached"], r["completed"]) == (
            exp["step_reached"], exp["completed"]), e
        for nm in ("a", "b", "d", "c"):
            assert r[f"t_{nm}"] == ts(exp[f"t_{nm}"]), (e, nm)
        assert (r["n_b"], r["sum_b"]) == (exp["n_b"], exp["sum_b"]), e
        if any(a for _t, _s, _f, _v, a in evs):
            n_aborted += 1
        n_checked += 1
    assert n_checked >= 40 and n_aborted >= 20


def test_stream_pattern_unless_equals_batch(spark, tmp_path):
    """pattern_stream(unless=...) == match_pattern(completed) — covers
    the abort-flag projection and the abort-closes-trailing-window
    emission on a real stream."""
    from kaskada_spark.operators.cep import PatternStep, match_pattern
    from kaskada_spark.streaming.cep import pattern_stream

    rows = [
        # e1: abort between the b's: trailing window closes at x
        ("e1", 0, 0, "a", 1), ("e1", 2, 1, "b", 10), ("e1", 4, 2, "x", 0),
        ("e1", 6, 3, "b", 99),
        # e2: no abort: window closes at the horizon
        ("e2", 0, 0, "a", 1), ("e2", 2, 1, "b", 5), ("e2", 8, 2, "b", 6),
        # e3: abort before any b: dead, no emission
        ("e3", 0, 0, "a", 1), ("e3", 1, 1, "x", 0), ("e3", 2, 2, "b", 7),
        ("e9", 1000, 0, "a", 0),  # watermark flush
    ]
    tl = _tlv(spark, rows)

    def steps():
        return [
            PatternStep("a", F.col("lbl") == "a"),
            PatternStep("b", F.col("lbl") == "b", "+",
                        aggs=[("b_sum", "sum", "val")]),
        ]

    unless = lambda: F.col("lbl") == "x"
    batch = match_pattern(tl, steps(), within="20 seconds", unless=unless())
    expected = {
        r["_key"]: (r["t_a"], r["t_b"], r["n_b"], float(r["b_sum"]))
        for r in batch.filter("completed").collect()
    }
    assert set(expected) == {"e1", "e2"}
    assert expected["e1"][2:] == (1, 10.0)   # post-abort b not consumed
    assert expected["e2"][2:] == (2, 11.0)

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = pattern_stream(stream, steps(), within="20 seconds", unless=unless())
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["_key"]: (r["t_a"], r["t_b"], r["n_b"], r["b_sum"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == expected
