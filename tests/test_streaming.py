"""Streaming semantics tests (north rule core):

- streaming running aggregation ≡ batch Timeline on the same input
- checkpoint resume reproduces the single-pass result byte-for-byte,
  with the early input REMOVED before resume (mirror of the reference's
  crates/sparrow-main/tests/e2e/resumeable_tests.rs:8-18)
- exactly-once sink: replaying a batch id does not duplicate rows
- per-entity late rows are dropped (bounded lateness)
- tumbling-window pipeline emits watermark-closed windows that match
  the batch computation
"""

import os
import shutil
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from kaskada_spark import Timeline
from kaskada_spark.sinks.exactly_once import ExactlyOnceSink
from kaskada_spark.sources.tokens import tokenize_documents
from kaskada_spark.streaming.pipeline import (
    TOKEN_SCHEMA,
    run_token_pipeline,
    windowed_token_agg,
)
from kaskada_spark.streaming.state_machines import AggSpec, running_agg_stream


def _write_time_split(df, order_cols, path, n_files=3):
    """Write df as n time-ordered parquet files with increasing mtimes so
    the file stream source consumes them in order."""
    rows = df.orderBy(*order_cols).collect()
    chunk = (len(rows) + n_files - 1) // n_files
    os.makedirs(path, exist_ok=True)
    spark = df.sparkSession
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        fp = os.path.join(path, f"part-{i:03d}.parquet")
        spark.createDataFrame(part, df.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(fp + ".dir")
        # materialize as a single file for deterministic ordering
        src = [f for f in os.listdir(fp + ".dir") if f.endswith(".parquet")][0]
        shutil.move(os.path.join(fp + ".dir", src), fp)
        shutil.rmtree(fp + ".dir")
        os.utime(fp, (time.time() + i, time.time() + i))
    return path


@pytest.fixture(scope="module")
def events_tl(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return Timeline.from_events(df, "ts", "user_id", "event_id")


def _run_stream(spark, in_dir, schema, specs, checkpoint, out_dir):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = running_agg_stream(stream, specs)
    sink = ExactlyOnceSink(out_dir, time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink


SPECS = [
    AggSpec("sum", "value", "sum_value"),
    AggSpec("count", "value", "cnt_value"),
    AggSpec("min", "value", "min_value"),
    AggSpec("mean", "value", "mean_value"),
    AggSpec("last", "value", "last_value"),
]


def _batch_expected(events_tl):
    tl = (
        events_tl.sum("value", alias="sum_value")
        .count("value", alias="cnt_value")
        .min("value", alias="min_value")
        .mean("value", alias="mean_value")
        .last("value", alias="last_value")
    )
    return {
        r["event_id"]: (r["sum_value"], r["cnt_value"], r["min_value"], r["mean_value"], r["last_value"])
        for r in tl.df.collect()
    }


def _assert_matches_batch(sink, spark, expected):
    got = {
        r["event_id"]: (r["sum_value"], r["cnt_value"], r["min_value"], r["mean_value"], r["last_value"])
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(expected)
    for eid, exp in expected.items():
        g = got[eid]
        assert g[1] == exp[1], f"count mismatch at {eid}"
        for i in (0, 2, 3, 4):
            if exp[i] is None:
                assert g[i] is None or g[i] != g[i]
            else:
                assert g[i] == pytest.approx(exp[i], rel=1e-12), f"col {i} at {eid}"


def test_stream_running_agg_equals_batch(spark, events_tl, tmp_path):
    in_dir = _write_time_split(events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, events_tl.df.schema, SPECS, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    _assert_matches_batch(sink, spark, _batch_expected(events_tl))


def test_stream_variance_first_equals_batch(spark, events_tl, tmp_path):
    specs = [
        AggSpec("variance", "value", "var_value"),
        AggSpec("first", "value", "first_value"),
    ]
    in_dir = _write_time_split(events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, events_tl.df.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    tl = events_tl.variance("value", alias="var_value").first("value", alias="first_value")
    exp = {r["event_id"]: (r["var_value"], r["first_value"]) for r in tl.df.collect()}
    got = {r["event_id"]: (r["var_value"], r["first_value"]) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, (ev, ef) in exp.items():
        gv, gf = got[eid]
        if ev is None:
            assert gv is None or gv != gv
        else:
            assert gv == pytest.approx(ev, rel=1e-9, abs=1e-9), f"variance at {eid}"
        if ef is None:
            assert gf is None or gf != gf
        else:
            assert gf == pytest.approx(ef, rel=1e-12), f"first at {eid}"


def test_stream_resume_from_checkpoint(spark, events_tl, tmp_path):
    """Run files 1-2, stop, DELETE file 1, add file 3, resume: combined
    output must equal the batch result on all data (state sufficiency —
    the reference's resumeable_tests.rs pattern)."""
    full = _write_time_split(events_tl.df, ["_time", "_subsort"], str(tmp_path / "full"), 3)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    files = sorted(os.listdir(full))
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    _run_stream(spark, in_dir, events_tl.df.schema, SPECS, ck, out)

    os.remove(os.path.join(in_dir, files[0]))          # early input gone
    shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
    sink = _run_stream(spark, in_dir, events_tl.df.schema, SPECS, ck, out)

    _assert_matches_batch(sink, spark, _batch_expected(events_tl))


def test_stream_typed_string_aggs_equal_batch(spark, events_tl, tmp_path):
    """first/last/min/max over a STRING column: typed state fields
    (mirrors the reference's string accumulators,
    evaluators/aggregation/string/), streaming ≡ batch."""
    specs = [
        AggSpec("first", "event_type", "first_ety"),
        AggSpec("last", "event_type", "last_ety"),
        AggSpec("min", "event_type", "min_ety"),
        AggSpec("max", "event_type", "max_ety"),
    ]
    in_dir = _write_time_split(events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, events_tl.df.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    tl = (
        events_tl.first("event_type", alias="first_ety")
        .last("event_type", alias="last_ety")
        .min("event_type", alias="min_ety")
        .max("event_type", alias="max_ety")
    )
    cols = ("first_ety", "last_ety", "min_ety", "max_ety")
    exp = {r["event_id"]: tuple(r[c] for c in cols) for r in tl.df.collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, e in exp.items():
        assert got[eid] == e, f"at {eid}: {got[eid]} vs {e}"


def test_stream_minmax_latch_across_nulls(spark, tmp_path):
    """Running min/max must latch at null-input rows (batch parity) —
    regression test for the NaN-at-null-rows cummin gap."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (t0, 1, "A", 5.0),
        (t0.replace(minute=1), 2, "A", None),
        (t0.replace(minute=2), 3, "A", 3.0),
        (t0.replace(minute=3), 4, "A", None),
    ]
    schema = "_time timestamp, _subsort long, _key string, value double"
    df = spark.createDataFrame(rows, schema)
    in_dir = _write_time_split(df, ["_time", "_subsort"], str(tmp_path / "in"), 2)
    specs = [AggSpec("min", "value", "mn"), AggSpec("max", "value", "mx")]
    sink = _run_stream(spark, in_dir, df.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out"))
    got = {r["_subsort"]: (r["mn"], r["mx"]) for r in sink.read_output(spark).collect()}
    assert got == {1: (5.0, 5.0), 2: (5.0, 5.0), 3: (3.0, 5.0), 4: (3.0, 5.0)}


def test_stream_variance_null_until_two_and_stable(spark, tmp_path):
    """Variance: null at n=1 (variance.toml golden) and numerically
    stable for |mean| >> stddev (shift-centered accumulation)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    base = 1.0e9
    rows = [
        (t0.replace(minute=i), i, "A", base + float(i % 3))
        for i in range(6)
    ]
    schema = "_time timestamp, _subsort long, _key string, value double"
    df = spark.createDataFrame(rows, schema)
    in_dir = _write_time_split(df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, df.schema, [AggSpec("variance", "value", "v")],
        str(tmp_path / "ck"), str(tmp_path / "out"),
    )
    got = {r["_subsort"]: r["v"] for r in sink.read_output(spark).collect()}
    assert got[0] is None or got[0] != got[0]  # n=1 -> null
    import statistics

    for n in range(2, 7):
        vals = [base + float(i % 3) for i in range(n)]
        assert got[n - 1] == pytest.approx(statistics.pvariance(vals), rel=1e-9, abs=1e-9)


def test_exactly_once_sink_idempotent_replay(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    sink(df, 7)
    sink(df, 7)  # crash-replay of the same epoch
    out = sink.read_output(spark)
    assert out.count() == 100
    lin = sink.read_lineage(spark)
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 100


def test_late_row_dropped_per_entity(spark, tmp_path):
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    early = dt.datetime(2024, 1, 1, 9, 0, 0)
    f1 = [(t, 1, "A", 1.0)]
    f2 = [(early, 2, "A", 100.0), (t.replace(minute=5), 3, "A", 2.0)]
    schema = "_time timestamp, _subsort long, _key string, value double"
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, rows in enumerate([f1, f2]):
        fp = os.path.join(in_dir, f"f{i}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(fp + ".dir")
        src = [f for f in os.listdir(fp + ".dir") if f.endswith(".parquet")][0]
        shutil.move(os.path.join(fp + ".dir", src), fp)
        shutil.rmtree(fp + ".dir")
        os.utime(fp, (time.time() + i, time.time() + i))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out = running_agg_stream(stream, [AggSpec("sum", "value", "s")], watermark="1 minute")
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["_subsort"]: r["s"] for r in sink.read_output(spark).collect()}
    assert 2 not in rows            # regressed row dropped
    assert rows[3] == pytest.approx(3.0)  # 1.0 + 2.0, late 100.0 excluded


def test_windowed_pipeline_matches_batch(spark, sf_dir, tmp_path):
    toks = tokenize_documents(spark, sf_dir)
    in_dir = _write_time_split(toks, ["_time"], str(tmp_path / "in"), 3)
    sink = run_token_pipeline(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
        window="1 minute", watermark="1 minute", max_files_per_trigger=1,
    )
    got = {
        (str(r["window_start"]), r["source"]): (r["n_seq"], r["total_tokens"], r["tok_checksum"])
        for r in sink.read_output(spark).collect()
    }
    # batch equivalent (all windows)
    exp_df = (
        toks.groupBy(F.window("_time", "1 minute").alias("win"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_seq"),
            F.sum("n_tok").alias("total_tokens"),
            F.bit_xor(F.xxhash64("tokens")).alias("ck"),
        )
    )
    exp = {
        (str(r["win"]["start"]), r["source"]): (r["n_seq"], r["total_tokens"], r["ck"])
        for r in exp_df.collect()
    }
    assert got, "no windows emitted"
    for k, v in got.items():
        assert exp[k] == v
    # every emitted window is watermark-closed and correct; open windows withheld
    assert set(got) <= set(exp)


def test_session_window_extension(spark):
    """Session windows are a Spark-native extension the reference lacks
    (SURVEY §2.5) — gap-based grouping."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, 0), "A", 1),
        (dt.datetime(2024, 1, 1, 0, 0, 30), "A", 2),
        (dt.datetime(2024, 1, 1, 0, 10, 0), "A", 4),
    ]
    df = spark.createDataFrame(rows, "t timestamp, k string, v int")
    out = (
        df.groupBy(F.session_window("t", "1 minute").alias("sw"), "k")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    assert sorted(r["s"] for r in out) == [3, 4]


def test_stream_session_windows_equal_batch(spark, events_tl, tmp_path):
    """Streaming session windows ≡ batch (VERDICT r03 item #4): the
    same per-entity gap-sessions, replayed as micro-batches with a
    watermark, emit exactly the batch session rows once the watermark
    closes them (open sessions at end-of-stream are withheld — append
    mode)."""
    base = events_tl.df.select("_time", "_key", "value")
    gap, wm = "30 minutes", "1 minute"

    def sessions(df, streaming=False):
        src = df.withWatermark("_time", wm) if streaming else df
        return src.groupBy(
            F.session_window("_time", gap).alias("sw"), "_key"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )

    exp = {
        (str(r["sw"]["start"]), r["_key"]): (r["n_events"], r["s"])
        for r in sessions(base).collect()
    }

    in_dir = _write_time_split(base, ["_time"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col=None)
    q = (
        sessions(stream, streaming=True)
        .select(
            F.col("sw.start").alias("session_start"), "_key", "n_events", "s"
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r["session_start"]), r["_key"]): (r["n_events"], r["s"])
        for r in sink.read_output(spark).collect()
    }
    assert got, "no sessions emitted"
    # every emitted session byte-matches its batch twin; none fabricated
    for k, v in got.items():
        assert exp[k] == v, f"session {k}: stream {v} != batch {exp[k]}"
    # the stream closed (nearly) everything: only sessions still open at
    # the final watermark may be withheld
    assert len(got) >= 0.9 * len(exp)


def test_stream_sliding_and_lag_equal_batch(spark, events_tl, tmp_path):
    """Count-based sliding windows and lag in the streaming state
    machine ≡ the batch Timeline lowering (the reference's two-stacks /
    lag tokens, evaluators/aggregation/two_stacks.rs, token/lag_token.rs)."""
    from kaskada_spark.windows import Sliding

    base = events_tl.df.withColumn("__fire", F.col("event_type") == "purchase")
    tl = Timeline(base)
    specs = [
        AggSpec("sum", "value", "sl_sum", since="__fire", n=2),
        AggSpec("min", "value", "sl_min", since="__fire", n=2),
        AggSpec("mean", "value", "sl_mean", since="__fire", n=3),
        AggSpec("lag", "value", "prev2", n=2),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    sink = _run_stream(
        spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    exp_tl = (
        tl.sum("value", window=Sliding(2, F.col("__fire")), alias="sl_sum")
        .min("value", window=Sliding(2, F.col("__fire")), alias="sl_min")
        .mean("value", window=Sliding(3, F.col("__fire")), alias="sl_mean")
        .lag("value", 2, alias="prev2")
    )
    exp = {
        r["event_id"]: (r["sl_sum"], r["sl_min"], r["sl_mean"], r["prev2"])
        for r in exp_tl.df.collect()
    }
    got = {
        r["event_id"]: (r["sl_sum"], r["sl_min"], r["sl_mean"], r["prev2"])
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp)
    for eid, evals in exp.items():
        gvals = got[eid]
        for i, (e, g) in enumerate(zip(evals, gvals)):
            if e is None:
                assert g is None or g != g, f"col {i} at {eid}: want null, got {g}"
            else:
                assert g == pytest.approx(e, rel=1e-12), f"col {i} at {eid}"


def test_stream_since_window_equals_batch(spark, events_tl, tmp_path):
    """since(cond) resets in the streaming state machine ≡ batch,
    including windows that close exactly at a micro-batch boundary."""
    from kaskada_spark.windows import Since

    base = events_tl.df.withColumn("__fire", F.col("event_type") == "purchase")
    tl = Timeline(base)
    specs = [
        AggSpec("sum", "value", "s_sum", since="__fire"),
        AggSpec("count", "value", "s_cnt", since="__fire"),
        AggSpec("max", "value", "s_max", since="__fire"),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 5)
    sink = _run_stream(
        spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    exp_tl = (
        tl.sum("value", window=Since(F.col("__fire")), alias="s_sum")
        .count("value", window=Since(F.col("__fire")), alias="s_cnt")
        .max("value", window=Since(F.col("__fire")), alias="s_max")
    )
    exp = {r["event_id"]: (r["s_sum"], r["s_cnt"], r["s_max"]) for r in exp_tl.df.collect()}
    got = {r["event_id"]: (r["s_sum"], r["s_cnt"], r["s_max"]) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, evals in exp.items():
        for i, (e, g) in enumerate(zip(evals, got[eid])):
            if e is None:
                assert g is None or g != g, f"col {i} at {eid}"
            else:
                assert g == pytest.approx(e, rel=1e-12), f"col {i} at {eid}"


def test_stream_ticks_emit_on_silence(spark, tmp_path):
    """Event-time-timeout ticks: per-entity hourly window rows appear
    even for hours with NO events (the reference's Tick operation in
    streaming form — 'react when nothing happens'). Values must match
    the batch with_ticks + Since(tick) lowering."""
    import pandas as pd
    from kaskada_spark.operators.tick import TICK_COL
    from kaskada_spark.streaming.ticks import TickAggSpec, tick_agg_stream
    from kaskada_spark.windows import Since, hourly

    rows = []
    # entity A: events at 10:15, 10:40, then silence until 13:05
    for i, (h, m, v) in enumerate([(10, 15, 1.0), (10, 40, 2.0), (13, 5, 4.0)]):
        rows.append(("A", pd.Timestamp(2024, 3, 1, h, m), i, v))
    # entity B: one event per hour 10..13
    for i, h in enumerate(range(10, 14)):
        rows.append(("B", pd.Timestamp(2024, 3, 1, h, 30), 100 + i, float(h)))
    pdf = pd.DataFrame(rows, columns=["key", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    # batch expectation: with_ticks(hourly) + since(tick) at tick rows
    bt = tl.with_ticks(hourly())
    bt = bt.count("v", window=Since(F.col(TICK_COL)), alias="cnt")
    bt = bt.sum("v", window=Since(F.col(TICK_COL)), alias="s")
    exp = {
        (r["_key"], r["_time"]): (r["cnt"], r["s"])
        for r in bt.df.filter(F.col(TICK_COL)).collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = tick_agg_stream(
        stream,
        hourly(),
        [TickAggSpec("count", "v", "cnt"), TickAggSpec("sum", "v", "s")],
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="tick_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["tick_time"]): (r["cnt"], r["s"])
        for r in sink.read_output(spark).collect()
    }
    # every emitted row matches the batch tick lowering exactly
    for k, v in got.items():
        assert k in exp, f"unexpected tick {k}"
        assert v == exp[k], f"tick {k}: want {exp[k]}, got {v}"
    # silence coverage: A's empty hours (11:00, 12:00, 13:00 close) and
    # the timeout-driven boundaries up to the second-to-last batch's
    # watermark must all be present
    assert ("A", pd.Timestamp(2024, 3, 1, 11, 0)) in got
    assert ("A", pd.Timestamp(2024, 3, 1, 12, 0)) in got
    assert got[("A", pd.Timestamp(2024, 3, 1, 12, 0))] == (0, None)  # empty window
    assert ("B", pd.Timestamp(2024, 3, 1, 11, 0)) in got
    # at least all boundaries strictly before the final event time fired
    fenced = {k for k in exp if k[1] <= pd.Timestamp(2024, 3, 1, 13, 0)}
    missing = fenced - set(got)
    assert not missing, f"missing ticks: {missing}"


@pytest.mark.parametrize("unit", ["monthly", "yearly"])
def test_stream_ticks_variable_step(spark, tmp_path, unit):
    """Monthly/yearly streaming ticks: variable-step calendar boundaries
    (reference tick_producer.rs monthly/yearly producers) — streaming
    output must match the batch with_ticks + Since(tick) lowering,
    including empty periods and boundary-coincident events."""
    import pandas as pd
    from kaskada_spark.operators.tick import TICK_COL
    from kaskada_spark.streaming.ticks import TickAggSpec, tick_agg_stream
    from kaskada_spark.windows import Since, Tick

    if unit == "monthly":
        # events across 6 months incl. an empty month (April) and an
        # event exactly ON a month boundary (May 1 00:00)
        times = [
            pd.Timestamp(2023, 11, 15), pd.Timestamp(2023, 12, 20),
            pd.Timestamp(2024, 1, 10), pd.Timestamp(2024, 2, 29),
            pd.Timestamp(2024, 5, 1), pd.Timestamp(2024, 5, 18),
        ]
    else:
        times = [
            pd.Timestamp(2020, 6, 1), pd.Timestamp(2021, 3, 15),
            pd.Timestamp(2021, 11, 2), pd.Timestamp(2024, 1, 1),
            pd.Timestamp(2024, 7, 4),
        ]
    rows = [("A", t, i, float(i + 1)) for i, t in enumerate(times)]
    rows += [("B", times[0], 100, 10.0), ("B", times[-1], 101, 20.0)]
    pdf = pd.DataFrame(rows, columns=["key", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    tick = Tick(unit)
    bt = tl.with_ticks(tick)
    bt = bt.count("v", window=Since(F.col(TICK_COL)), alias="cnt")
    bt = bt.sum("v", window=Since(F.col(TICK_COL)), alias="s")
    exp = {
        (r["_key"], r["_time"]): (r["cnt"], r["s"])
        for r in bt.df.filter(F.col(TICK_COL)).collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = tick_agg_stream(
        stream, tick, [TickAggSpec("count", "v", "cnt"), TickAggSpec("sum", "v", "s")]
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="tick_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["tick_time"]): (r["cnt"], r["s"])
        for r in sink.read_output(spark).collect()
    }
    for k, v in got.items():
        assert k in exp, f"unexpected tick {k}"
        assert v == exp[k], f"tick {k}: want {exp[k]}, got {v}"
    if unit == "monthly":
        # Feb 29 closes at Mar 1; April is empty; the May 1 00:00 event
        # belongs to the window CLOSING at May 1 (tick orders after
        # coincident events)
        assert got[("A", pd.Timestamp(2024, 3, 1))] == (1, 4.0)
        assert got[("A", pd.Timestamp(2024, 4, 1))] == (0, None)
        assert got[("A", pd.Timestamp(2024, 5, 1))] == (1, 5.0)
    else:
        assert got[("A", pd.Timestamp(2022, 1, 1))] == (2, 5.0)
        assert got[("A", pd.Timestamp(2023, 1, 1))] == (0, None)
        # the Jan 1 2024 boundary-coincident event belongs to the window
        # closing AT 2024-01-01
        assert got[("A", pd.Timestamp(2024, 1, 1))] == (1, 4.0)
    # every boundary strictly before the final event is present
    fenced = {k for k in exp if k[1] <= times[-1].to_period(
        "M" if unit == "monthly" else "Y").start_time}
    missing = fenced - set(got)
    assert not missing, f"missing ticks: {missing}"


def test_stream_asof_lookup_equals_batch(spark, tmp_path):
    """Streaming stateful as-of lookup join ≡ the batch lookup lowering
    (north rule: 'stateful as-of/lookup joins keyed by entity').
    Requests settle only once the global watermark passes them, so
    answers are identical to the batch as-of join regardless of how
    rows split across micro-batches."""
    import pandas as pd
    from kaskada_spark.streaming.join import asof_lookup_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    f_rows, p_rows = [], []
    for ent in range(1, 6):
        for j, m in enumerate(range(0, 70, 10)):  # foreign updates :00..:60
            f_rows.append((ent, t0 + pd.Timedelta(minutes=m), j, float(ent * 100 + m)))
        for j, m in enumerate(range(5, 65, 10)):  # requests :05,:15,...
            p_rows.append((ent, t0 + pd.Timedelta(minutes=m), 1000 + j, f"p{ent}-{j}"))
    fdf = spark.createDataFrame(pd.DataFrame(f_rows, columns=["fk", "time", "seq", "price"]))
    pdf = spark.createDataFrame(pd.DataFrame(p_rows, columns=["user", "time", "seq", "tag"]))
    f_tl = Timeline.from_events(fdf, "time", "fk", "seq")
    p_tl = Timeline.from_events(pdf, "time", "user", "seq")

    exp_tl = p_tl.lookup(f_tl, key=F.col("user").cast("long"), values=["price"])
    exp = {(r["_key"], r["_subsort"]): r["price"] for r in exp_tl.df.collect()}

    p_dir = _write_time_split(p_tl.df, ["_time", "_subsort"], str(tmp_path / "p"), 4)
    f_dir = _write_time_split(f_tl.df, ["_time", "_subsort"], str(tmp_path / "f"), 4)
    p_stream = (
        spark.readStream.schema(p_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(p_dir)
    )
    f_stream = (
        spark.readStream.schema(f_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(f_dir)
    )
    out = asof_lookup_stream(p_stream, f_stream, key=F.col("user").cast("long"), values=["price"])
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["_key"], r["_subsort"]): r["price"] for r in sink.read_output(spark).collect()}
    # the final request per entity sits past the last foreign watermark
    # frontier only if sources end unevenly; with aligned ends all settle
    assert set(got) == set(exp), f"row sets differ: {len(got)} vs {len(exp)}"
    mismatch = {k: (exp[k], got[k]) for k in exp if exp[k] != got[k]}
    assert not mismatch, f"{len(mismatch)} mismatches, e.g. {list(mismatch.items())[:3]}"


def test_stream_asof_lookup_double_key(spark, tmp_path):
    """Requesting keys of non-integral type (here: double) survive the
    state round-trip natively — regression for the string-coercion key
    corruption (previously only long/int/short were restored)."""
    import pandas as pd
    from kaskada_spark.streaming.join import asof_lookup_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    f_rows = [(1, t0, 0, 100.0), (1, t0 + pd.Timedelta(minutes=10), 1, 110.0)]
    p_rows = [
        (2.5, t0 + pd.Timedelta(minutes=5), 1000),
        (2.5, t0 + pd.Timedelta(minutes=15), 1001),
        (7.25, t0 + pd.Timedelta(minutes=15), 1002),
    ]
    fdf = spark.createDataFrame(pd.DataFrame(f_rows, columns=["fk", "time", "seq", "price"]))
    pdf = spark.createDataFrame(pd.DataFrame(p_rows, columns=["user", "time", "seq"]))
    f_tl = Timeline.from_events(fdf, "time", "fk", "seq")
    p_tl = Timeline.from_events(pdf, "time", "user", "seq")
    p_dir = _write_time_split(p_tl.df, ["_time", "_subsort"], str(tmp_path / "p"), 2)
    f_dir = _write_time_split(f_tl.df, ["_time", "_subsort"], str(tmp_path / "f"), 2)
    ps = spark.readStream.schema(p_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(p_dir)
    fs = spark.readStream.schema(f_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(f_dir)
    out = asof_lookup_stream(ps, fs, key=F.lit(1).cast("long"), values=["price"])
    assert dict(out.dtypes)["_key"] == "double"
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["_key"], r["_subsort"]): r["price"] for r in sink.read_output(spark).collect()}
    assert got[(2.5, 1000)] == pytest.approx(100.0)
    # at :15 both requests see the :10 update once settled
    for k in ((2.5, 1001), (7.25, 1002)):
        if k in got:
            assert got[k] == pytest.approx(110.0)


def test_stream_shift_by_equals_batch(spark, tmp_path):
    """Streaming shift_by: rows re-emit at their shifted time once the
    watermark passes it — identical rows to the batch shift_by for all
    targets within the final watermark."""
    import pandas as pd
    from kaskada_spark.streaming.shift import shift_by_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    rows = [
        (ent, t0 + pd.Timedelta(minutes=m), ent * 1000 + m, float(m))
        for ent in (1, 2, 3)
        for m in range(0, 60, 7)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "time", "seq", "v"])
    # nullable long payload with a null and a value float64 cannot hold
    pdf["n"] = pd.array(
        [None if i % 5 == 1 else 2**53 + 1 if i % 5 == 2 else i for i in range(len(pdf))],
        dtype="Int64",
    )
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "k", "seq")

    batch = tl.shift_by(F.expr("interval 5 minutes")).df
    wm_final = t0 + pd.Timedelta(minutes=56)  # max original event time
    exp = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"], r["n"])
        for r in batch.collect()
        if r["_time"] <= wm_final
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = shift_by_stream(stream, F.expr("interval 5 minutes"))
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"], r["n"])
        for r in sink.read_output(spark).collect()
    }
    assert set(exp) <= set(got.keys() | exp.keys())
    for kk, ev in exp.items():
        assert kk in got, f"missing shifted row {kk}"
        assert got[kk] == ev, f"{kk}: want {ev}, got {got[kk]}"
    # nothing emitted beyond the watermark frontier rule
    for kk, (t, *_) in got.items():
        assert t <= wm_final


def test_stream_resume_sliding_lag_state(spark, events_tl, tmp_path):
    """Kill/resume with the sliding-window deque and lag-deque state:
    run files 1-2, stop, DELETE file 1, add file 3, resume — combined
    output must equal the batch lowering on all data (proves the deque
    state alone is sufficient, resumeable_tests.rs pattern)."""
    from kaskada_spark.windows import Sliding

    base = events_tl.df.withColumn("__fire", F.col("event_type") == "purchase")
    tl = Timeline(base)
    specs = [
        AggSpec("sum", "value", "sl_sum", since="__fire", n=2),
        AggSpec("lag", "value", "prev2", n=2),
    ]
    full = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "full"), 3)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    files = sorted(os.listdir(full))
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    _run_stream(spark, in_dir, base.schema, specs, ck, out)

    os.remove(os.path.join(in_dir, files[0]))
    shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
    sink = _run_stream(spark, in_dir, base.schema, specs, ck, out)

    exp_tl = tl.sum("value", window=Sliding(2, F.col("__fire")), alias="sl_sum").lag(
        "value", 2, alias="prev2"
    )
    exp = {r["event_id"]: (r["sl_sum"], r["prev2"]) for r in exp_tl.df.collect()}
    got = {r["event_id"]: (r["sl_sum"], r["prev2"]) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, evals in exp.items():
        for i, (e, g) in enumerate(zip(evals, got[eid])):
            if e is None:
                assert g is None or g != g, f"col {i} at {eid}"
            else:
                assert g == pytest.approx(e, rel=1e-12), f"col {i} at {eid}"


def test_stream_shift_until_equals_batch(spark, tmp_path):
    """Streaming shift_until ≡ batch: rows buffer until the entity's
    next predicate firing and re-emit at the firing's time with their
    original subsort (reference operation/shift_until.rs)."""
    import pandas as pd
    from kaskada_spark.streaming.shift import shift_until_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    rows = []
    for ent in (1, 2):
        for j, m in enumerate(range(0, 60, 5)):
            # predicate fires at minutes 15, 35, 55
            rows.append((ent, t0 + pd.Timedelta(minutes=m), ent * 100 + j,
                         float(m), m in (15, 35, 55)))
    # a trailing unfired row per entity stays buffered (dropped in batch)
    pdf = pd.DataFrame(rows, columns=["k", "time", "seq", "v", "fire"])
    # nullable long payload with a null and a value float64 cannot hold
    pdf["n"] = pd.array(
        [None if i % 5 == 1 else 2**53 + 1 if i % 5 == 2 else i for i in range(len(pdf))],
        dtype="Int64",
    )
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "k", "seq")

    batch = tl.shift_until(F.col("fire")).df
    wm_final = t0 + pd.Timedelta(minutes=55)
    exp = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"], r["n"])
        for r in batch.collect()
        if r["_time"] <= wm_final
    }
    assert exp, "batch produced no rows"

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = shift_until_stream(stream, F.col("fire"))
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"], r["n"])
        for r in sink.read_output(spark).collect()
    }
    # every batch row whose firing the final watermark passed must be
    # emitted identically; nothing extra may appear
    missing = {k for k in exp if k not in got}
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:5]}"
    for kk, ev in exp.items():
        assert got[kk] == ev, f"{kk}: want {ev}, got {got[kk]}"
    extra = {k: v for k, v in got.items() if k not in exp}
    assert not extra, f"unexpected rows: {extra}"


def test_stream_sliding_variance_first_last_equals_batch(spark, events_tl, tmp_path):
    """Sliding variance/first/last streaming ≡ batch (the reference's
    two-stacks supports every agg, two_stacks.rs:24-38 — these were
    previously excluded from the streaming deque)."""
    from kaskada_spark.windows import Sliding

    base = events_tl.df.withColumn("__fire", F.col("event_type") == "purchase")
    tl = Timeline(base)
    specs = [
        AggSpec("variance", "value", "sl_var", since="__fire", n=3),
        AggSpec("first", "value", "sl_first", since="__fire", n=2),
        AggSpec("last", "value", "sl_last", since="__fire", n=2),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out"))
    bt = (
        tl.variance("value", window=Sliding(3, F.col("__fire")), alias="sl_var")
        .first("value", window=Sliding(2, F.col("__fire")), alias="sl_first")
        .last("value", window=Sliding(2, F.col("__fire")), alias="sl_last")
    )
    cols = ("sl_var", "sl_first", "sl_last")
    exp = {r["event_id"]: tuple(r[c] for c in cols) for r in bt.df.collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, e in exp.items():
        g = got[eid]
        for i in range(3):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i], f"col {i} at {eid}: want null got {g[i]}"
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-9, abs=1e-9), f"col {i} at {eid}"


def test_stream_countif_stddev_equals_batch(spark, events_tl, tmp_path):
    """count_if and stddev complete the streaming 11-op aggregation set
    (reference InstOp aggregations) — running and sliding forms both
    match the batch lowering."""
    from kaskada_spark.windows import Sliding

    base = (
        events_tl.df
        .withColumn("__is_click", F.col("event_type") == "click")
        .withColumn("__fire", F.col("event_type") == "purchase")
    )
    tl = Timeline(base)
    specs = [
        AggSpec("count_if", "__is_click", "n_clicks"),
        AggSpec("stddev", "value", "sd_value"),
        AggSpec("count_if", "__is_click", "sl_clicks", since="__fire", n=2),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out"))
    bt = (
        tl.count_if("__is_click", alias="n_clicks")
        .stddev("value", alias="sd_value")
        .count_if("__is_click", window=Sliding(2, F.col("__fire")), alias="sl_clicks")
    )
    cols = ("n_clicks", "sd_value", "sl_clicks")
    exp = {r["event_id"]: tuple(r[c] for c in cols) for r in bt.df.collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for eid, e in exp.items():
        g = got[eid]
        assert g[0] == e[0], f"count_if at {eid}"
        assert g[2] == e[2], f"sliding count_if at {eid}"
        if e[1] is None:
            assert g[1] is None or g[1] != g[1], f"stddev at {eid}: want null"
        else:
            assert g[1] == pytest.approx(e[1], rel=1e-9, abs=1e-9), f"stddev at {eid}"


def test_stream_resume_ticks_and_shift_until(spark, tmp_path):
    """Kill/resume with TICK state (next-boundary + open-window
    accumulators) and SHIFT_UNTIL buffers: run files 1-2, stop, DELETE
    file 1, add file 3, resume — combined output must equal the
    single-pass run (state sufficiency, resumeable_tests.rs pattern)."""
    import datetime as dt

    from kaskada_spark.streaming.shift import shift_until_stream
    from kaskada_spark.streaming.ticks import TickAggSpec, tick_agg_stream
    from kaskada_spark.windows import hourly

    t0 = dt.datetime(2024, 3, 1, 10, 0)
    rows = []
    for i in range(12):
        rows.append(
            ("A", t0 + dt.timedelta(minutes=17 * i), i, float(i), i % 4 == 3)
        )
    schema = "_key string, _time timestamp, _subsort long, v double, fire boolean"
    df = spark.createDataFrame(rows, schema)

    def run_ticks(in_dir, ck, out):
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
        o = tick_agg_stream(stream, hourly(), [TickAggSpec("sum", "v", "s")])
        sink = ExactlyOnceSink(out, time_col="tick_time")
        q = (o.writeStream.outputMode("append").option("checkpointLocation", ck)
             .foreachBatch(sink).trigger(availableNow=True).start())
        q.awaitTermination()
        return sink

    def run_until(in_dir, ck, out):
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
        o = shift_until_stream(stream, F.col("fire"))
        sink = ExactlyOnceSink(out, time_col="_time")
        q = (o.writeStream.outputMode("append").option("checkpointLocation", ck)
             .foreachBatch(sink).trigger(availableNow=True).start())
        q.awaitTermination()
        return sink

    for name, runner, keycols in (
        ("ticks", run_ticks, ("_key", "tick_time", "s")),
        ("until", run_until, ("_key", "_subsort", "_time", "v")),
    ):
        full = _write_time_split(df, ["_time", "_subsort"], str(tmp_path / f"{name}_full"), 3)
        files = sorted(os.listdir(full))
        # single-pass reference
        single = runner(full, str(tmp_path / f"{name}_ck1"), str(tmp_path / f"{name}_o1"))
        ref = {tuple(r[c] for c in keycols) for r in single.read_output(spark).collect()}
        # resumed run: files 1-2, stop, delete file 1, add file 3
        in_dir = str(tmp_path / f"{name}_in")
        os.makedirs(in_dir)
        for f in files[:2]:
            shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
        ck, out = str(tmp_path / f"{name}_ck2"), str(tmp_path / f"{name}_o2")
        runner(in_dir, ck, out)
        os.remove(os.path.join(in_dir, files[0]))
        shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
        resumed = runner(in_dir, ck, out)
        got = {tuple(r[c] for c in keycols) for r in resumed.read_output(spark).collect()}
        assert got == ref, f"{name}: resume diverged ({len(got)} vs {len(ref)} rows)"


def test_stream_merge_align_equals_batch(spark, tmp_path):
    """Streaming merge-align (the reference's Merge operation, live):
    union row domain of two streams, coincident rows fused, as-of
    columns latched — identical rows to the batch operators/merge.py."""
    import pandas as pd
    from kaskada_spark.operators.merge import merge as batch_merge
    from kaskada_spark.streaming.merge import merge_align_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    l_rows, r_rows = [], []
    for ent in (1, 2):
        for j, m in enumerate(range(0, 50, 5)):
            l_rows.append((ent, t0 + pd.Timedelta(minutes=m), j, float(ent * 100 + m)))
        for j, m in enumerate(range(0, 50, 10)):
            # subsort j matches left's row at the same minute for m%10==0
            # -> coincident (t, s) rows that must FUSE
            sub = j * 2 if m % 20 == 0 else 1000 + j
            r_rows.append((ent, t0 + pd.Timedelta(minutes=m), sub, ent * 1000 + m))
    ldf = spark.createDataFrame(pd.DataFrame(l_rows, columns=["k", "time", "seq", "price"]))
    rdf = spark.createDataFrame(pd.DataFrame(r_rows, columns=["k", "time", "seq", "qty"]))
    l_tl = Timeline.from_events(ldf, "time", "k", "seq")
    r_tl = Timeline.from_events(rdf, "time", "k", "seq")

    exp_df = batch_merge(l_tl, r_tl, as_of=["qty"]).df
    # combined watermark = MIN across inputs; the right stream ends at :40
    wm_final = t0 + pd.Timedelta(minutes=40)
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): (r["price"], r["qty"])
        for r in exp_df.collect()
        if r["_time"] <= wm_final
    }

    l_dir = _write_time_split(l_tl.df, ["_time", "_subsort"], str(tmp_path / "l"), 3)
    r_dir = _write_time_split(r_tl.df, ["_time", "_subsort"], str(tmp_path / "r"), 3)
    ls = spark.readStream.schema(l_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(l_dir)
    rs = spark.readStream.schema(r_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(r_dir)
    out = merge_align_stream(ls, rs, as_of=["qty"])
    assert dict(out.dtypes)["qty"] == "bigint"  # integral type restored
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): (r["price"], r["qty"])
        for r in sink.read_output(spark).collect()
    }
    missing = {kk for kk in exp if kk not in got}
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:4]}"
    for kk, ev in exp.items():
        assert got[kk] == ev, f"{kk}: want {ev}, got {got[kk]}"
    extra = {kk for kk in got if kk not in exp}
    # rows past the final watermark may be withheld but never invented
    for kk in extra:
        assert kk[1] > wm_final, f"unexpected settled row {kk}"


def test_materialize_fenl_equals_batch(spark, events_tl, tmp_path):
    """Streaming Fenl materialization (the reference's `materialize`
    mode): a record of windowed aggregations over scalar expressions
    runs live through the state machines and matches the batch
    compile_fenl row-for-row."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.compiler import FenlCompileError
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    {
      n: count(Input.value),
      total: sum(clamp(Input.value, 10.0, 190.0)),
      hi: max(Input.value),
      last_type: last(Input.event_type),
      cnt_since: count(Input.value, window = since(Input.event_type == 'purchase'))
    }
    """
    in_dir = _write_time_split(events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    cols = ("n", "total", "hi", "last_type", "cnt_since")
    exp = {r["_subsort"]: tuple(r[c] for c in cols) for r in batch.collect()}
    got = {r["_subsort"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for sid, e in exp.items():
        g = got[sid]
        assert g[0] == e[0] and g[4] == e[4], f"counts at {sid}"
        assert g[3] == e[3], f"last_type at {sid}"
        for i in (1, 2):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i]
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-12), f"col {i} at {sid}"

    # unsupported surfaces fail fast with pointers
    with pytest.raises(FenlCompileError, match="shift"):
        materialize_fenl("sum(Input.value | shift_by(seconds(1)))", stream)
    with pytest.raises(FenlCompileError, match="ONE tick unit"):
        materialize_fenl(
            "{ a: sum(Input.value, window = since(daily())),"
            "  b: sum(Input.value, window = since(hourly())) }",
            stream,
        )


def test_stream_resume_asof_lookup(spark, tmp_path):
    """Kill/resume for the stateful as-of lookup join: snapshot + buffer
    state must survive a checkpoint restart (files 1-2, stop, DELETE
    file 1, add file 3) and reproduce the single-pass output."""
    import pandas as pd
    from kaskada_spark.streaming.join import asof_lookup_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    f_rows, p_rows = [], []
    for ent in (1, 2):
        for j, m in enumerate(range(0, 60, 10)):
            f_rows.append((ent, t0 + pd.Timedelta(minutes=m), j, float(ent * 100 + m)))
        for j, m in enumerate(range(5, 65, 10)):
            p_rows.append((ent, t0 + pd.Timedelta(minutes=m), 1000 + j))
    fdf = spark.createDataFrame(pd.DataFrame(f_rows, columns=["fk", "time", "seq", "price"]))
    pdf = spark.createDataFrame(pd.DataFrame(p_rows, columns=["user", "time", "seq"]))
    f_tl = Timeline.from_events(fdf, "time", "fk", "seq")
    p_tl = Timeline.from_events(pdf, "time", "user", "seq")

    def run(p_dir, f_dir, ck, out):
        ps = spark.readStream.schema(p_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(p_dir)
        fs = spark.readStream.schema(f_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(f_dir)
        o = asof_lookup_stream(ps, fs, key=F.col("user").cast("long"), values=["price"])
        sink = ExactlyOnceSink(out, time_col="_time")
        q = (o.writeStream.outputMode("append").option("checkpointLocation", ck)
             .foreachBatch(sink).trigger(availableNow=True).start())
        q.awaitTermination()
        return sink

    p_full = _write_time_split(p_tl.df, ["_time", "_subsort"], str(tmp_path / "pf"), 3)
    f_full = _write_time_split(f_tl.df, ["_time", "_subsort"], str(tmp_path / "ff"), 3)
    single = run(p_full, f_full, str(tmp_path / "ck1"), str(tmp_path / "o1"))
    ref = {
        (r["_key"], r["_subsort"]): r["price"]
        for r in single.read_output(spark).collect()
    }
    assert ref, "no settled lookups in single pass"

    p_in, f_in = str(tmp_path / "pi"), str(tmp_path / "fi")
    os.makedirs(p_in), os.makedirs(f_in)
    pfiles, ffiles = sorted(os.listdir(p_full)), sorted(os.listdir(f_full))
    for f in pfiles[:2]:
        shutil.copy2(os.path.join(p_full, f), os.path.join(p_in, f))
    for f in ffiles[:2]:
        shutil.copy2(os.path.join(f_full, f), os.path.join(f_in, f))
    ck, out = str(tmp_path / "ck2"), str(tmp_path / "o2")
    run(p_in, f_in, ck, out)
    os.remove(os.path.join(p_in, pfiles[0]))
    os.remove(os.path.join(f_in, ffiles[0]))
    shutil.copy2(os.path.join(p_full, pfiles[2]), os.path.join(p_in, pfiles[2]))
    shutil.copy2(os.path.join(f_full, ffiles[2]), os.path.join(f_in, ffiles[2]))
    resumed = run(p_in, f_in, ck, out)
    got = {
        (r["_key"], r["_subsort"]): r["price"]
        for r in resumed.read_output(spark).collect()
    }
    assert got == ref, f"resume diverged: {len(got)} vs {len(ref)} rows"


def test_stream_ticks_full_agg_set(spark, tmp_path):
    """Streaming tick windows with the FULL aggregation set (mean /
    variance / stddev / first / last / count_if alongside sum / count /
    min / max) must match the batch with_ticks + Since(tick) lowering —
    including windows split across micro-batches (variance's carried
    shift) and empty windows. Reference: windowed aggregations over
    ticks, crates/sparrow-main/tests/e2e/windowed_aggregation_tests.rs."""
    import pandas as pd
    from kaskada_spark.operators.tick import TICK_COL
    from kaskada_spark.streaming.ticks import TickAggSpec, tick_agg_stream
    from kaskada_spark.windows import Since, hourly

    rows = []
    # entity A: several events per hour (so variance is non-null), a
    # silent hour, then more; entity B sparse with nulls
    for i, (h, m, v, flag) in enumerate([
        (10, 5, 1.0, True), (10, 25, 4.0, False), (10, 45, 2.5, True),
        (11, 10, 7.0, True), (11, 50, 3.0, False),
        (13, 5, 10.0, True), (13, 6, 12.0, True), (13, 59, 11.0, False),
    ]):
        rows.append(("A", pd.Timestamp(2024, 3, 1, h, m), i, v, flag))
    rows.append(("B", pd.Timestamp(2024, 3, 1, 10, 30), 100, None, True))
    rows.append(("B", pd.Timestamp(2024, 3, 1, 12, 15), 101, 5.0, None))
    rows.append(("B", pd.Timestamp(2024, 3, 1, 12, 45), 102, 9.0, False))
    pdf = pd.DataFrame(rows, columns=["key", "time", "seq", "v", "flag"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    ops = ["sum", "count", "count_if", "min", "max", "mean",
           "variance", "stddev", "first", "last"]
    bt = tl.with_ticks(hourly())
    for op in ops:
        col = "flag" if op == "count_if" else "v"
        bt = getattr(bt, op)(col, window=Since(F.col(TICK_COL)), alias=f"a_{op}")
    cols = [f"a_{op}" for op in ops]
    exp = {
        (r["_key"], r["_time"]): tuple(r[c] for c in cols)
        for r in bt.df.filter(F.col(TICK_COL)).collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 5)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    specs = [
        TickAggSpec(op, "flag" if op == "count_if" else "v", f"a_{op}")
        for op in ops
    ]
    out = tick_agg_stream(stream, hourly(), specs)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="tick_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["tick_time"]): tuple(r[c] for c in cols)
        for r in sink.read_output(spark).collect()
    }
    assert got, "no tick rows emitted"
    for k, gvals in got.items():
        assert k in exp, f"unexpected tick {k}"
        for op, e, g in zip(ops, exp[k], gvals):
            if e is None:
                assert g is None or g != g, f"{op} at {k}: want null, got {g}"
            elif op in ("count", "count_if"):
                assert g == e, f"{op} at {k}: want {e}, got {g}"
            else:
                assert g == pytest.approx(e, rel=1e-9, abs=1e-12), f"{op} at {k}"
    # empty-window coverage: A's silent 12:00->13:00 hour closes with
    # count 0 and null-valued aggregates
    empty = got[("A", pd.Timestamp(2024, 3, 1, 13, 0))]
    assert empty[ops.index("count")] == 0
    assert empty[ops.index("sum")] is None or empty[ops.index("sum")] != empty[ops.index("sum")]


def test_stream_typed_timestamp_aggs_equal_batch(spark, events_tl, tmp_path):
    """first/last/min/max over a TIMESTAMP value column: ns-precision
    values must traverse state losslessly (TimestampType state fields —
    a LongType carry would corrupt >2^53 ns through Arrow's nullable-int
    float64 coercion). Also: count over a STRING column counts non-nulls
    (batch parity) instead of raising. Mirrors the reference's generic
    accumulators, evaluators/aggregation/generic/."""
    base = events_tl.df.withColumn(
        "ts_val",
        F.when(F.col("value") > 50, F.col("_time") + F.expr("INTERVAL 7 DAYS")),
    )
    specs = [
        AggSpec("first", "ts_val", "first_ts"),
        AggSpec("last", "ts_val", "last_ts"),
        AggSpec("min", "ts_val", "min_ts"),
        AggSpec("max", "ts_val", "max_ts"),
        AggSpec("count", "event_type", "cnt_ety"),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    tl = (
        Timeline(base)
        .first("ts_val", alias="first_ts")
        .last("ts_val", alias="last_ts")
        .min("ts_val", alias="min_ts")
        .max("ts_val", alias="max_ts")
        .count("event_type", alias="cnt_ety")
    )
    cols = ("first_ts", "last_ts", "min_ts", "max_ts", "cnt_ety")
    exp = {r["event_id"]: tuple(r[c] for c in cols) for r in tl.df.collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    n_nonnull = 0
    for eid, e in exp.items():
        assert got[eid] == e, f"at {eid}: {got[eid]} vs {e}"
        n_nonnull += sum(v is not None for v in e[:4])
    assert n_nonnull > 0, "fixture produced no non-null timestamp aggregates"


def test_stream_record_latch_equals_batch(spark, events_tl, tmp_path):
    """first/last over a RECORD (struct) column: the whole record must
    latch atomically from one row — per-field lasts would tear records
    whose fields are null on different rows. Lowered onto string-typed
    state via Catalyst to_json/from_json (µs timestamps, exact doubles),
    mirroring the reference's generic accumulators
    (sparrow-instructions/src/evaluators/aggregation/generic/)."""
    base = events_tl.df.withColumn(
        "rec",
        F.when(
            F.col("value") > 50,
            F.struct(
                F.col("event_type").alias("ety"),
                F.col("value").alias("v"),
                (F.col("_time") + F.expr("INTERVAL 3 HOURS")).alias("at"),
            ),
        ),
    )
    specs = [
        AggSpec("first", "rec", "first_rec"),
        AggSpec("last", "rec", "last_rec"),
    ]
    in_dir = _write_time_split(base, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    sink = _run_stream(
        spark, in_dir, base.schema, specs, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    tl = Timeline(base).first("rec", alias="first_rec").last("rec", alias="last_rec")
    cols = ("first_rec", "last_rec")
    exp = {r["event_id"]: tuple(r[c] for c in cols) for r in tl.df.collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols) for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    n_nonnull = 0
    for eid, e in exp.items():
        assert got[eid] == e, f"at {eid}: {got[eid]} vs {e}"
        n_nonnull += sum(v is not None for v in e)
    assert n_nonnull > 0, "fixture produced no non-null record latches"
    # the latch is atomic: every emitted record is an actual input row's
    # (ety, v, at) triple, never a cross-row mix
    rows = {
        (r["event_type"], r["value"]): r["_time"]
        for r in base.filter("value > 50").collect()
    }
    for eid, (f_rec, l_rec) in got.items():
        for rec in (f_rec, l_rec):
            if rec is not None:
                assert (rec["ety"], rec["v"]) in rows


def test_stream_watermark_boundary_straggler_dropped(spark, tmp_path):
    """A row whose event time equals the CURRENT watermark arriving in a
    LATER micro-batch (Spark only drops input strictly older than the
    watermark) must be discarded by the stateful buffers — output through
    the settled watermark has already been emitted, so re-emitting it
    would be out of order and would miss the as-of latch ffill."""
    import pandas as pd
    from kaskada_spark.streaming.merge import merge_align_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    m30 = t0 + pd.Timedelta(minutes=30)

    # left files: f0 seeds entity 1 through :30; f1 (entity 2) triggers a
    # batch that ADVANCES the combined watermark to :30 and settles
    # entity 1; f2 is the straggler — entity 1 at EXACTLY :30, arriving
    # after that timestamp already settled, watermark unchanged
    l_files = [
        [(1, t0, 0, 0.0), (1, t0 + pd.Timedelta(minutes=10), 1, 10.0), (1, m30, 2, 30.0)],
        [(2, m30, 50, 55.0)],
        [(1, m30, 99, 777.0)],
    ]
    r_files = [[(1, t0, 0, 5), (1, m30, 500, 6), (2, m30, 550, 8)]]

    def mk_tl(rows, cols):
        return Timeline.from_events(
            spark.createDataFrame(pd.DataFrame(rows, columns=cols)), "time", "k", "seq"
        )

    l_tl = mk_tl([r for f in l_files for r in f], ["k", "time", "seq", "price"])
    r_tl = mk_tl([r for f in r_files for r in f], ["k", "time", "seq", "qty"])

    def write_files(d, tl, files):
        os.makedirs(d)
        for i, part in enumerate(files):
            sub = tl.df.filter(F.col("_subsort").isin([r[2] for r in part]))
            fp = os.path.join(d, f"part-{i:03d}.parquet")
            sub.coalesce(1).write.mode("overwrite").parquet(fp + ".dir")
            src = [f for f in os.listdir(fp + ".dir") if f.endswith(".parquet")][0]
            shutil.move(os.path.join(fp + ".dir", src), fp)
            shutil.rmtree(fp + ".dir")
            os.utime(fp, (time.time() + i, time.time() + i))
        return d

    l_dir = write_files(str(tmp_path / "l"), l_tl, l_files)
    r_dir = write_files(str(tmp_path / "r"), r_tl, r_files)

    ls = spark.readStream.schema(l_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(l_dir)
    rs = spark.readStream.schema(r_tl.df.schema).option("maxFilesPerTrigger", 1).parquet(r_dir)
    out = merge_align_stream(ls, rs, as_of=["qty"])
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["_key"], r["_time"], r["_subsort"], r["price"], r["qty"])
        for r in sink.read_output(spark).collect()
    )
    # the straggler (price 777.0 at :30/seq 99) must NOT appear
    assert not any(r[3] == 777.0 for r in rows), f"straggler emitted: {rows}"
    # entity 1's legitimately settled rows all appear: fused :00 row,
    # :10 row, and both :30 rows (left seq 2, right seq 500)
    e1 = [r for r in rows if r[0] == 1]
    assert [(r[1], r[2]) for r in e1] == [
        (t0, 0), (t0 + pd.Timedelta(minutes=10), 1), (m30, 2), (m30, 500)
    ], f"entity-1 rows wrong: {e1}"


def test_materialize_fenl_tick_windows_equal_batch(spark, tmp_path):
    """materialize_fenl with calendar-tick windows (the reference's
    `materialize` mode running a tick-windowed query,
    sparrow-main/src/materialize.rs:16-64): boundary rows are injected
    live by the tick machine's event-time timers, and every field —
    tick-windowed, sliding-over-ticks, and unwindowed alike — matches
    the batch compile_fenl tick-flag lowering row for row."""
    import pandas as pd
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    rows = []
    # entity A: multiple events/day with a silent day; entity B sparse
    for i, (d, h, v) in enumerate([
        (1, 9, 1.0), (1, 15, 4.0), (2, 10, 2.0), (2, 11, 6.0),
        (4, 8, 3.0), (4, 20, 5.0),
    ]):
        rows.append(("A", pd.Timestamp(2024, 3, d, h), i, v))
    rows.append(("B", pd.Timestamp(2024, 3, 1, 12), 100, 10.0))
    rows.append(("B", pd.Timestamp(2024, 3, 4, 12), 101, 20.0))
    pdf = pd.DataFrame(rows, columns=["key", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    q = """
    {
      n: count(Input.v, window = since(daily())),
      tot: sum(Input.v, window = since(daily())),
      mx: max(Input.v),
      sl: sum(Input.v, window = sliding(2, daily()))
    }
    """
    batch = fenl(q, {"Input": tl})
    cols = ("n", "tot", "mx", "sl")
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
        for r in batch.collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream, watermark="0 seconds")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
        for r in sink.read_output(spark).collect()
    }
    assert got, "no rows emitted"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        assert g[0] == e[0], f"count at {k}: want {e[0]}, got {g[0]}"
        for i in (1, 2, 3):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i], f"col {cols[i]} at {k}"
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-12), f"col {cols[i]} at {k}"
    # every event row appears, and tick boundary coverage reaches the
    # second-to-last day's boundary (the final watermark fence)
    ev_missing = {k for k in exp if k[2] < 1 << 62 and k not in got}
    assert not ev_missing, f"missing event rows: {sorted(ev_missing)[:4]}"
    fence = pd.Timestamp(2024, 3, 4)
    tick_fenced = {k for k in exp if k[2] >= 1 << 62 and k[1] <= fence}
    missing_ticks = tick_fenced - set(got)
    assert not missing_ticks, f"missing tick rows: {sorted(missing_ticks)[:6]}"


def test_materialize_pipeline_shift_equals_batch(spark, tmp_path):
    """materialize_fenl_pipeline: an aggregation re-timed by shift_by
    runs as TWO chained streaming queries (Spark allows one
    applyInPandasWithState per query) linked through an exactly-once
    sink + file-stream source, and matches the batch compile of
    `sum(Input.v) | shift_by(...)` on every settled row."""
    import pandas as pd
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    rows = []
    for ent in ("A", "B"):
        for j, m in enumerate(range(0, 100, 10)):
            rows.append((ent, pd.Timestamp(2024, 5, 1, 12, m % 60) + pd.Timedelta(hours=m // 60), j, float(j + (ent == "B") * 100)))
    pdf = pd.DataFrame(rows, columns=["key", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    q = "sum(Input.v) | shift_by(seconds(600))"
    batch = fenl(q, {"Input": tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["result"] for r in batch.collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["result"]
        for r in out.select("_key", "_time", "_subsort", "result").collect()
    }
    assert got, "no rows emitted"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        assert g == pytest.approx(exp[k], rel=1e-12), f"at {k}"
    # fence: every batch row whose shifted time is at-or-before the
    # global max EVENT time has settled
    gmax = tl.df.agg(F.max("_time")).collect()[0][0]
    missing = {k for k in exp if k[1] <= gmax and k not in got}
    assert not missing, f"missing settled rows: {sorted(missing)[:4]}"
    # the intermediate stage carries lineage (per-partition metrics)
    lineage = pipe._stages[0][2].read_lineage(spark)
    assert lineage.count() > 0


def test_materialize_pipeline_lookup_agg_equals_batch(spark, tmp_path):
    """materialize_fenl_pipeline: lookup whose foreign value is itself
    an aggregation — the foreign aggregation materializes first (own
    checkpoint + exactly-once sink), then the as-of lookup join answers
    each primary row; output matches batch compile_fenl."""
    import pandas as pd
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    # sales per store (foreign); visits per user carrying a store fk
    s_rows, v_rows = [], []
    for st_i, store in enumerate(("s1", "s2")):
        for j, m in enumerate(range(0, 70, 10)):
            s_rows.append((store, t0 + pd.Timedelta(minutes=m), j, float(10 * st_i + j)))
    for u_i, user in enumerate(("u1", "u2", "u3")):
        for j, m in enumerate(range(5, 65, 15)):
            v_rows.append((user, t0 + pd.Timedelta(minutes=m), 100 + j,
                           "s1" if (u_i + j) % 2 == 0 else "s2"))
    sales = Timeline.from_events(
        spark.createDataFrame(pd.DataFrame(s_rows, columns=["store", "time", "seq", "amount"])),
        "time", "store", "seq")
    visits = Timeline.from_events(
        spark.createDataFrame(pd.DataFrame(v_rows, columns=["user", "time", "seq", "store_fk"])),
        "time", "user", "seq")

    q = "lookup(Input.store_fk, sum(Sales.amount))"
    batch = fenl(q, {"Input": visits, "Sales": sales})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["result"] for r in batch.collect()
    }

    v_dir = _write_time_split(visits.df, ["_time", "_subsort"], str(tmp_path / "v"), 3)
    s_dir = _write_time_split(sales.df, ["_time", "_subsort"], str(tmp_path / "s"), 3)
    vs = spark.readStream.schema(visits.df.schema).option("maxFilesPerTrigger", 1).parquet(v_dir)
    ss = spark.readStream.schema(sales.df.schema).option("maxFilesPerTrigger", 1).parquet(s_dir)
    pipe = materialize_fenl_pipeline(
        q, {"Input": vs, "Sales": ss}, str(tmp_path / "work")
    )
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["result"]
        for r in out.select("_key", "_time", "_subsort", "result").collect()
    }
    assert got, "no rows emitted"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        if e is None:
            assert g is None or g != g, f"at {k}"
        else:
            assert g == pytest.approx(e, rel=1e-12), f"at {k}: want {e}, got {g}"
    # fence: requests settle up to min(max primary t, max foreign t)
    fence = min(
        visits.df.agg(F.max("_time")).collect()[0][0],
        sales.df.agg(F.max("_time")).collect()[0][0],
    )
    missing = {k for k in exp if k[1] <= fence and k not in got}
    assert not missing, f"missing settled rows: {sorted(missing)[:4]}"


def test_materialize_fenl_with_key_equals_batch(spark, tmp_path):
    """materialize_fenl with a with_key re-keying pipe: re-keying is
    stateless in Spark terms (a new grouping column — the shuffle
    happens at the state machine's groupBy, reference
    operation/with_key.rs), so `Table | with_key(k) | {aggs}` runs in
    the SAME single stateful stage and matches batch compile_fenl."""
    import pandas as pd
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    rows = [
        ("A", "X", pd.Timestamp(2021, 1, 1), 0, 5.0),
        ("A", "Y", pd.Timestamp(2021, 1, 2), 1, 8.0),
        ("B", "X", pd.Timestamp(2021, 3, 1), 2, 9.0),
        ("A", "X", pd.Timestamp(2021, 4, 10), 3, None),
        ("A", None, pd.Timestamp(2021, 4, 11), 4, 9.0),
        ("B", "Y", pd.Timestamp(2021, 5, 1), 5, 2.0),
    ]
    pdf = pd.DataFrame(rows, columns=["key", "other_key", "time", "seq", "n"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    q = """
    Input | with_key($input.other_key)
          | { s: sum($input.n), c: count($input.n), lst: last($input.other_key) }
    """
    batch = fenl(q, {"Input": tl})
    cols = ("s", "c", "lst")
    exp = {
        (r["_key"], r["_subsort"]): tuple(r[c] for c in cols) for r in batch.collect()
    }

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream, watermark="0 seconds")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    got = {
        (r["_key"], r["_subsort"]): tuple(r[c] for c in cols)
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp), f"{len(got)} vs {len(exp)}"
    for k, e in exp.items():
        g = got[k]
        assert g[1] == e[1] and g[2] == e[2], f"at {k}: {g} vs {e}"
        if e[0] is None:
            assert g[0] is None or g[0] != g[0], f"sum at {k}"
        else:
            assert g[0] == pytest.approx(e[0], rel=1e-12), f"sum at {k}"


def test_materialize_pipeline_resume(spark, tmp_path):
    """Staged-pipeline resume: each hop has its own checkpoint and
    idempotent sink, so re-running the SAME work_dir after new input
    arrives resumes every stage from its offsets (files 1-2, stop, add
    file 3, re-run) and converges to the single-pass output."""
    import pandas as pd
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    rows = []
    for ent in ("A", "B"):
        for j, m in enumerate(range(0, 90, 10)):
            rows.append((ent, pd.Timestamp(2024, 5, 1, 12, 0) + pd.Timedelta(minutes=m), j, float(j)))
    tl = Timeline.from_events(
        spark.createDataFrame(pd.DataFrame(rows, columns=["key", "time", "seq", "v"])),
        "time", "key", "seq")
    q = "sum(Input.v) | shift_by(seconds(60))"

    full = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "full"), 3)
    files = sorted(os.listdir(full))

    def run(in_dir, work):
        stream = (spark.readStream.schema(tl.df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        pipe = materialize_fenl_pipeline(q, stream, work)
        return pipe.run_available_now()

    # single-pass reference
    ref = {(r["_key"], r["_time"], r["_subsort"]): r["result"]
           for r in run(full, str(tmp_path / "w1")).collect()}

    # resumed: files 1-2, run, then add file 3 and re-run SAME work_dir
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    run(in_dir, str(tmp_path / "w2"))
    shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
    out = run(in_dir, str(tmp_path / "w2"))
    got = {(r["_key"], r["_time"], r["_subsort"]): r["result"] for r in out.collect()}
    assert got == ref, f"resume diverged: {len(got)} vs {len(ref)} rows"


def test_materialize_pipeline_mid_kill_resume_deleted_input(spark, tmp_path):
    """The resumeable_tests.rs drill at PIPELINE granularity: drain
    stage 1 ONLY (the kill lands between stages, after stage 1's
    snapshot), DELETE the earliest raw input file, add the final file,
    then resume the FULL pipeline on the same work_dir. Output must
    equal the single-pass run — stage 1's checkpoint state plus its
    exactly-once staged output are sufficient; the deleted raw input is
    never re-read, and stage 2 starts cold from the staged frames."""
    import pandas as pd
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    rows = []
    for ent in ("A", "B"):
        for j, m in enumerate(range(0, 90, 10)):
            rows.append((ent, pd.Timestamp(2024, 5, 1, 12, 0) + pd.Timedelta(minutes=m), j, float(j)))
    tl = Timeline.from_events(
        spark.createDataFrame(pd.DataFrame(rows, columns=["key", "time", "seq", "v"])),
        "time", "key", "seq")
    q = "sum(Input.v) | shift_by(seconds(60))"

    full = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "full"), 3)
    files = sorted(os.listdir(full))

    def pipe_over(in_dir, work):
        stream = (spark.readStream.schema(tl.df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        return materialize_fenl_pipeline(q, stream, work)

    ref = {(r["_key"], r["_time"], r["_subsort"]): r["result"]
           for r in pipe_over(full, str(tmp_path / "w1")).run_available_now().collect()}
    assert ref

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))
    # stage 1 drains files 1-2, then the pipeline "dies" before stage 2
    pipe_over(in_dir, str(tmp_path / "w2")).run_stage("inner")
    os.remove(os.path.join(in_dir, files[0]))          # early input gone
    shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
    out = pipe_over(in_dir, str(tmp_path / "w2")).run_available_now()
    got = {(r["_key"], r["_time"], r["_subsort"]): r["result"] for r in out.collect()}
    assert got == ref, f"mid-pipeline resume diverged: {len(got)} vs {len(ref)} rows"


def test_materialize_fenl_when_tick_sampling_equals_batch(spark, tmp_path):
    """`sum(Input.v) | when(daily())` live: the tick machine injects
    boundary rows even though no field is tick-windowed (the batch
    pre-scan injects ticks for when-conditions too,
    tick_tests.rs test_tick_with_when_produces_values_on_window_bounds),
    and the when() filter keeps only boundary rows. Also covers a plain
    scalar when() filter over the output."""
    import pandas as pd
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    rows = []
    for i, (d, h, v) in enumerate([(1, 9, 1.0), (1, 15, 4.0), (2, 10, 2.0),
                                   (4, 8, 3.0), (4, 20, 5.0)]):
        rows.append(("A", pd.Timestamp(2024, 3, d, h), i, v))
    rows.append(("B", pd.Timestamp(2024, 3, 1, 12), 100, 10.0))
    rows.append(("B", pd.Timestamp(2024, 3, 3, 12), 101, 20.0))
    tl = Timeline.from_events(
        spark.createDataFrame(pd.DataFrame(rows, columns=["key", "time", "seq", "v"])),
        "time", "key", "seq")

    for q, cols in (
        ("sum(Input.v) | when(daily())", ("result",)),
        ("{ s: sum(Input.v), c: count(Input.v) } | when($input.c >= 2)", ("s", "c")),
    ):
        batch = fenl(q, {"Input": tl})
        exp = {
            (r["_key"], r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
            for r in batch.collect()
        }
        tag = "tick" if "daily" in q else "cond"
        in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / f"in_{tag}"), 3)
        stream = (spark.readStream.schema(tl.df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        out = materialize_fenl(q, stream, watermark="0 seconds")
        sink = ExactlyOnceSink(str(tmp_path / f"out_{tag}"), time_col="_time")
        sq = (out.writeStream.outputMode("append")
              .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
              .foreachBatch(sink).trigger(availableNow=True).start())
        sq.awaitTermination()
        got = {
            (r["_key"], r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
            for r in sink.read_output(spark).collect()
        }
        assert got, f"no rows for {q!r}"
        for k, g in got.items():
            assert k in exp, f"unexpected row {k} for {q!r}"
            for gv, ev in zip(g, exp[k]):
                if ev is None:
                    assert gv is None or gv != gv
                else:
                    assert gv == pytest.approx(ev, rel=1e-12), f"{q!r} at {k}"
        # coverage fence: boundaries/events up to the second-to-last day
        fence = pd.Timestamp(2024, 3, 3)
        missing = {k for k in exp if k[1] <= fence and k not in got}
        assert not missing, f"{q!r} missing: {sorted(missing)[:4]}"


def _split_resume_dirs(full_dir, in_dir):
    """Phase-1 inputs: first two files of full_dir copied into in_dir.
    Returns the sorted file list for the phase-2 swap."""
    os.makedirs(in_dir)
    files = sorted(os.listdir(full_dir))
    for f in files[:2]:
        shutil.copy2(os.path.join(full_dir, f), os.path.join(in_dir, f))
    return files


def _advance_resume_dirs(full_dir, in_dir, files):
    """Phase-2: DELETE the earliest input (state must be sufficient,
    resumeable_tests.rs:8-18) and add the remaining file."""
    os.remove(os.path.join(in_dir, files[0]))
    shutil.copy2(os.path.join(full_dir, files[2]), os.path.join(in_dir, files[2]))


def test_stream_resume_shift_by(spark, tmp_path):
    """Kill/resume with the shift buffer state (rows waiting for the
    watermark to pass their shifted target): run files 1-2, stop,
    delete file 1, add file 3, resume — combined output equals batch
    shift_by within the final watermark (the reference's
    resumeable_tests.rs::test_resumeable_shift_to_literal /
    _shift_to_column scenarios, on the shift-buffer machine)."""
    import pandas as pd
    from kaskada_spark.streaming.shift import shift_by_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    rows = [
        (ent, t0 + pd.Timedelta(minutes=m), ent * 1000 + m, float(m))
        for ent in (1, 2, 3)
        for m in range(0, 60, 7)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "k", "seq")
    wm_final = t0 + pd.Timedelta(minutes=56)
    exp = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"])
        for r in tl.shift_by(F.expr("interval 5 minutes")).df.collect()
        if r["_time"] <= wm_final
    }

    full = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "full"), 3)
    in_dir = str(tmp_path / "in")
    files = _split_resume_dirs(full, in_dir)

    def run():
        stream = (
            spark.readStream.schema(tl.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = shift_by_stream(stream, F.expr("interval 5 minutes"))
        sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    run()
    _advance_resume_dirs(full, in_dir, files)
    sink = run()

    got = {
        (r["_key"], r["_subsort"]): (r["_time"], r["v"])
        for r in sink.read_output(spark).collect()
    }
    for kk, ev in exp.items():
        assert kk in got, f"missing shifted row {kk}"
        assert got[kk] == ev, f"{kk}: want {ev}, got {got[kk]}"
    for kk, (t, _) in got.items():
        assert t <= wm_final


def test_stream_resume_merge_align(spark, tmp_path):
    """Kill/resume with the merge-align buffers (both sides' unsettled
    rows + as-of latches live in state): run the first two files of
    EACH side, stop, delete each side's earliest file, add the third,
    resume — combined output equals the batch merge within the final
    combined watermark (resumeable_tests.rs partial-overlap pattern on
    the merge machine)."""
    import pandas as pd
    from kaskada_spark.operators.merge import merge as batch_merge
    from kaskada_spark.streaming.merge import merge_align_stream

    t0 = pd.Timestamp(2024, 5, 1, 12, 0)
    l_rows, r_rows = [], []
    for ent in (1, 2):
        for j, m in enumerate(range(0, 50, 5)):
            l_rows.append((ent, t0 + pd.Timedelta(minutes=m), j, float(ent * 100 + m)))
        for j, m in enumerate(range(0, 50, 10)):
            sub = j * 2 if m % 20 == 0 else 1000 + j
            r_rows.append((ent, t0 + pd.Timedelta(minutes=m), sub, ent * 1000 + m))
    ldf = spark.createDataFrame(pd.DataFrame(l_rows, columns=["k", "time", "seq", "price"]))
    rdf = spark.createDataFrame(pd.DataFrame(r_rows, columns=["k", "time", "seq", "qty"]))
    l_tl = Timeline.from_events(ldf, "time", "k", "seq")
    r_tl = Timeline.from_events(rdf, "time", "k", "seq")

    wm_final = t0 + pd.Timedelta(minutes=40)
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): (r["price"], r["qty"])
        for r in batch_merge(l_tl, r_tl, as_of=["qty"]).df.collect()
        if r["_time"] <= wm_final
    }

    l_full = _write_time_split(l_tl.df, ["_time", "_subsort"], str(tmp_path / "l_full"), 3)
    r_full = _write_time_split(r_tl.df, ["_time", "_subsort"], str(tmp_path / "r_full"), 3)
    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    l_files = _split_resume_dirs(l_full, l_dir)
    r_files = _split_resume_dirs(r_full, r_dir)

    def run():
        ls = (
            spark.readStream.schema(l_tl.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(l_dir)
        )
        rs = (
            spark.readStream.schema(r_tl.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(r_dir)
        )
        out = merge_align_stream(ls, rs, as_of=["qty"])
        sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    run()
    _advance_resume_dirs(l_full, l_dir, l_files)
    _advance_resume_dirs(r_full, r_dir, r_files)
    sink = run()

    got = {
        (r["_key"], r["_time"], r["_subsort"]): (r["price"], r["qty"])
        for r in sink.read_output(spark).collect()
    }
    missing = {kk for kk in exp if kk not in got}
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:4]}"
    for kk, ev in exp.items():
        assert got[kk] == ev, f"{kk}: want {ev}, got {got[kk]}"
    for kk in {kk for kk in got if kk not in exp}:
        assert kk[1] > wm_final, f"unexpected settled row {kk}"


def test_stream_pack_sequences_equals_batch(spark, sf_dir, tmp_path):
    """Streaming pack assignment (training.pack_sequences_stream) gives
    every sequence the same tokens_before/pack_id/pack_offset as the
    batch pack_sequences on the same ordered pre-tokenized input (the
    north-rule training-stream assembly, live)."""
    from kaskada_spark.operators.training import pack_sequences, pack_sequences_stream
    from kaskada_spark.sources.tokens import tokenize_documents

    toks = tokenize_documents(spark, sf_dir).select(
        "doc_id", "source", "n_tok", "_time", "_subsort"
    )
    exp = {
        r["doc_id"]: (r["tokens_before"], r["pack_id"], r["pack_offset"])
        for r in pack_sequences(toks, budget=512, segmented=False).collect()
    }

    in_dir = _write_time_split(toks, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = pack_sequences_stream(stream, budget=512)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["tokens_before"], r["pack_id"], r["pack_offset"])
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp)
    for did, e in exp.items():
        assert got[did] == e, f"doc {did}: want {e}, got {got[did]}"


def test_streaming_exact_dedup_equivalence(spark, tmp_path):
    """First-arrival streaming dedup keeps exactly the min-time row of
    every content group that batch exact_dedup reports, including a
    duplicate whose copy arrives in a LATER micro-batch."""
    import datetime as dt

    from kaskada_spark.operators.dedup import exact_dedup
    from kaskada_spark.streaming.dedup import exact_dedup_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, "alpha content", t0),
        (2, "beta content", t0 + dt.timedelta(minutes=1)),
        (3, "alpha content", t0 + dt.timedelta(minutes=2)),   # dup of 1
        (4, "gamma content", t0 + dt.timedelta(minutes=3)),
        (5, "beta content", t0 + dt.timedelta(minutes=90)),   # dup, later file
        (6, "delta content", t0 + dt.timedelta(minutes=91)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, _time timestamp")

    reps = {
        r["rep_id"] for r in exact_dedup(df, "doc_id", "text").collect()
    }  # batch representatives = min doc_id = min time here

    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = exact_dedup_stream(stream, text_col="text", watermark="3 hours")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sink.read_output(spark)
    # all input columns survive + the hash; the sink adds batch lineage
    assert {"doc_id", "text", "_time", "content_hash"} <= set(got.columns)
    assert {r["doc_id"] for r in got.collect()} == reps == {1, 2, 4, 6}


def test_streaming_near_dedup_equivalence(spark, tmp_path):
    """MinHash-LSH first-arrival filter: rows whose leading signature
    band collides with an earlier in-horizon row are dropped. The
    stream output equals the batch min-time-per-LSH-key rule by
    construction (same Catalyst signature expression), and documents
    that differ only in case/whitespace (same word shingles, different
    raw bytes — invisible to EXACT dedup) collapse."""
    import datetime as dt

    from kaskada_spark.operators.dedup import minhash_signature
    from kaskada_spark.streaming.dedup import near_dedup_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base, t0),
        (2, "completely different content about spark streaming state stores",
         t0 + dt.timedelta(minutes=1)),
        # same words as 1 modulo case/whitespace -> same shingle set,
        # different md5(text): a NEAR dup, arriving in a later batch
        (3, base.upper().replace(" ", "  "), t0 + dt.timedelta(minutes=2)),
        (4, "a third unrelated document listing parquet file formats",
         t0 + dt.timedelta(minutes=3)),
        (5, base, t0 + dt.timedelta(minutes=90)),  # exact dup, later file
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, _time timestamp")

    # batch twin of the stream rule: keep the min-time row per LSH key
    sig = minhash_signature(F.col("text"), 8, 3)
    key = F.md5(F.slice(sig, 1, 8).cast("string"))
    w = df.withColumn("k", key)
    batch_keep = {
        r["doc_id"]
        for r in w.join(
            w.groupBy("k").agg(F.min("_time").alias("_time")), ["k", "_time"]
        ).collect()
    }
    assert batch_keep == {1, 2, 4}  # 3 near-dups 1; 5 exact-dups 1

    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = near_dedup_stream(stream, text_col="text", watermark="3 hours")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sink.read_output(spark)
    assert "lsh_key" in got.columns
    assert {r["doc_id"] for r in got.collect()} == batch_keep


def test_streaming_exact_dedup_horizon_expiry(spark, tmp_path):
    """State expires with the watermark: a copy arriving AFTER the
    dedup horizon is treated as new content (bounded state is the
    point — an unbounded horizon would hold every hash ever seen)."""
    import datetime as dt

    from kaskada_spark.streaming.dedup import exact_dedup_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, "alpha", t0),
        (2, "filler-a", t0 + dt.timedelta(minutes=30)),
        (3, "filler-b", t0 + dt.timedelta(minutes=70)),
        (4, "alpha", t0 + dt.timedelta(minutes=75)),  # beyond 10-min horizon
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, _time timestamp")
    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 4)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = exact_dedup_stream(stream, text_col="text", watermark="10 minutes")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = {r["doc_id"] for r in sink.read_output(spark).collect()}
    assert ids == {1, 2, 3, 4}  # the late alpha copy re-emits after expiry


def _banded_buckets(spark, text, num_hashes=8, bands=4, shingle_n=3):
    """Band buckets of one document via the BATCH signature (the same
    expression BandedNearDedup stages) — ground truth for planting."""
    from kaskada_spark.operators.dedup import minhash_signature

    sig = (
        spark.range(1)
        .select(minhash_signature(F.lit(text), num_hashes, shingle_n).alias("s"))
        .collect()[0]["s"]
    )
    r = num_hashes // bands
    return [tuple(sig[b * r : (b + 1) * r]) for b in range(bands)]


def test_streaming_banded_near_dedup_or_amplification(spark, tmp_path):
    """OR-amplified banded near-dedup catches a variant the single-band
    filter misses: a perturbed copy whose FIRST band bucket diverges but
    that still shares a later band with the original is kept by
    `near_dedup_stream` (single-key membership) and dropped by
    `BandedNearDedup` (any-of-b membership). Also proves arrival-order
    determinism (3-micro-batch replay == one-batch run) and replay
    idempotence (re-running an epoch changes nothing)."""
    import datetime as dt

    from kaskada_spark.streaming.dedup import BandedNearDedup, near_dedup_stream

    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "bank while morning fog settles across the valley floor"
    )
    b0 = _banded_buckets(spark, base)
    # deterministic search for a perturbation that misses band 0 but
    # hits a later band (fixed functions -> fixed outcome; assert it)
    words = base.split()
    variant = None
    for i in range(len(words)):
        cand = " ".join(words[:i] + ["altered"] + words[i + 1 :])
        bc = _banded_buckets(spark, cand)
        if bc[0] != b0[0] and any(bc[b] == b0[b] for b in range(1, 4)):
            variant = cand
            break
    assert variant is not None, "no band-0-miss/later-band-hit perturbation"

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, t0),
        (2, "an unrelated note about parquet readers and shuffle sizes",
         t0 + dt.timedelta(minutes=1)),
        (3, variant, t0 + dt.timedelta(minutes=2)),  # the planted near-dup
        (4, base, t0 + dt.timedelta(minutes=3)),     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, _time timestamp")

    # single-band filter (key = first band, 2 hashes): misses doc 3
    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = near_dedup_stream(stream, text_col="text", watermark="3 hours",
                            band_size=2)
    sink = ExactlyOnceSink(str(tmp_path / "sb_out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sb_ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    single_band = {r["doc_id"] for r in sink.read_output(spark).collect()}
    assert 3 in single_band  # escaped: band 0 diverges

    # banded filter over the same 3-file replay: catches doc 3
    banded = BandedNearDedup(
        str(tmp_path / "bd_out"), str(tmp_path / "bd_state"),
        horizon="3 hours",
    )
    stream2 = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q2 = (
        stream2.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bd_ck"))
        .foreachBatch(banded)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got = {r["doc_id"] for r in banded.read_output(spark).collect()}
    assert got == {1, 2}  # 3 caught by a later band, 4 exact-dup

    # one-batch run == micro-batch replay (arrival-order determinism)
    one = BandedNearDedup(
        str(tmp_path / "one_out"), str(tmp_path / "one_state"),
        horizon="3 hours",
    )
    one(df, 0)
    assert {r["doc_id"] for r in one.read_output(spark).collect()} == got

    # replay idempotence: re-running epoch 0 from the same pre-state
    # overwrites its own output/snapshot, no duplicates
    one(df, 0)
    out_rows = one.read_output(spark).collect()
    assert {r["doc_id"] for r in out_rows} == got
    assert len(out_rows) == len(got)


def test_streaming_banded_near_dedup_horizon_expiry(spark, tmp_path):
    """Band-membership state expires: a copy arriving beyond the
    horizon re-emits, and the expired buckets are PURGED from the
    snapshot (state bounded by the horizon, not the corpus)."""
    import datetime as dt

    from kaskada_spark.streaming.dedup import BandedNearDedup

    t0 = dt.datetime(2024, 1, 1)
    text_a = "alpha document with enough words to form several shingles here"
    sink = BandedNearDedup(
        str(tmp_path / "out"), str(tmp_path / "state"), horizon="10 minutes"
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string, _time timestamp"
    )
    sink(mk([(1, text_a, t0)]), 0)
    # 70 min later: unrelated doc rolls the high-water past the horizon
    sink(mk([(2, "totally different filler content about spark plans",
              t0 + dt.timedelta(minutes=70))]), 1)
    # the expired copy re-emits as new content
    sink(mk([(3, text_a, t0 + dt.timedelta(minutes=75))]), 2)
    ids = {r["doc_id"] for r in sink.read_output(spark).collect()}
    assert ids == {1, 2, 3}
    # purge check: snapshot 1 no longer holds doc 1's buckets
    snap1 = spark.read.parquet(str(tmp_path / "state" / "batch_id=1"))
    assert snap1.filter(F.col("first_time") == F.lit(t0)).count() == 0
    # an in-horizon copy is still dropped
    sink(mk([(4, text_a, t0 + dt.timedelta(minutes=76))]), 3)
    ids = {r["doc_id"] for r in sink.read_output(spark).collect()}
    assert ids == {1, 2, 3}


def test_materialize_fenl_chained_aggs_equal_batch(spark, events_tl, tmp_path):
    """Chained aggregations (the reference's aggregation-of-aggregation,
    e.g. `Input.v | sum() | mean()`) lower onto chained AggSpecs — the
    outer spec consumes the inner spec's per-row output where it
    updates — and match batch compile_fenl row-for-row, including an
    outer since() window over an inner running aggregate."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    {
      m_of_sum: Input.value | sum() | mean(),
      last_of_mean: last(mean(Input.value)),
      n_of_sum: count(sum(Input.value),
                      window = since(Input.event_type == 'purchase'))
    }
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    assert not any(c.startswith("__mat_") for c in out.columns)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    cols = ("m_of_sum", "last_of_mean", "n_of_sum")
    exp = {r["_subsort"]: tuple(r[c] for c in cols) for r in batch.collect()}
    got = {
        r["_subsort"]: tuple(r[c] for c in cols)
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp)
    for sid, e in exp.items():
        g = got[sid]
        assert g[2] == e[2], f"n_of_sum at {sid}: want {e[2]}, got {g[2]}"
        for i in (0, 1):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i], f"col {i} at {sid}"
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-12), f"col {i} at {sid}"


def test_materialize_chained_latched_reconsumption(spark, tmp_path):
    """Reference chained-agg semantics (aggregation_tests.rs
    test_nested_sum_i64): the outer aggregate consumes the inner's
    LATCHED value at every domain row — a null inner input re-consumes
    the held value (running sums 5,22,22,34 nest to 5,27,49,83). Also
    covers a tick-windowed outer over a chained inner (boundary rows
    are domain rows and consume the latch too) — both row-identical to
    batch compile_fenl."""
    import datetime as dt

    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    t0 = dt.datetime(2024, 1, 1, 6, 0, 0)
    rows = [
        (t0, 1, "A", 5.0),
        (t0 + dt.timedelta(hours=1), 2, "A", 17.0),
        (t0 + dt.timedelta(hours=2), 3, "A", None),    # latched re-consume
        (t0 + dt.timedelta(days=1), 4, "A", 12.0),     # crosses a daily tick
        (t0 + dt.timedelta(days=1, hours=1), 5, "A", None),
        (t0 + dt.timedelta(days=1, hours=2), 6, "B", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, event_id long, user_id string, value double"
    )
    tl = Timeline.from_events(df, "ts", "user_id", "event_id")

    q = """
    {
      nested: sum(sum(Input.value)),
      daily_mean_of_sum: mean(sum(Input.value), window = since(daily()))
    }
    """
    batch = fenl(q, {"Input": tl})
    cols = ("nested", "daily_mean_of_sum")
    exp = {
        (r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
        for r in batch.collect()
    }
    # the null-input rows re-consume the latch: A runs 5,22,22 -> 5,27,49
    a_rows = sorted(
        (k, v) for k, v in exp.items() if v[0] is not None and k[1] in (1, 2, 3)
    )
    assert [v[0] for _, v in a_rows] == [5.0, 27.0, 49.0]

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    got = {
        (r["_time"], r["_subsort"]): tuple(r[c] for c in cols)
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp), (sorted(exp), sorted(got))
    for kk, e in exp.items():
        g = got[kk]
        for i in range(2):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i], f"{kk} col {i}"
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-12), (
                    f"{kk} col {i}: want {e[i]}, got {g[i]}"
                )


def test_materialize_fenl_stateful_when(spark, events_tl, tmp_path):
    """when() conditions CONTAINING aggregations materialize live: the
    condition's aggs become hidden fields of the same state-machine pass
    and the residual predicate filters the output — row-identical to
    batch compile_fenl."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    { total: count(Input.value) }
      | when(count(Input.value) > 3 and Input.event_type == 'purchase')
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    assert not any(c.startswith("__cond_") for c in out.columns)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: r["total"] for r in batch.collect()}
    got = {r["_subsort"]: r["total"] for r in sink.read_output(spark).collect()}
    assert len(exp) > 0                      # the filter keeps real rows
    assert got == exp


def test_materialize_fenl_stateful_when_bare_table(spark, events_tl, tmp_path):
    """`Input | when(count(Input) > 3)` — a stateful when() over the
    BARE table (reference when_tests.rs) materializes live: the table
    expands to a passthrough record, the condition's agg rides as a
    hidden field, output rows match batch compile_fenl exactly
    (VERDICT r03 item #6)."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = "Input | when(count(Input) > 3)"
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    assert not any(c.startswith("__cond_") for c in out.columns)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    payload = [c for c in batch.columns if c not in ("_time", "_subsort", "_key")]
    exp = {r["_subsort"]: tuple(r[c] for c in payload) for r in batch.collect()}
    got = {
        r["_subsort"]: tuple(r[c] for c in payload)
        for r in sink.read_output(spark).collect()
    }
    assert len(exp) > 0
    assert got == exp


def test_streaming_training_pipeline_equals_batch(spark, sf_dir, tmp_path):
    """The assembled pipeline LIVE (dedup -> quality gate -> tokenize ->
    pack) over an ordered replay matches the batch pipeline_e2e
    contract query row for row — two stateful operators chained in one
    streaming query."""
    import __spark_entry__ as entry_mod
    from kaskada_spark.streaming.pipeline import training_data_pipeline_stream

    exp = {
        r["doc_id"]: (r["source"], r["n_tok"], r["tokens_before"],
                      r["pack_id"], r["pack_offset"])
        for r in entry_mod.q_pipeline_e2e(spark, sf_dir).collect()
    }
    assert len(exp) > 50

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(secs=F.col("doc_id").cast("double"))).alias("_time"),
    )
    in_dir = _write_time_split(docs, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = training_data_pipeline_stream(stream, budget=2048)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["source"], int(r["n_tok"]), r["tokens_before"],
                      r["pack_id"], r["pack_offset"])
        for r in sink.read_output(spark).collect()
    }
    exp_cast = {k: (v[0], int(v[1]), v[2], v[3], v[4]) for k, v in exp.items()}
    assert got == exp_cast


def test_streaming_training_pipeline_resume(spark, sf_dir, tmp_path):
    """Kill/resume for the CHAINED two-stateful-op pipeline: run files
    1-2, stop, delete file 1, add file 3, resume from checkpoint — both
    state stores (dedup hashes + per-source pack counters) must carry,
    and the combined output must equal the batch pipeline_e2e result."""
    import __spark_entry__ as entry_mod
    from kaskada_spark.streaming.pipeline import training_data_pipeline_stream

    exp = {
        r["doc_id"]: (r["source"], int(r["n_tok"]), r["tokens_before"],
                      r["pack_id"], r["pack_offset"])
        for r in entry_mod.q_pipeline_e2e(spark, sf_dir).collect()
    }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(secs=F.col("doc_id").cast("double"))).alias("_time"),
    )
    full = _write_time_split(docs, ["_time"], str(tmp_path / "full"), 3)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    files = sorted(os.listdir(full))
    for f in files[:2]:
        shutil.copy2(os.path.join(full, f), os.path.join(in_dir, f))

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = training_data_pipeline_stream(stream, budget=2048)
        sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    run()
    os.remove(os.path.join(in_dir, files[0]))          # early input gone
    shutil.copy2(os.path.join(full, files[2]), os.path.join(in_dir, files[2]))
    sink = run()

    got = {
        r["doc_id"]: (r["source"], int(r["n_tok"]), r["tokens_before"],
                      r["pack_id"], r["pack_offset"])
        for r in sink.read_output(spark).collect()
    }
    assert got == exp


def test_materialize_fenl_lag_equals_batch(spark, events_tl, tmp_path):
    """lag(n, x) fields materialize live via the deque state machine,
    row-identical to batch — alongside regular aggregations."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = "{ prev2: lag(2, Input.value), total: sum(Input.value) }"
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: (r["prev2"], r["total"]) for r in batch.collect()}
    got = {
        r["_subsort"]: (r["prev2"], r["total"])
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp)
    for sid, e in exp.items():
        g = got[sid]
        for i in range(2):
            if e[i] is None:
                assert g[i] is None or g[i] != g[i], (sid, i, g[i])
            else:
                assert g[i] == pytest.approx(e[i], rel=1e-12), (sid, i, g[i], e[i])


def test_materialize_fenl_field_with_key_equals_batch(spark, events_tl, tmp_path):
    """`{ s: <agg> | with_key(k) }` — re-keying AFTER aggregation: the
    aggregate stays keyed by the original entity; the output rows
    re-root on the new key as a stateless projection. Row-identical to
    batch, and the mixed-universe record errors like the batch
    compiler."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.compiler import FenlCompileError
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = "{ s: Input.value | sum() | with_key(Input.event_type) }"
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: (r["_key"], r["s"]) for r in batch.collect()}
    got = {
        r["_subsort"]: (r["_key"], r["s"])
        for r in sink.read_output(spark).collect()
    }
    assert len(got) == len(exp)
    for sid, e in exp.items():
        assert got[sid][0] == e[0], f"key at {sid}"
        if e[1] is None:
            assert got[sid][1] is None or got[sid][1] != got[sid][1]
        else:
            assert got[sid][1] == pytest.approx(e[1], rel=1e-12), f"s at {sid}"

    with pytest.raises(FenlCompileError, match="cannot combine"):
        materialize_fenl(
            "{ a: sum(Input.value),"
            "  b: Input.value | last() | with_key(Input.event_type) }",
            stream,
        )


def test_materialize_chained_inner_since_window(spark, events_tl, tmp_path):
    """A since(cond)-windowed INNER aggregation inside a chain lowers
    onto a since-spec whose per-row output feeds the outer — matching
    batch row-for-row."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    { m: mean(sum(Input.value, window = since(Input.event_type == 'purchase'))) }
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: r["m"] for r in batch.collect()}
    got = {r["_subsort"]: r["m"] for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for sid, e in exp.items():
        if e is None:
            assert got[sid] is None or got[sid] != got[sid]
        else:
            assert got[sid] == pytest.approx(e, rel=1e-12), (sid, got[sid], e)


def test_materialize_chained_inner_sliding_window(spark, events_tl, tmp_path):
    """A sliding(n, cond)-windowed INNER aggregation inside a chain
    lowers onto a sliding-spec (bounded deque of closed sub-accumulators)
    whose per-row output feeds the outer — matching batch row-for-row."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    { m: mean(sum(Input.value, window = sliding(2, Input.event_type == 'purchase'))) }
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: r["m"] for r in batch.collect()}
    got = {r["_subsort"]: r["m"] for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for sid, e in exp.items():
        if e is None:
            assert got[sid] is None or got[sid] != got[sid]
        else:
            assert got[sid] == pytest.approx(e, rel=1e-12), (sid, got[sid], e)


def test_streaming_token_histogram_equals_batch(spark, sf_dir, tmp_path):
    """Per-window token frequencies over the live stream match the same
    tumbling-window aggregation on the static frame (closed windows
    only — availableNow's final watermark closes everything)."""
    from kaskada_spark.sources.tokens import tokenize_documents
    from kaskada_spark.streaming.pipeline import windowed_token_histogram

    toks = tokenize_documents(spark, sf_dir).select("_time", "tokens")
    exp = {
        (r["window_start"], r["token"]): r["cnt"]
        for r in windowed_token_histogram(toks, window="1 minute").collect()
    }
    assert len(exp) > 100

    in_dir = _write_time_split(toks, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = windowed_token_histogram(stream, window="1 minute")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="window_start")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["token"]): r["cnt"]
        for r in sink.read_output(spark).collect()
    }
    # append mode emits only watermark-CLOSED windows: the final open
    # window may be withheld, but closed windows match exactly and
    # nothing is invented
    import datetime as dt

    max_t = toks.agg(F.max("_time")).collect()[0][0]
    wm = max_t - dt.timedelta(minutes=2)
    closed = {
        k: v
        for k, v in exp.items()
        if k[0] + dt.timedelta(minutes=1) <= wm
    }
    assert len(closed) > 100
    for k, v in closed.items():
        assert got.get(k) == v, (k, got.get(k), v)
    for k in got:
        assert k in exp, f"invented window row {k}"


def test_materialize_chained_sliding_outer(spark, events_tl, tmp_path):
    """An outer sliding(n, cond) window over a chained inner aggregate:
    the sliding deque consumes the inner's latched per-row output."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    { m: mean(sum(Input.value),
              window = sliding(2, Input.event_type == 'purchase')) }
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {r["_subsort"]: r["m"] for r in batch.collect()}
    got = {r["_subsort"]: r["m"] for r in sink.read_output(spark).collect()}
    assert len(got) == len(exp)
    for sid, e in exp.items():
        if e is None:
            assert got[sid] is None or got[sid] != got[sid], (sid, got[sid])
        else:
            assert got[sid] == pytest.approx(e, rel=1e-12), (sid, got[sid], e)


def test_stream_shift_buffer_cap(spark, tmp_path):
    """max_buffered_rows fail-fast: targets far ahead of the watermark
    blow the cap with a clear error instead of growing state silently;
    an adequate cap passes and matches the uncapped output."""
    import datetime as dt

    from kaskada_spark.streaming.shift import shift_by_stream

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(t0 + dt.timedelta(seconds=i), i, "A", float(i)) for i in range(12)]
    schema = "_time timestamp, _subsort long, _key string, value double"
    df = spark.createDataFrame(rows, schema)
    in_dir = _write_time_split(df, ["_time", "_subsort"], str(tmp_path / "in"), 2)

    def run(cap, ck):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = shift_by_stream(
            stream, F.expr("INTERVAL 1 HOUR"), max_buffered_rows=cap
        )
        sink = ExactlyOnceSink(str(tmp_path / f"out{ck}"), time_col="_time")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck{ck}"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    # all 12 rows shift 1h ahead of a 12s stream -> every row in flight
    with pytest.raises(Exception, match="max_buffered_rows=4"):
        run(4, "a")
    sink = run(100, "b")  # adequate cap: query completes normally
    # targets stay beyond the final watermark, so rows remain in state
    # (the hazard the cap guards) — nothing emitted, nothing failed
    assert sink.read_output(spark).count() == 0


def test_streaming_metrics_recorder(spark, sf_dir, tmp_path):
    """The MetricsRecorder captures one progress line per micro-batch
    with rows, rates, watermark and stateful-operator state sizes —
    the metrics half of the north rule's lineage+metrics contract."""
    import time as _time

    from kaskada_spark.sources.tokens import tokenize_documents
    from kaskada_spark.streaming.metrics import (
        attach_metrics,
        read_metrics,
    )
    from kaskada_spark.streaming.pipeline import windowed_token_agg

    toks = tokenize_documents(spark, sf_dir)
    in_dir = _write_time_split(toks, ["_time"], str(tmp_path / "in"), 3)
    mpath = str(tmp_path / "metrics.jsonl")
    rec = attach_metrics(spark, mpath)
    try:
        stream = (
            spark.readStream.schema(toks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = windowed_token_agg(stream, window="1 minute")
        sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="window_start")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        for _ in range(40):
            if os.path.exists(mpath) and len(read_metrics(mpath)) >= 3:
                break
            _time.sleep(0.25)
    finally:
        spark.streams.removeListener(rec)
    prog = read_metrics(mpath)
    assert len(prog) >= 3                      # one per input file
    assert sum(p["num_input_rows"] for p in prog) == toks.count()
    assert all(p["batch_id"] >= 0 for p in prog)
    stateful = [p for p in prog if p["state_operators"]]
    assert stateful, "no stateful operator metrics captured"
    assert stateful[-1]["state_operators"][0]["rows_total"] > 0
    # watermark advances across batches
    wms = [p["watermark"] for p in prog if p["watermark"]]
    assert wms == sorted(wms) and len(wms) >= 2


def test_materialize_fenl_random_queries_equal_batch(spark, events_tl, tmp_path):
    """Seeded mini-fuzz over the materialize surface: random records of
    aggregations (plain / since-windowed / sliding / chained / lag),
    optional stateful when() — every generated query must match batch
    compile_fenl row-for-row. Catches interaction bugs no single
    hand-written case covers."""
    import random

    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    rng = random.Random(20240818)
    ops = ["sum", "count", "min", "max", "mean", "last", "first"]
    inputs = ["Input.value", "clamp(Input.value, 10.0, 190.0)"]
    windows = [
        None,
        "since(Input.event_type == 'purchase')",
        "sliding(2, Input.event_type == 'click')",
    ]

    def gen_field(allow_chain=True):
        r = rng.random()
        if r < 0.12:
            return f"lag({rng.randint(1, 3)}, {rng.choice(inputs)})"
        op = rng.choice(ops)
        if allow_chain and rng.random() < 0.35:
            iw = rng.choice(windows)
            inner = f"{rng.choice(ops)}({rng.choice(inputs)}" + (
                f", window = {iw})" if iw else ")"
            )
            arg = inner
        else:
            arg = rng.choice(inputs)
        w = rng.choice(windows)
        return f"{op}({arg}" + (f", window = {w})" if w else ")")

    for qi in range(6):
        n_fields = rng.randint(1, 3)
        fields = ", ".join(f"f{j}: {gen_field()}" for j in range(n_fields))
        q = "{ " + fields + " }"
        if rng.random() < 0.4:
            q += " | when(count(Input.value) > 2)"
        in_dir = _write_time_split(
            events_tl.df, ["_time", "_subsort"], str(tmp_path / f"in{qi}"), 3
        )
        stream = (
            spark.readStream.schema(events_tl.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = materialize_fenl(q, stream)
        sink = ExactlyOnceSink(str(tmp_path / f"out{qi}"), time_col="_time")
        sq = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck{qi}"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()

        batch = fenl(q, {"Input": events_tl})
        cols = [f"f{j}" for j in range(n_fields)]
        exp = {r["_subsort"]: tuple(r[c] for c in cols) for r in batch.collect()}
        got = {
            r["_subsort"]: tuple(r[c] for c in cols)
            for r in sink.read_output(spark).collect()
        }
        assert len(got) == len(exp), f"query {qi}: {q}"
        for sid, e in exp.items():
            g = got[sid]
            for i in range(n_fields):
                if e[i] is None:
                    assert g[i] is None or g[i] != g[i], (qi, q, sid, i, g[i])
                else:
                    assert g[i] == pytest.approx(e[i], rel=1e-12), (
                        qi, q, sid, i, g[i], e[i],
                    )


def test_chained_spec_validation(spark):
    """Misordered or dangling chained specs fail at build time with a
    clear message, not as an executor-side KeyError."""
    from kaskada_spark.streaming.state_machines import AggSpec, running_agg_stream

    df = (
        spark.readStream.format("rate").load()
        .selectExpr("timestamp AS _time", "value AS _subsort",
                    "CAST(value % 3 AS STRING) AS _key",
                    "CAST(value AS DOUBLE) AS v")
    )
    with pytest.raises(ValueError, match="inner-first"):
        running_agg_stream(
            df, [AggSpec("mean", "inner", "out"), AggSpec("sum", "v", "inner")]
        )
    with pytest.raises(ValueError, match="unknown column"):
        running_agg_stream(df, [AggSpec("sum", "nope", "out")])


def test_materialize_pipeline_rekeyed_agg_tree(spark, tmp_path):
    """Two-level aggregation tree: per-user sum -> re-key on a payload
    column -> per-group mean of the user sums, staged as TWO streaming
    queries with different grouping keys — matches batch row-for-row on
    settled rows."""
    import pandas as pd

    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    rows = []
    for i, (ent, grp) in enumerate(
        [("u1", "US"), ("u1", "US"), ("u2", "US"), ("u2", "DE"),
         ("u3", "DE"), ("u1", "US"), ("u3", "DE"), ("u2", "US")]
    ):
        rows.append((ent, grp, pd.Timestamp(2024, 5, 1, 12, i), i, float(i + 1)))
    pdf = pd.DataFrame(rows, columns=["key", "country", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    q = "{ m: Input.v | sum() | with_key(Input.country) | mean() }"
    batch = fenl(q, {"Input": tl})
    exp = {(r["_key"], r["_subsort"]): r["m"] for r in batch.collect()}

    in_dir = _write_time_split(tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {(r["_key"], r["_subsort"]): r["m"] for r in out.collect()}
    assert len(got) == len(exp), (sorted(got), sorted(exp))
    for k, e in exp.items():
        assert got[k] == pytest.approx(e, rel=1e-12), (k, got[k], e)


def test_materialize_tick_window_typed_value(spark, events_tl, tmp_path):
    """A STRING-typed latch under a calendar-tick window materializes
    live (typed state through the tick machine) — batch-identical."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl

    q = """
    { last_type: last(Input.event_type, window = since(daily())),
      n: count(Input.value, window = since(daily())) }
    """
    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = materialize_fenl(q, stream)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    sq = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    batch = fenl(q, {"Input": events_tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): (r["last_type"], r["n"])
        for r in batch.collect()
    }
    got = {
        (r["_key"], r["_time"], r["_subsort"]): (r["last_type"], r["n"])
        for r in sink.read_output(spark).collect()
    }
    # the final open window's boundary row is withheld until the
    # watermark closes it; everything settled must match
    missing = {k for k in exp if k not in got}
    max_t = max(k[1] for k in exp)
    for k in missing:
        assert k[1] >= max_t.replace(hour=0, minute=0, second=0), k
    for k, g in got.items():
        assert k in exp and g == exp[k], (k, g, exp.get(k))
    assert len(got) >= len(exp) - 32


def test_tick_boundary_rows_typed_via_running_machine(spark, events_tl, tmp_path):
    """The documented typed boundary-only path: tick_running_agg_stream
    filtered to the boundary sentinel == per-window typed latches, and
    it matches the batch tick lowering's boundary rows."""
    from kaskada_spark.operators.tick import TICK_SUBSORT
    from kaskada_spark.streaming.state_machines import AggSpec
    from kaskada_spark.streaming.ticks import tick_running_agg_stream
    from kaskada_spark.windows import Since, Tick
    from kaskada_spark.operators.tick import TICK_COL
    from kaskada_spark import daily

    # batch expectation: last(event_type) since daily(), AT tick rows
    tl = events_tl.with_ticks(daily())
    tl = tl.aggregate(
        "last", "event_type", window=Since(F.col(TICK_COL)), alias="lt"
    )
    exp = {
        (r["_key"], r["_time"]): r["lt"]
        for r in tl.df.filter(F.col(TICK_COL) & (F.col("_subsort") == TICK_SUBSORT)).collect()
    }
    assert exp

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = tick_running_agg_stream(
        stream, Tick("daily"), [AggSpec("last", "event_type", "lt")],
        tick_aliases={"lt"},
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.filter(F.col("_subsort") == TICK_SUBSORT)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["_key"], r["_time"]): r["lt"]
        for r in sink.read_output(spark).collect()
    }
    # settled boundaries match; the final boundary may be withheld
    for k, g in got.items():
        assert k in exp and g == exp[k], (k, g, exp.get(k))
    assert len(got) >= len(exp) - len({k[0] for k in exp})


def test_materialize_pipeline_tick_inner_chain(spark, events_tl, tmp_path):
    """`mean(sum(x, window = since(daily())))` — a tick-windowed INNER
    aggregate in a chain stages as two queries: the tick machine first
    (boundary rows injected), then the outer aggregate over its per-row
    output. Settled rows match batch."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    q = "{ m: mean(sum(Input.value, window = since(daily()))) }"
    batch = fenl(q, {"Input": events_tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in batch.collect()
    }

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in out.collect()
    }
    assert got, "no rows emitted"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        if e is None:
            assert g is None or g != g, (k, g)
        else:
            assert g == pytest.approx(e, rel=1e-12), (k, g, e)
    # settled fence: every batch row at-or-before the final boundary the
    # stream could close must be present (boundary rows beyond the final
    # watermark are withheld, never invented)
    max_t = max(k[1] for k in exp)
    missing = {k for k in exp if k not in got}
    for k in missing:
        assert k[1] >= max_t.replace(hour=0, minute=0, second=0), k


def test_materialize_pipeline_tick_rekeyed_field(spark, events_tl, tmp_path):
    """`{ s: <tick-windowed agg> | with_key(k) }` — the re-key drops the
    original grouping's boundary rows and re-injects the tick grid per
    NEW entity with null payload (batch _fn_with_key re-injection).
    Stages as tick machine + re-key + tick-injection machine; settled
    rows match batch."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    q = (
        "{ s: Input.value | sum(window = since(daily()))"
        " | with_key(Input.event_type) }"
    )
    batch = fenl(q, {"Input": events_tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["s"] for r in batch.collect()
    }

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["s"] for r in out.collect()
    }
    assert got, "no rows emitted"
    n_ticks = sum(1 for k in got if k[2] == 2**63 - 1)
    assert n_ticks > 0, "no re-injected boundary rows in the new grouping"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        if e is None:
            assert g is None or g != g, (k, g)
        else:
            assert g == pytest.approx(e, rel=1e-12), (k, g, e)
    # settled fence: boundary rows beyond the final watermark are
    # withheld, never invented
    max_t = max(k[1] for k in exp)
    missing = {k for k in exp if k not in got}
    for k in missing:
        assert k[1] >= max_t.replace(hour=0, minute=0, second=0), k


@pytest.mark.parametrize(
    "q",
    [
        # same-unit tick outer: closes at the inner stage's injected
        # boundary rows (batch merges the two grids into one row)
        "{ m: mean(sum(Input.value, window = since(daily())),"
        " window = since(daily())) }",
        # sliding tick outer over the same unit
        "{ m: sum(sum(Input.value, window = since(daily())),"
        " window = sliding(2, daily())) }",
        # stateless-cond outer, evaluated over the staged frame's
        # null-at-tick payload (tick rows never close the window)
        "{ m: mean(sum(Input.value, window = since(daily())),"
        " window = since(Input.value > 50)) }",
    ],
    ids=["since_same_unit", "sliding_same_unit", "since_stateless_cond"],
)
def test_materialize_pipeline_tick_inner_windowed_outer(
    spark, events_tl, tmp_path, q
):
    """A WINDOWED outer aggregate over a tick-windowed inner stages as
    tick machine -> windowed running machine; settled rows match batch
    (reference: windowed aggregations compose with any outer window,
    sparrow-main/tests/e2e/windowed_aggregation_tests.rs)."""
    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    batch = fenl(q, {"Input": events_tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in batch.collect()
    }

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(events_tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in out.collect()
    }
    assert got, "no rows emitted"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        if e is None:
            assert g is None or g != g, (k, g)
        else:
            assert g == pytest.approx(e, rel=1e-12), (k, g, e)
    # settled fence: boundary rows beyond the final watermark are
    # withheld, never invented
    max_t = max(k[1] for k in exp)
    missing = {k for k in exp if k not in got}
    for k in missing:
        assert k[1] >= max_t.replace(hour=0, minute=0, second=0), k


def test_materialize_pipeline_mixed_tick_units_diagnostic(
    spark, events_tl, tmp_path
):
    """Mixed calendar units between the inner window and a tick-unit
    outer window raise the one-unit diagnostic at pipeline-construction
    time (batch emits a second coincident boundary row for the coarser
    grid — a shape the staged machines do not reproduce)."""
    from kaskada_spark.fenl.compiler import FenlCompileError
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 1
    )
    stream = spark.readStream.schema(events_tl.df.schema).parquet(in_dir)
    q = (
        "{ m: mean(sum(Input.value, window = since(daily())),"
        " window = since(monthly())) }"
    )
    with pytest.raises(FenlCompileError, match="single calendar unit"):
        materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))


@pytest.mark.parametrize(
    "win",
    ["since(daily())", "sliding(2, daily())"],
    ids=["since_daily", "sliding_daily"],
)
def test_materialize_pipeline_rekeyed_tick_outer(spark, tmp_path, win):
    """Tick-unit outer window over a re-keyed chain: the boundary grid
    belongs to the NEW grouping, so stage 2 is a tick machine keyed by
    the new key — event rows carry the open window's running value,
    injected boundary rows the closing window's (batch with_ticks +
    Since/Sliding(tick) over the re-key). Settled rows match batch."""
    import pandas as pd

    from kaskada_spark.fenl import fenl
    from kaskada_spark.fenl.materialize import materialize_fenl_pipeline

    rows = []
    for i, (ent, grp) in enumerate(
        [("u1", "US"), ("u1", "US"), ("u2", "US"), ("u2", "DE"),
         ("u3", "DE"), ("u1", "US"), ("u3", "DE"), ("u2", "US")]
    ):
        rows.append(
            (ent, grp, pd.Timestamp(2024, 5, 1 + i // 3, 12, i), i, float(i + 1))
        )
    pdf = pd.DataFrame(rows, columns=["key", "country", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "key", "seq")

    q = (
        "{ m: sum(Input.v) | with_key(Input.country)"
        f" | mean(window = {win}) }}"
    )
    batch = fenl(q, {"Input": tl})
    exp = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in batch.collect()
    }

    in_dir = _write_time_split(
        tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    stream = (
        spark.readStream.schema(tl.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    pipe = materialize_fenl_pipeline(q, stream, str(tmp_path / "work"))
    out = pipe.run_available_now()
    got = {
        (r["_key"], r["_time"], r["_subsort"]): r["m"] for r in out.collect()
    }
    assert got, "no rows emitted"
    n_ticks = sum(1 for k in got if k[2] == 2**63 - 1)
    assert n_ticks > 0, "no boundary rows in the new grouping"
    for k, g in got.items():
        assert k in exp, f"unexpected row {k}"
        e = exp[k]
        if e is None:
            assert g is None or g != g, (k, g)
        else:
            assert g == pytest.approx(e, rel=1e-12), (k, g, e)
    max_t = max(k[1] for k in exp)
    missing = {k for k in exp if k not in got}
    for k in missing:
        assert k[1] >= max_t.replace(hour=0, minute=0, second=0), k


def test_mixture_sample_streaming_parity(spark, tmp_path):
    """mixture_sample is stateless (filter + generator explode over a
    pure hash of the row), so it runs UNCHANGED on a stream in append
    mode with no watermark/state — and, because the keep decision is a
    function of the row rather than of RNG/partition layout, the
    streamed output is row-identical to the batch run regardless of how
    micro-batches slice the input."""
    from kaskada_spark.operators.training import mixture_sample

    rows = [(i, 100 + i, ["a", "b", "c"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, _time long, source string")
    rates = {"a": 0.5, "b": 2.0, "c": 1.0}
    exp = sorted(
        (r["doc_id"], r["source"], r["copy"])
        for r in mixture_sample(df, rates).collect()
    )

    d = str(tmp_path / "in")
    df.repartition(1).sortWithinPartitions("doc_id").write.parquet(d)
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out_dir = str(tmp_path / "out")
    q = (
        mixture_sample(stream, rates)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["doc_id"], r["source"], r["copy"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == exp


def test_streaming_span_dup_filter(spark, tmp_path):
    """Online ExactSubstr annotator (streaming/spans.py): first arrival
    scores 0, an exact copy scores 1.0, a half-shared doc scores
    strictly between, a sub-w doc scores null, and a copy arriving
    beyond the horizon scores 0 again (snapshot state expired). Replay
    is idempotent, and a one-batch run over the in-horizon prefix
    matches the micro-batch replay (arrival-order determinism)."""
    import datetime as dt

    from kaskada_spark.streaming.spans import SpanDupFilter

    t0 = dt.datetime(2024, 1, 1)
    a = [100 + i for i in range(60)]
    rows = [
        ("d1", a, t0),
        ("d2", [5000 + i for i in range(60)], t0 + dt.timedelta(minutes=1)),
        ("d3", a, t0 + dt.timedelta(minutes=2)),                 # exact copy
        ("d4", a[:40] + [9000 + i for i in range(40)],
         t0 + dt.timedelta(minutes=3)),                          # half shared
        ("d5", [1, 2, 3, 4, 5], t0 + dt.timedelta(minutes=4)),   # < w tokens
        ("d7", [70000 + i for i in range(80)],
         t0 + dt.timedelta(minutes=40)),                         # rolls horizon
        ("d6", a, t0 + dt.timedelta(minutes=70)),                # expired copy
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, _time timestamp"
    )
    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 4)
    filt = SpanDupFilter(
        str(tmp_path / "out"), str(tmp_path / "state"), horizon="10 minutes"
    )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(filt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"]: r for r in filt.read_output(spark).collect()}
    assert len(got) == 7
    assert got["d1"]["dup_rate"] == 0.0
    assert got["d2"]["dup_rate"] == 0.0
    assert got["d3"]["dup_rate"] == 1.0                     # every fp seen
    assert 0.0 < got["d4"]["dup_rate"] < 1.0                # shared 40-run
    assert got["d4"]["n_dup_fp"] >= 1                       # winnow guarantee
    assert got["d5"]["n_fp"] == 0 and got["d5"]["dup_rate"] is None
    assert got["d7"]["dup_rate"] == 0.0
    assert got["d6"]["dup_rate"] == 0.0                     # state expired

    # one-batch run over the in-horizon prefix == micro-batch replay
    prefix = df.filter(F.col("doc_id").isin("d1", "d2", "d3", "d4", "d5"))
    one = SpanDupFilter(
        str(tmp_path / "one_out"), str(tmp_path / "one_state"),
        horizon="10 minutes",
    )
    one(prefix, 0)
    one_got = {r["doc_id"]: r for r in one.read_output(spark).collect()}
    for d in ("d1", "d2", "d3", "d4", "d5"):
        assert one_got[d]["dup_rate"] == got[d]["dup_rate"], d
        assert one_got[d]["n_fp"] == got[d]["n_fp"], d

    # replay idempotence: re-running epoch 0 from the same pre-state
    one(prefix, 0)
    again = {r["doc_id"]: r for r in one.read_output(spark).collect()}
    assert len(again) == 5
    assert again["d3"]["dup_rate"] == 1.0


def test_streaming_span_dup_drop_at(spark, tmp_path):
    """drop_at: rows at/above the threshold are filtered out of the
    sink instead of annotated (null-rate rows always pass)."""
    import datetime as dt

    from kaskada_spark.streaming.spans import SpanDupFilter

    t0 = dt.datetime(2024, 1, 1)
    a = [100 + i for i in range(60)]
    df = spark.createDataFrame(
        [
            ("d1", a, t0),
            ("d3", a, t0 + dt.timedelta(minutes=2)),
            ("d5", [1, 2, 3], t0 + dt.timedelta(minutes=3)),
        ],
        "doc_id string, tokens array<int>, _time timestamp",
    )
    filt = SpanDupFilter(
        str(tmp_path / "out"), str(tmp_path / "state"),
        horizon="1 hour", drop_at=0.5,
    )
    filt(df, 0)
    kept = {r["doc_id"] for r in filt.read_output(spark).collect()}
    assert kept == {"d1", "d5"}


@contextmanager
def _session_conf(spark, conf):
    """Temporarily set session confs (streaming providers are read at
    query START, so setting before .start() is sufficient)."""
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rocksdb_state_store_running_agg_equals_batch(spark, events_tl, tmp_path):
    """The per-key state machines run UNCHANGED on the RocksDB state
    store (session.ROCKSDB_STATE_CONF — the TB-scale state backend:
    off-heap state, changelog checkpoints) and produce the same rows as
    the batch engine. Exercises applyInPandasWithState under the
    RocksDB provider end to end, incl. checkpoint commit per batch."""
    from kaskada_spark.session import ROCKSDB_STATE_CONF

    in_dir = _write_time_split(
        events_tl.df, ["_time", "_subsort"], str(tmp_path / "in"), 3
    )
    with _session_conf(spark, ROCKSDB_STATE_CONF):
        sink = _run_stream(
            spark,
            in_dir,
            events_tl.df.schema,
            SPECS,
            str(tmp_path / "ck"),
            str(tmp_path / "out"),
        )
    _assert_matches_batch(sink, spark, _batch_expected(events_tl))


def test_rocksdb_state_store_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark state also lives happily in
    RocksDB: first-arrival dedup keeps the same representatives as the
    batch operator across micro-batches."""
    import datetime as dt

    from kaskada_spark.operators.dedup import exact_dedup
    from kaskada_spark.session import ROCKSDB_STATE_CONF
    from kaskada_spark.streaming.dedup import exact_dedup_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, f"content {i % 7}", t0 + dt.timedelta(minutes=i)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, _time timestamp")
    reps = {r["rep_id"] for r in exact_dedup(df, "doc_id", "text").collect()}

    in_dir = _write_time_split(df, ["_time"], str(tmp_path / "in"), 3)
    with _session_conf(spark, ROCKSDB_STATE_CONF):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        out = exact_dedup_stream(stream, text_col="text", watermark="3 hours")
        sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {r["doc_id"] for r in sink.read_output(spark).collect()}
    assert got == reps == set(range(7))


def test_streaming_training_pipeline_chunked_equals_batch(spark, sf_dir, tmp_path):
    """The pipeline with the context-chunking stage inserted (dedup ->
    quality -> tokenize -> CHUNK -> pack): streaming pack assignments
    over chunk rows match the batch composition of the same operators
    on an ordered replay. Chunk rows extend _subsort deterministically,
    so both engines see one total order."""
    from kaskada_spark.operators.dedup import exact_dedup
    from kaskada_spark.operators.text import quality_features, quality_score, words
    from kaskada_spark.operators.training import chunk_sequences, pack_sequences
    from kaskada_spark.sources.tokens import tokenize_df
    from kaskada_spark.streaming.pipeline import training_data_pipeline_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(secs=F.col("doc_id").cast("double"))).alias("_time"),
    )

    # batch twin, stage for stage
    reps = exact_dedup(docs, "doc_id", "text").select(F.col("rep_id").alias("doc_id"))
    deduped = docs.join(reps, "doc_id", "left_semi")
    staged = deduped.select(
        "doc_id", "text", "source", "_time", words(F.col("text")).alias("__w")
    )
    feats = quality_features(F.col("text"), w=F.col("__w"))
    kept = (
        staged.withColumn("__q", quality_score(F.col("text"), feats=feats))
        .filter(F.col("__q") >= 0.3)
        .select("doc_id", "text", "source", "_time")
    )
    chunked = chunk_sequences(tokenize_df(kept), max_len=64, overlap=16).withColumn(
        "_subsort", F.col("_subsort") * 1024 + F.col("chunk_id")
    )
    packed = pack_sequences(chunked, budget=256, segmented=False)
    exp = {
        (r["doc_id"], r["chunk_id"]): (r["source"], r["n_tok"], r["tokens_before"],
                                       r["pack_id"], r["pack_offset"])
        for r in packed.collect()
    }
    assert len(exp) > 50
    assert any(cid > 0 for _, cid in exp)  # chunking actually split docs

    in_dir = _write_time_split(docs, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = training_data_pipeline_stream(
        stream, budget=256, chunk_max_len=64, chunk_overlap=16
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="_time")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["doc_id"], r["chunk_id"]): (r["source"], int(r["n_tok"]), r["tokens_before"],
                                       r["pack_id"], r["pack_offset"])
        for r in sink.read_output(spark).collect()
    }
    exp_cast = {k: (v[0], int(v[1]), v[2], v[3], v[4]) for k, v in exp.items()}
    assert got == exp_cast


def test_streaming_pair_counts_equals_batch(spark, sf_dir, tmp_path):
    """Per-window adjacent-pair frequencies over the live stream match
    the same tumbling aggregation on the static frame (closed windows
    only), and the closed totals agree with the batch BPE kernel's
    counts restricted to those windows."""
    import datetime as dt

    from kaskada_spark.sources.tokens import tokenize_documents
    from kaskada_spark.streaming.pipeline import windowed_pair_counts

    toks = tokenize_documents(spark, sf_dir).select("_time", "tokens")
    exp = {
        (r["window_start"], r["t1"], r["t2"]): r["cnt"]
        for r in windowed_pair_counts(toks, window="1 minute").collect()
    }
    assert len(exp) > 100

    in_dir = _write_time_split(toks, ["_time"], str(tmp_path / "in"), 3)
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = windowed_pair_counts(stream, window="1 minute")
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="window_start")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["t1"], r["t2"]): r["cnt"]
        for r in sink.read_output(spark).collect()
    }
    max_t = toks.agg(F.max("_time")).collect()[0][0]
    wm = max_t - dt.timedelta(minutes=2)
    closed = {
        k: v for k, v in exp.items() if k[0] + dt.timedelta(minutes=1) <= wm
    }
    assert len(closed) > 100
    for k, v in closed.items():
        assert got.get(k) == v, (k, got.get(k), v)
    for k in got:
        assert k in exp, f"invented window row {k}"
