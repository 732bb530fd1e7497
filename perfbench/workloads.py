"""The closed-loop workloads: one client each, and the next op starts
only after the previous one has finished.

- ``batch_features``: a fixed rotation of events-only Fenl/Timeline
  queries from ``__spark_entry__.queries()``, each forced with a
  ``noop`` write. An op is one query: plan build plus execution.
- ``stream_buffered``: a replay through ``shift_to_stream`` into an
  ``ExactlyOnceSink``; few entities, many rows each, rows held in state
  across micro-batches until the watermark passes their target.

A streaming op is one micro-batch (Spark's ``triggerExecution``). The
client adds the next input file only after the previous micro-batch has
committed, so the run can stop between two micro-batches at the time
limit; an ``availableNow`` run could only stop by aborting one.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass
import glob
import importlib
import os
import queue
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as entry
from kaskada_spark import qfr
from kaskada_spark.sinks.exactly_once import ExactlyOnceSink
from kaskada_spark.streaming.shift import shift_to_stream
from kaskada_spark.timeline import Timeline

import checks
import inputs

# the package re-exports the function under the subpackage's name, so
# take the module itself from the import system
fenl_mod = importlib.import_module("kaskada_spark.fenl")

# ----------------------------------------------------------------------
# shared pieces
# ----------------------------------------------------------------------


@dataclass
class Op:
    name: str
    ms: float
    ok: bool
    rows: int
    traced: bool


def _metric_sum(records: list[dict], label_prefix: str, key: str) -> float:
    return float(
        sum(
            r["metrics"][key]["value"]
            for r in records
            if r.get("type") == "activity"
            and r["label"].startswith(label_prefix)
            and key in r["metrics"]
        )
    )


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


class _Timed:
    """Wrap a callable so each call is a span of ``tracer``."""

    def __init__(self, fn, tracer, name: str):
        self.fn, self.tracer, self.name = fn, tracer, name

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name):
            return self.fn(*args, **kwargs)


# ----------------------------------------------------------------------
# batch_features
# ----------------------------------------------------------------------

#: running aggregations, since(daily()) and since(<predicate>) windows,
#: a sliding window, a with_key + lookup composition and the batch CEP
#: lowering; each reads only the events table and takes well under a
#: second at this size, so a short run still times tens of ops. Op
#: latencies cluster by query, so the mix is chosen for steady order
#: statistics: an odd count puts the median inside the middle query's
#: cluster, and the two slowest queries (lookup and CEP) sit close
#: together, so the tail falls inside their shared cluster instead of
#: in the gap below one lone slow query.
ROTATION = (
    "fenl_running",
    "fenl_since",
    "since_daily_sum",
    "sliding_rows",
    "running_stats",
    "fenl_lookup_rekey",
    "cep_funnel",
)


class BatchFeatures:
    name = "batch_features"
    rows = 20_000
    users = 1_000
    days = 30
    warm_passes = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.data_dir = os.path.join(work, "data")
        self.queries = entry.queries()
        self.layer_records: list[dict] = []

    def settings(self) -> dict:
        return {"rows": self.rows, "users": self.users, "days": self.days,
                "warm_passes": self.warm_passes, "rotation": list(ROTATION)}

    def setup(self) -> None:
        inputs.write_events(
            os.path.join(self.data_dir, "events.parquet"),
            self.seed, self.rows, self.users, self.days,
        )
        for _ in range(self.warm_passes):  # the same plan shapes, untimed
            for name in ROTATION:
                self.queries[name](self.spark, self.data_dir).write.format(
                    "noop"
                ).mode("overwrite").save()

    def _op(self, name: str, traced: bool, op_id: int) -> Op:
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(op_id):
                    with self.tracer.span("plan"):
                        df = self.queries[name](self.spark, self.data_dir)
                    with self.tracer.span("operators") as sid:
                        records = qfr.flight_record(df)
                    exec_ms = self.tracer.duration_ms(sid)
                self.layer_records.append(self._layers(records, exec_ms))
            else:
                df = self.queries[name](self.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            print(f"perfbench: {name} failed: {exc!r}", flush=True)
            ok = False
        return Op(name, (time.perf_counter() - t0) * 1e3, ok, self.rows, traced)

    @staticmethod
    def _layers(records: list[dict], exec_ms: float) -> dict:
        acts = [r for r in records if r.get("type") == "activity"]
        return {
            "sources.scan_ms": _metric_sum(records, "Scan", "scanTime"),
            "sources.rows_read": _metric_sum(records, "Scan", "numOutputRows"),
            "operators.exec_ms": exec_ms,
            "operators.shuffle_bytes": _metric_sum(records, "Exchange", "dataSize"),
            "operators.exchanges": float(
                sum(1 for a in acts if a["label"] == "Exchange")
            ),
            "operators.spill_bytes": _metric_sum(records, "", "spillSize"),
            "streaming.python_run_ms": _metric_sum(records, "", "pythonTotalTime"),
            "streaming.python_boot_ms": _metric_sum(records, "", "pythonBootTime"),
            "streaming.python_init_ms": _metric_sum(records, "", "pythonInitTime"),
            "streaming.python_bytes_in": _metric_sum(records, "", "pythonDataSent"),
            "streaming.python_bytes_out": _metric_sum(records, "", "pythonDataReceived"),
        }

    def run(self, seconds: float) -> list[Op]:
        """Whole rotations while time remains, so every run times the
        same mix of queries. In the traced run, rotations alternate
        between traced and untraced, which gives the tracing overhead."""
        ops: list[Op] = []
        start = time.perf_counter()
        rotation = 0
        real_fenl = fenl_mod.fenl
        try:
            while time.perf_counter() - start < seconds:
                traced = self.tracer.enabled and rotation % 2 == 0
                fenl_mod.fenl = _Timed(real_fenl, self.tracer, "fenl") if traced else real_fenl
                for name in ROTATION:
                    ops.append(self._op(name, traced, len(ops)))
                rotation += 1
        finally:
            fenl_mod.fenl = real_fenl
        return ops

    def stop(self) -> None:
        pass

    def check(self, ops: list[Op]) -> list[str]:
        """Each query once against its DuckDB twin in ``oracle_sql()``."""
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        path = os.path.join(self.data_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        failures = []
        try:
            for name in ROTATION:
                got = checks.checksum(
                    self.queries[name](self.spark, self.data_dir).toPandas()
                )
                want = checks.checksum(con.sql(oracles[name]).df())
                if got != want:
                    failures.append(f"{name}: spark {got} != oracle {want}")
        finally:
            con.close()
        return failures

    def layer_metrics(self) -> dict[str, float]:
        keys = self.layer_records[0].keys() if self.layer_records else []
        out = {k: _mean([r[k] for r in self.layer_records]) for k in keys}
        n_traced = len(self.layer_records)
        out["fenl.compile_ms"] = self.tracer.total_ms("fenl") / max(n_traced, 1)
        return out


# ----------------------------------------------------------------------
# stream_buffered
# ----------------------------------------------------------------------


class _Progress(StreamingQueryListener):
    """Queues each query's progress events, in micro-batch order."""

    def __init__(self):
        self.queues: dict[str, queue.Queue] = {}

    def queue_for(self, query_id: str) -> queue.Queue:
        return self.queues.setdefault(query_id, queue.Queue())

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.queue_for(str(event.progress.id)).put(event.progress)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class _TracedSink:
    """Sink wrapper for traced micro-batches: forces the micro-batch
    (the stateful machine) before the sink runs, so the two show as
    separate spans, then reads the batch's plan metrics."""

    def __init__(self, sink: ExactlyOnceSink, tracer):
        self.sink, self.tracer = sink, tracer
        self.query = None
        self.enabled = False
        self.batches: list[dict] = []

    def __call__(self, df, batch_id: int) -> None:
        if not self.enabled:
            self.sink(df, batch_id)
            return
        with self.tracer.span("streaming") as s1:
            df.persist()
            rows = df.count()
        with self.tracer.span("sinks") as s2:
            self.sink(df, batch_id)
        df.unpersist()
        records = qfr.streaming_flight_record(self.query)
        self.batches.append(
            {
                "batch_id": batch_id,
                "rows_written": rows,
                "streaming_ms": self.tracer.duration_ms(s1),
                "sinks_ms": self.tracer.duration_ms(s2),
                **BatchFeatures._layers(records, 0.0),
            }
        )


class StreamBuffered:
    """``shift_to_stream`` replayed into an ``ExactlyOnceSink``, one input
    file per micro-batch; few entities, many rows each, rows held in
    state across micro-batches until the watermark passes their target."""

    name = "stream_buffered"
    warm_files = 3
    gen = {"file_seconds": 600, "rows_per_file": 1_500, "n_entities": 10,
           "active_per_file": 10, "shift_s": 1_800}
    schema = T.StructType(
        [
            T.StructField("_time", T.TimestampType()),
            T.StructField("_subsort", T.LongType()),
            T.StructField("_key", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("due", T.TimestampType()),
        ]
    )
    output_columns = ("_time", "_subsort", "_key", "event_type", "value", "due")

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.listener = _Progress()
        self.fed: list[str] = []
        self.progress: list = []

    def settings(self) -> dict:
        return dict(self.gen, warm_files=self.warm_files)

    def _start(self, tag: str, traced: bool = False):
        """Start a replay query under ``work/tag``: input files go to
        ``in``, the checkpoint to ``ck``, the sink's output to ``out``."""
        root = os.path.join(self.work, tag)
        os.makedirs(os.path.join(root, "in"))
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(root, "in"))
        )
        out = shift_to_stream(stream, F.col("due"))
        sink = ExactlyOnceSink(os.path.join(root, "out"), time_col="_time")
        target = _TracedSink(sink, self.tracer) if traced else sink
        query = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ck"))
            .foreachBatch(target)
            .start()
        )
        return query, root, sink, target

    @staticmethod
    def _feed(query, root: str, staged: str, batch_id: int) -> str:
        """Add one file as micro-batch ``batch_id``; block until that
        micro-batch commits. Returns the file's new path.

        The commit shows as a file in the checkpoint, which a cheap
        stat sees within milliseconds; the progress event reaches the
        listener 100-250 ms later, and waiting for it would add that
        delay between every two micro-batches."""
        path = os.path.join(root, "in", os.path.basename(staged))
        os.replace(staged, path)
        commit = os.path.join(root, "ck", "commits", str(batch_id))
        next_check = time.monotonic() + 1.0
        while not os.path.exists(commit):
            if time.monotonic() >= next_check:
                if not query.isActive:
                    raise RuntimeError(str(query.exception() or "query stopped"))
                next_check += 1.0
            time.sleep(0.002)
        return path

    def _progress(self, query, n: int) -> list:
        """Progress events of the query's first ``n`` micro-batches."""
        q = self.listener.queue_for(str(query.id))
        return [q.get(timeout=60) for _ in range(n)]

    def setup(self) -> None:
        warm = inputs.StreamFiles(os.path.join(self.work, "staged_warm"),
                                  self.seed + 1, **self.gen)
        self.files = inputs.StreamFiles(os.path.join(self.work, "staged"),
                                        self.seed, **self.gen)
        self.spark.streams.addListener(self.listener)
        # warm-up: a separate query with the same plan, untimed
        query, root, _, _ = self._start("warm")
        for i in range(self.warm_files):
            self._feed(query, root, warm.next(), i)
        self._progress(query, self.warm_files)
        query.stop()
        self.query, self.root, self.sink, target = self._start(
            "timed", self.tracer.enabled
        )
        self.wrapper = target if self.tracer.enabled else None
        if self.wrapper is not None:
            self.wrapper.query = self.query

    def run(self, seconds: float) -> list[Op]:
        """Micro-batches while time remains; each input file is made
        just before it is fed. An op's latency is Spark's
        ``triggerExecution`` of its micro-batch, read from the progress
        events once the loop ends."""
        traced: list[bool] = []
        failed = False
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            i = len(traced)
            traced.append(self.wrapper is not None and i % 2 == 0)
            if self.wrapper is not None:
                self.wrapper.enabled = traced[i]
            staged = self.files.next()
            with self.tracer.op(i) if traced[i] else contextlib.nullcontext():
                try:
                    self.fed.append(self._feed(self.query, self.root, staged, i))
                except RuntimeError as exc:
                    print(f"perfbench: micro-batch {i} failed: {exc}", flush=True)
                    failed = True
                    break
        self.progress = self._progress(self.query, len(self.fed))
        ops = [
            Op("batch", float(p.durationMs["triggerExecution"]), True,
               int(p.numInputRows), t)
            for p, t in zip(self.progress, traced)
        ]
        if failed:
            ops.append(Op("batch", float("inf"), False, 0, traced[-1]))
        return ops

    def stop(self) -> None:
        self.query.stop()
        self.spark.streams.removeListener(self.listener)

    def _sink_output(self) -> pd.DataFrame:
        files = sorted(glob.glob(os.path.join(self.sink.out_dir, "batch_id=*", "*.parquet")))
        return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)

    def _rows_out(self) -> list[int]:
        """Rows the sink wrote per micro-batch, from its lineage."""
        out = []
        for p in self.progress:
            files = glob.glob(
                os.path.join(self.sink.lineage_dir, f"batch_id={p.batchId}", "*.parquet")
            )
            out.append(int(sum(pq.read_table(f)["n_rows"].to_numpy().sum() for f in files)))
        return out

    def check(self, ops: list[Op]) -> list[str]:
        """Sink output against batch ``shift_to`` over the same files, cut
        at the watermark of the last micro-batch: rows due later are
        still held in state."""
        wm = pd.Timestamp(self.progress[-1].eventTime["watermark"])
        batch_df = self.spark.read.schema(self.schema).parquet(*self.fed)
        want_df = Timeline(batch_df).shift_to(F.col("due")).df.filter(
            F.col("_time") <= F.lit(wm.to_pydatetime())
        )
        cols = self.output_columns
        want = checks.checksum(want_df.select(*cols).toPandas())
        got = checks.checksum(self._sink_output()[list(cols)])
        return [] if got == want else [f"{self.name}: sink {got} != batch {want}"]

    def layer_metrics(self) -> dict[str, float]:
        progs = self.progress
        ops_state = [p.stateOperators[0] for p in progs if p.stateOperators]
        rows_in = [int(p.numInputRows) for p in progs]
        rows_out = self._rows_out()
        held, held_series = 0, []
        for i, o in zip(rows_in, rows_out):
            held += i - o
            held_series.append(held)
        traced = self.wrapper.batches if self.wrapper else []
        py = {
            k: _mean([b[k] for b in traced])
            for k in (
                "streaming.python_run_ms", "streaming.python_boot_ms",
                "streaming.python_init_ms", "streaming.python_bytes_in",
                "streaming.python_bytes_out",
            )
        }
        entities = len(self._entities_seen())
        last = ops_state[-1] if ops_state else None
        self.series = {
            "rows_in": rows_in, "rows_out": rows_out, "held_rows": held_series,
            "state_rows": [s.numRowsTotal for s in ops_state],
            "state_bytes": [s.memoryUsedBytes for s in ops_state],
        }
        return {
            **py,
            "streaming.rows_out_per_in": sum(rows_out) / max(sum(rows_in), 1),
            "streaming.trigger_overhead_ms": _mean(
                [p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)
                 for p in progs]
            ),
            "streaming.state_rows": float(last.numRowsTotal if last else 0),
            "streaming.state_rows_per_entity": (
                float(last.numRowsTotal) / entities if last and entities else 0.0
            ),
            "streaming.held_rows_first": float(held_series[0] if held_series else 0),
            "streaming.held_rows": float(held_series[-1] if held_series else 0),
            "streaming.state_bytes": float(last.memoryUsedBytes if last else 0),
            "streaming.state_commit_ms": _mean([s.commitTimeMs for s in ops_state]),
            "streaming.state_update_ms": _mean([s.allUpdatesTimeMs for s in ops_state]),
            "streaming.exec_ms": _mean([b["streaming_ms"] for b in traced]),
            "sinks.call_ms": _mean([b["sinks_ms"] for b in traced]),
            "sinks.rows_written": _mean([float(r) for r in rows_out]),
        }

    def _entities_seen(self) -> set:
        keys: set = set()
        for f in self.fed:
            keys.update(pq.read_table(f, columns=["_key"])["_key"].to_pylist())
        return keys


WORKLOADS = {w.name: w for w in (BatchFeatures, StreamBuffered)}
