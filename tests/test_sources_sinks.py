"""Source/sink parity: CSV path source, inline CSV, sink formats
(reference sources: prepare.rs:51-76; sinks: execute/output.rs:21-26,
destinations.proto:10-16)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from kaskada_spark.sinks.exactly_once import ExactlyOnceSink
from kaskada_spark.sources.readers import read_csv, read_inline_csv, read_table
from kaskada_spark.timeline import Timeline

INLINE = """time,key,m,n
1996-12-19T16:39:57,A,5,10
1996-12-19T16:40:57,A,8,3
1996-12-19T16:41:57,B,23,1
"""


def test_inline_csv_roundtrip(spark):
    df = read_inline_csv(spark, INLINE)
    assert df.count() == 3
    tl = Timeline.from_events(df, time_col="time", key_col="key")
    out = tl.sum("m", alias="s").df
    rows = {(r._key, r.m): r.s for r in out.collect()}
    assert rows[("A", 8)] == 13
    assert rows[("B", 23)] == 23


def test_csv_path_source(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write(INLINE)
    df = read_csv(spark, p)
    assert df.count() == 3
    assert set(df.columns) == {"time", "key", "m", "n"}
    # explicit schema path skips inference
    df2 = read_csv(spark, p, schema="time timestamp, key string, m int, n int")
    assert df2.schema["m"].dataType.simpleString() == "int"


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` starts, by job group."""
    sc = spark.sparkContext
    group, marker = (f"test-{uuid.uuid4().hex}" for _ in range(2))
    sc.setJobGroup(group, group)
    try:
        fn()
        # job starts reach the status tracker through an ordered,
        # asynchronous listener bus: once a later marker job shows up,
        # every job fn() started has been recorded
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker)
    return tracker.getJobIdsForGroup(group)


def test_read_table_reuses_schema_until_files_change(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    first = []
    assert _job_ids(spark, lambda: first.append(read_table(spark, str(tmp_path), "t")))
    again = []
    assert _job_ids(spark, lambda: again.append(read_table(spark, str(tmp_path), "t"))) == []
    assert again[0].schema == first[0].schema
    assert sorted(again[0].collect()) == sorted(first[0].collect())

    pq.write_table(pa.table({"k": [3], "v": ["c"], "w": [1.5]}), path)
    changed = read_table(spark, str(tmp_path), "t")
    assert changed.columns == ["k", "v", "w"]
    assert [tuple(r) for r in changed.collect()] == [(3, "c", 1.5)]


def test_read_table_missing_path_raises_like_spark(spark, tmp_path):
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(tmp_path / "nope.parquet"))
    with pytest.raises(type(plain.value)):
        read_table(spark, str(tmp_path), "nope")


def test_get_spark_turns_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"  # the fixture is a get_spark() session
    assert not is_debugging_enabled()
    # a static conf: only a new JVM can take another value
    code = (
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "from kaskada_spark.session import get_spark\n"
        f"s = get_spark(master='local[1]', extra_conf={{{key!r}: 'true'}})\n"
        f"print(s.conf.get({key!r}), is_debugging_enabled())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert out.split()[-2:] == ["true", "True"]


def test_csv_sink_roundtrip(spark, tmp_path):
    src = read_inline_csv(spark, INLINE)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="time", fmt="csv")
    sink(src, batch_id=0)
    sink(src, batch_id=0)  # replay overwrites, no duplicates
    back = sink.read_output(spark)
    assert back.count() == 3
    lineage = sink.read_lineage(spark)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == 3


def _within(seconds, fn):
    """Run ``fn()`` in a daemon thread; fail if it has not returned after
    ``seconds`` (a stuck call is left behind), else re-raise its error."""
    err = []

    def run():
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds} s"
    if err:
        raise err[0]


def _skewed_batch(spark):
    """10 partitions of 400 ids: partition 0 keeps all 400 rows, 1-4
    keep 10 each, 5-9 are empty (no shuffle, so the layout is fixed)."""
    df = spark.range(0, 4000, 1, 10).filter(
        (F.col("id") < 400) | ((F.col("id") < 2000) & (F.col("id") % 40 == 0))
    )
    return df.withColumn("time", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")))


LINEAGE_TIMED = (
    "struct<partition:int,n_rows:bigint,min_event_time:timestamp,"
    "max_event_time:timestamp,batch_id:int>"
)
LINEAGE_UNTIMED = "struct<partition:int,n_rows:bigint,batch_id:int>"


def test_sink_lineage_exact_counts_and_batch_range(spark, tmp_path):
    df = _skewed_batch(spark)
    assert df.rdd.getNumPartitions() == 10
    want = {
        r["p"]: r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()
    }
    assert want == {0: 400, 1: 10, 2: 10, 3: 10, 4: 10}
    lo, hi = df.agg(F.min("time"), F.max("time")).collect()[0]

    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="time")
    sink(df, 3)
    lin = spark.read.parquet(f"{sink.lineage_dir}/batch_id=3")
    assert lin.schema.simpleString() == LINEAGE_TIMED
    rows = lin.collect()
    assert {r["partition"]: r["n_rows"] for r in rows} == want
    assert len(rows) == len(want)
    assert all((r["min_event_time"], r["max_event_time"]) == (lo, hi) for r in rows)
    assert all(r["batch_id"] == 3 for r in rows)
    # the output keeps the input's columns: no helper column leaks out
    out = spark.read.parquet(f"{sink.out_dir}/batch_id=3")
    assert [(f.name, f.dataType) for f in out.schema] == [(f.name, f.dataType) for f in df.schema]
    assert out.count() == sum(want.values())

    # a TIMESTAMP_NTZ time column gives the same UTC lineage range
    ntz = ExactlyOnceSink(str(tmp_path / "out_ntz"), time_col="time")
    ntz(df.withColumn("time", F.col("time").cast("timestamp_ntz")), 1)
    lin = spark.read.parquet(f"{ntz.lineage_dir}/batch_id=1")
    assert lin.schema.simpleString() == LINEAGE_TIMED
    assert {(r["min_event_time"], r["max_event_time"]) for r in lin.collect()} == {(lo, hi)}

    untimed = ExactlyOnceSink(str(tmp_path / "out2"))
    untimed(df, 0)
    lin = spark.read.parquet(f"{untimed.lineage_dir}/batch_id=0")
    assert lin.schema.simpleString() == LINEAGE_UNTIMED
    assert {r["partition"]: r["n_rows"] for r in lin.collect()} == want


def test_sink_runs_one_job_per_call(spark, tmp_path):
    df = _skewed_batch(spark)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="time")
    assert len(_job_ids(spark, lambda: sink(df, 0))) == 1
    assert len(_job_ids(spark, lambda: sink(df, 0))) == 1  # replay


def test_sink_empty_batches_leave_zero_row_lineage(spark, tmp_path):
    schema = "id long, time timestamp"
    empties = {
        0: spark.range(5).withColumn("time", F.current_timestamp()).filter(F.lit(False)),
        1: spark.createDataFrame(spark.sparkContext.emptyRDD(), schema),
    }
    assert empties[1].rdd.getNumPartitions() == 0
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="time")
    for batch_id, df in empties.items():
        _within(120, lambda: sink(df, batch_id))
        files = glob.glob(f"{sink.lineage_dir}/batch_id={batch_id}/*.parquet")
        assert len(files) == 1
        assert pq.read_table(files[0]).num_rows == 0
    assert sink.read_output(spark).count() == 0


def test_sink_failed_write_raises_without_lineage(spark, tmp_path):
    df = spark.range(0, 100, 1, 4).withColumn(
        "v", F.when(F.col("id") == 42, F.raise_error(F.lit("boom"))).otherwise(F.lit("ok"))
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    with pytest.raises(Exception, match="boom"):
        _within(120, lambda: sink(df, 5))
    assert not os.path.exists(f"{sink.lineage_dir}/batch_id=5")
    # a failed replay of a committed batch: the overwrite has dropped the
    # old output, and the old lineage goes with it
    sink(df.filter(F.col("id") != 42), 6)
    assert os.path.exists(f"{sink.lineage_dir}/batch_id=6")
    with pytest.raises(Exception, match="boom"):
        _within(120, lambda: sink(df, 6))
    assert not os.path.exists(f"{sink.lineage_dir}/batch_id=6")


def test_sink_replay_leaves_one_lineage_file(spark, tmp_path):
    df = _skewed_batch(spark)
    sink = ExactlyOnceSink(str(tmp_path / "out"), time_col="time")
    sink(df, 2)
    sink(df, 2)
    files = glob.glob(f"{sink.lineage_dir}/batch_id=2/*.parquet")
    assert len(files) == 1
    assert pq.read_table(files[0])["n_rows"].to_pylist() == [400, 10, 10, 10, 10]
    assert sink.read_output(spark).count() == 440


def test_avro_source_end_to_end(spark, tmp_path):
    """read_avro works WITHOUT the spark-avro jar: sync-marker block
    index + pure-Python range decode (avro_codec.py), distributed over
    block splits. Uses the north-rule sequence shape (doc_id/tokens/
    n_tok/source) plus a logical timestamp."""
    from kaskada_spark.sources.avro_codec import write_container
    from kaskada_spark.sources.readers import read_avro

    schema = {
        "type": "record",
        "name": "Seq",
        "fields": [
            {"name": "doc_id", "type": "string"},
            {"name": "tokens", "type": {"type": "array", "items": "int"}},
            {"name": "n_tok", "type": "int"},
            {"name": "source", "type": ["null", "string"]},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    rows = [
        {
            "doc_id": f"d{i:04d}",
            "tokens": [i, i + 1, i + 2][: 1 + i % 3],
            "n_tok": 1 + i % 3,
            "source": None if i % 5 == 0 else f"s{i % 3}",
            "ts": 1_600_000_000_000_000 + i * 60_000_000,
        }
        for i in range(200)
    ]
    d = tmp_path / "avro_in"
    d.mkdir()
    # two files -> two decode tasks (files are the parallelism unit)
    (d / "a.avro").write_bytes(write_container(schema, rows[:120]))
    (d / "b.avro").write_bytes(write_container(schema, rows[120:], codec="null"))

    df = read_avro(spark, str(d))
    got = {r["doc_id"]: r for r in df.collect()}
    assert len(got) == 200
    assert got["d0003"].tokens == [3, 4, 5, 6][:1 + 3 % 3]
    assert got["d0000"].source is None and got["d0001"].source == "s1"
    import datetime as dt

    assert got["d0001"].ts == dt.datetime(2020, 9, 13, 12, 27, 40)
    # column-pruned projection + count survive the mapInPandas boundary
    assert df.selectExpr("sum(n_tok) as s").collect()[0].s == sum(
        r["n_tok"] for r in rows
    )


def test_iceberg_exactly_once_sink_gated(spark, tmp_path):
    """REAL Iceberg round-trip for the exactly-once sink + bucketed
    layout (the north rule's table format) — runs only when the Iceberg
    runtime jar is on the classpath; otherwise skipped with the gate
    named (no Iceberg jars in the sandbox image).

    With the jar present: a micro-batch appends atomically with its
    epoch id stamped into the snapshot summary, a REPLAYED epoch is a
    no-op (exactly-once), and the table carries the bucket(entity)
    hidden-partition spec."""
    from kaskada_spark.sinks.exactly_once import IcebergExactlyOnceSink
    from kaskada_spark.sources.readers import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")

    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    sink = IcebergExactlyOnceSink("it.db.events_out", bucket_col="_key")

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "A", 1.0), ("2024-01-01 00:01:00", "B", 2.0)],
        "_time string, _key string, value double",
    ).withColumn("_time", F.col("_time").cast("timestamp"))
    sink(df, 0)
    assert sink.read_output(spark).count() == 2
    sink(df, 0)  # replayed epoch: atomic skip, no duplicates
    assert sink.read_output(spark).count() == 2
    sink(df, 1)  # new epoch appends
    assert sink.read_output(spark).count() == 4
    parts = spark.sql("DESCRIBE TABLE EXTENDED it.db.events_out").collect()
    assert any("bucket" in str(r).lower() for r in parts)


def test_kafka_source_gated(spark):
    """Kafka source (the reference's Pulsar-stream equivalent in Spark
    idiom): without the connector jar the call raises a RuntimeError
    naming the --packages flag; with it, the plan builds (no broker
    contact happens at plan time)."""
    from pyspark.sql import types as T

    from kaskada_spark.sources.readers import read_kafka_stream

    schema = T.StructType([T.StructField("doc_id", T.StringType())])
    try:
        df = read_kafka_stream(spark, "localhost:9092", "topic", schema)
        assert df.isStreaming and "doc_id" in df.columns
    except RuntimeError as e:
        assert "spark-sql-kafka" in str(e)


def test_feature_store_sink(spark, tmp_path):
    """Redis-style feature sink (reference destinations.proto Redis):
    each batch reduces to latest-per-entity on the executors and SETs
    key/values via an injected client (file-backed fake here — the
    sandbox has no redis; the default factory raises a clear error)."""
    import datetime as dt
    import glob
    import json
    import os
    import uuid

    from kaskada_spark.sinks.feature_store import FeatureStoreSink, _default_client_factory

    store_dir = str(tmp_path / "store")
    os.makedirs(store_dir)

    class FileClient:
        def __init__(self):
            self.path = os.path.join(store_dir, f"{uuid.uuid4().hex}.jsonl")

        def set(self, key, value):
            with open(self.path, "a") as f:
                f.write(json.dumps({"k": key, "v": value}) + "\n")

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        ("A", t0, 1, 10.0),
        ("A", t0.replace(minute=5), 2, 20.0),   # latest for A
        ("B", t0, 3, 7.0),
    ]
    df = spark.createDataFrame(rows, "_key string, _time timestamp, _subsort long, score double")
    sink = FeatureStoreSink("_key", ["score"], client_factory=FileClient)
    sink(df, batch_id=0)
    sink(df, batch_id=0)  # replay: same keys, same values (idempotent)

    written = {}
    for p in glob.glob(os.path.join(store_dir, "*.jsonl")):
        for line in open(p):
            rec = json.loads(line)
            written[rec["k"]] = json.loads(rec["v"])
    assert written["kaskada:A"] == {"score": 20.0}
    assert written["kaskada:B"] == {"score": 7.0}

    with pytest.raises(RuntimeError, match="redis"):
        _default_client_factory()


def test_bucketed_layout_removes_entity_shuffles(spark, tmp_path):
    """Entity-bucketed tables (the prepare-once layout): same-bucketed
    joins AND per-entity Window aggregations plan with ZERO exchanges."""
    import pandas as pd

    from kaskada_spark.sources.bucketing import (
        read_bucketed_timeline,
        write_bucketed_table,
    )

    t0 = pd.Timestamp(2024, 1, 1)
    rows = [
        (k, t0 + pd.Timedelta(minutes=i), k * 100 + i, float(k * 10 + i))
        for k in range(20)
        for i in range(10)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "time", "seq", "v"])
    tl = Timeline.from_events(spark.createDataFrame(pdf), "time", "k", "seq")

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(tl, "bt_a", 8)
        write_bucketed_table(tl, "bt_b", 8)
        a = read_bucketed_timeline(spark, "bt_a")
        b = read_bucketed_timeline(spark, "bt_b")

        # co-located equi-join on the bucket key: zero exchanges
        right = b.df.groupBy("_key").agg(F.sum("v").alias("v_tot"))
        j = a.df.join(right, on=["_key"])
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert jplan.count("Exchange ") == 0, jplan
        assert j.count() == 200

        agg = a.sum("v", alias="s").df
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert aplan.count("Exchange ") == 0, aplan
        # values still correct vs the unbucketed lowering
        exp = {r["seq"]: r["s"] for r in tl.sum("v", alias="s").df.collect()}
        got = {r["seq"]: r["s"] for r in agg.collect()}
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_decode_avro_messages_batch_and_stream(spark, tmp_path):
    """Message-payload Avro decode (the Pulsar/Kafka per-message shape,
    no container framing): binary value column -> typed columns, with
    metadata passthrough, identical batch and streaming (stateless map,
    watermark passes through)."""
    import datetime as dt
    import json

    from kaskada_spark.sources.avro_codec import decode_datum, encode_datum
    from kaskada_spark.sources.readers import decode_avro_messages

    schema = {
        "type": "record",
        "name": "Seq",
        "fields": [
            {"name": "doc_id", "type": "string"},
            {"name": "tokens", "type": {"type": "array", "items": "int"}},
            {"name": "n_tok", "type": "int"},
            {"name": "source", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"doc_id": "a", "tokens": [1, 2, 3], "n_tok": 3, "source": "web"},
        {"doc_id": "b", "tokens": [], "n_tok": 0, "source": None},
        {"doc_id": "c", "tokens": [7, 7], "n_tok": 2, "source": "books"},
    ]
    t0 = dt.datetime(2024, 1, 1)
    msgs = [
        (f"k{i}", t0 + dt.timedelta(seconds=i), encode_datum(schema, r))
        for i, r in enumerate(recs)
    ]
    df = spark.createDataFrame(
        msgs, "key string, ts timestamp, value binary"
    )
    # payloads really are bare datums (roundtrip through the codec)
    assert decode_datum(schema, msgs[1][2]) == recs[1]

    out = decode_avro_messages(
        df, json.dumps(schema), passthrough=("key", "ts")
    )
    assert out.columns == ["key", "ts", "doc_id", "tokens", "n_tok", "source"]
    got = {r["doc_id"]: r for r in out.collect()}
    for i, r in enumerate(recs):
        g = got[r["doc_id"]]
        assert list(g["tokens"] or []) == r["tokens"]
        assert g["n_tok"] == r["n_tok"]
        assert g["source"] == r["source"]
        assert g["key"] == f"k{i}"

    # streaming: same decode on a readStream frame, windowed downstream
    in_dir = str(tmp_path / "msgs")
    df.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    dec = decode_avro_messages(stream, json.dumps(schema), passthrough=("ts",))
    agg = (
        dec.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("n_tok").alias("tok"), F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("avro_msgs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select tok, n from avro_msgs").collect()
    assert [(r["tok"], r["n"]) for r in rows] == [(5, 3)]


def test_avro_multiblock_file_splits_across_tasks(spark, tmp_path):
    """A single large container file is decoded by MULTIPLE tasks
    (split on sync markers), with rows identical to the whole-file
    decode — the scale guard against a few huge .avro inputs
    serializing ingestion."""
    from kaskada_spark.sources.avro_codec import read_container, write_container
    from kaskada_spark.sources.readers import _read_avro_pure

    schema = {
        "type": "record",
        "name": "Seq",
        "fields": [
            {"name": "doc_id", "type": "string"},
            {"name": "n_tok", "type": "int"},
        ],
    }
    rows = [{"doc_id": f"d{i:05d}", "n_tok": i % 97} for i in range(5000)]
    p = tmp_path / "big.avro"
    p.write_bytes(write_container(schema, rows, codec="deflate", block_rows=100))

    df = _read_avro_pure(spark, str(p), target_split_bytes=2048)
    # ≥2 non-empty decode tasks actually touched the file
    parts = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(1 for c in parts if c) >= 2, parts
    got = sorted((r["doc_id"], r["n_tok"]) for r in df.collect())
    _, whole = read_container(p.read_bytes())
    assert got == sorted((r["doc_id"], r["n_tok"]) for r in whole)
    assert len(got) == 5000
