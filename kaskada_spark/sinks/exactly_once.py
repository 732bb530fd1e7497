"""Exactly-once foreachBatch sink with per-partition lineage & metrics.

Design (north rule: "idempotent foreachBatch sink … exactly-once output
rows … resumable from checkpoint with per-partition lineage + metrics"):

- Output lands under ``out_dir/batch_id=<epoch_id>/`` — a replayed
  micro-batch (same epoch id after a crash-restart) OVERWRITES its own
  directory, so source-offset replay never duplicates rows. Combined
  with Spark's checkpointed offsets this gives exactly-once
  materialization of the result table. On Iceberg the same pattern is a
  `REPLACE PARTITIONS`/MERGE commit keyed by the epoch id; parquet
  directories are the sandbox stand-in (no Iceberg jars in this image).
- Lineage lands under ``lineage_dir/batch_id=<epoch_id>/`` — one row per
  non-empty output partition: (partition, n_rows, min/max event time,
  batch_id). ``n_rows`` is the partition's exact row count;
  ``min_event_time``/``max_event_time`` are the whole micro-batch's
  event-time range, repeated on each of its rows (a partition's own
  range stays recoverable from its ``part-<id>`` output file). A resume
  can validate a replayed batch by its row counts and max event time
  (the reference validates snapshot compatibility by plan hash + max
  event time, compute_store.rs:36-60).
- One Spark job per call: the output write. The lineage is observed
  inside it (``DataFrame.observe`` over a ``spark_partition_id()``
  helper column: a ``histogram_numeric`` of partition ids gives the
  per-partition counts, ``min``/``max`` the event-time range), so the
  batch is neither persisted nor read twice. The few lineage rows are
  built with pyarrow on the driver and written as one parquet file
  through the path's Hadoop ``FileSystem`` (``file:``, ``s3a:``, …),
  which starts no Spark job. The batch's old lineage is deleted before
  the write, as the overwrite drops its old output, so a failed write
  leaves no lineage behind.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# histogram_numeric keeps one exact bin per distinct value until it
# holds this many; every row of a task has the same spark_partition_id,
# so the per-partition counts are exact at any partition count. Bins are
# allocated as values arrive, so the bound costs nothing.
_MAX_BINS = 2**31 - 1


def _lineage_table(m: dict, batch_id: int, timed: bool) -> pa.Table:
    """The lineage rows of one micro-batch from its observed metrics: one
    row per non-empty partition, the batch's event-time range on each."""
    parts = sorted((int(b["x"]), int(b["y"])) for b in m["parts"] or [])
    n = len(parts)
    cols = {
        "partition": pa.array([p for p, _ in parts], pa.int32()),
        "n_rows": pa.array([c for _, c in parts], pa.int64()),
    }
    if timed:
        ts = pa.timestamp("us", tz="UTC")
        cols["min_event_time"] = pa.array([m["lo"]] * n, ts)
        cols["max_event_time"] = pa.array([m["hi"]] * n, ts)
    cols["batch_id"] = pa.array([batch_id] * n, pa.int32())
    return pa.table(cols)


class ExactlyOnceSink:
    def __init__(
        self,
        out_dir: str,
        lineage_dir: str | None = None,
        time_col: str | None = None,
        fmt: str = "parquet",
    ):
        # fmt mirrors the reference's destination formats (CSV / Parquet,
        # destinations.proto:10-16); parquet is the scale default.
        if fmt not in ("parquet", "csv", "json"):
            raise ValueError(f"unsupported sink format {fmt!r}")
        self.out_dir = out_dir
        self.lineage_dir = lineage_dir or os.path.join(out_dir, "_lineage")
        self.time_col = time_col
        self.fmt = fmt

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        Path = spark._jvm.org.apache.hadoop.fs.Path
        lineage = Path(f"{self.lineage_dir}/batch_id={batch_id}")
        fs = lineage.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
        # the overwrite below deletes the batch's old output before its job
        # runs, so the old lineage goes first: a failed write leaves none
        fs.delete(lineage, True)

        timed = bool(self.time_col) and self.time_col in df.columns
        part = "__p"
        while part in df.columns:
            part += "_"
        aggs = [F.histogram_numeric(part, F.lit(_MAX_BINS)).alias("parts")]
        if timed:
            # unix_micros takes TIMESTAMP only: a TIMESTAMP_NTZ column is
            # read in the session time zone (a no-op cast otherwise)
            t = F.col(self.time_col)
            aggs += [
                F.unix_micros(F.min(t).cast("timestamp")).alias("lo"),
                F.unix_micros(F.max(t).cast("timestamp")).alias("hi"),
            ]
        obs = Observation()
        out = df.withColumn(part, F.spark_partition_id()).observe(obs, *aggs).drop(part)
        writer = out.write.mode("overwrite")
        if self.fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(self.fmt).save(f"{self.out_dir}/batch_id={batch_id}")

        # only after a successful write: a failed one raised above and
        # never waits on its observation
        buf = pa.BufferOutputStream()
        pq.write_table(_lineage_table(obs.get, batch_id, timed), buf)
        stream = fs.create(Path(lineage, "part-00000.parquet"))
        try:
            stream.write(bytearray(buf.getvalue()))  # py4j sends bytearray as byte[]
        finally:
            stream.close()

    def read_output(self, spark) -> DataFrame:
        reader = spark.read.option("basePath", self.out_dir)
        if self.fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        return reader.format(self.fmt).load(f"{self.out_dir}/batch_id=*")

    def read_lineage(self, spark) -> DataFrame:
        return spark.read.option("basePath", self.lineage_dir).parquet(
            f"{self.lineage_dir}/batch_id=*"
        )


class IcebergExactlyOnceSink:
    """Exactly-once foreachBatch sink onto a REAL Iceberg table (the
    north rule's target format — jar-gated; ``iceberg_available()``).

    Idempotence is snapshot-property based: every append commit stamps
    ``kaskada.batch_id`` into its Iceberg snapshot summary, and a
    replayed micro-batch (same epoch id after crash-restart) is skipped
    when any snapshot already carries that id — the Iceberg analogue of
    the parquet sink's overwrite-own-directory pattern, but with the
    commit and the dedup decision in ONE atomic metadata transaction
    domain. The table is created on first batch with a
    ``bucket(n, entity)`` hidden-partition layout so downstream
    entity-keyed joins/aggregations get storage-side co-location
    (operators/slice.py notes).
    """

    def __init__(
        self,
        table: str,
        bucket_col: str | None = None,
        n_buckets: int = 16,
    ):
        self.table = table
        self.bucket_col = bucket_col
        self.n_buckets = n_buckets

    def _committed(self, spark) -> set:
        try:
            rows = spark.sql(
                f"SELECT summary['kaskada.batch_id'] AS b "
                f"FROM {self.table}.snapshots"
            ).collect()
            return {r["b"] for r in rows if r["b"] is not None}
        except Exception:
            return set()  # table does not exist yet

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        if str(batch_id) in self._committed(spark):
            return  # replayed epoch: already atomically committed
        writer = df.writeTo(self.table).option(
            "snapshot-property.kaskada.batch_id", str(batch_id)
        )
        if spark.catalog.tableExists(self.table):
            writer.append()
        else:
            if self.bucket_col is not None:
                writer = writer.partitionedBy(
                    F.bucket(self.n_buckets, F.col(self.bucket_col))
                )
            writer.create()

    def read_output(self, spark) -> DataFrame:
        return spark.read.table(self.table)
