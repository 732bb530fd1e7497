"""Batch & streaming table readers.

The reference prepares parquet/CSV/Pulsar inputs into sorted prepared
files and k-way-merges them at scan (crates/sparrow-runtime/src/
prepare.rs:51-76, read/table_reader.rs:22-36). Spark's parquet source +
per-entity window sorts replace all of that machinery; this module is a
thin path/schema layer.

Iceberg is the design-point table format at cluster scale (hidden
partitioning on the entity bucket + time, snapshot isolation for the
exactly-once sink). The sandbox image has no Iceberg jars, so the
Iceberg path is gated behind a runtime check and everything falls back
to plain parquet with the same layout.

``read_table`` keeps the schema Spark inferred for each table, so only
the first read of a table runs Spark's footer-reading inference job.
On plain parquet this stands in for an Iceberg table, whose schema is
read from snapshot metadata instead of from data-file footers: a cached
schema is reused only while every file under the table path has the
same name, size, mtime and inode as when it was inferred.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_names() -> tuple[str, ...]:
    return TABLES


#: session -> {absolute table path: (file listing, inferred schema)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple:
    """(relative name, size, mtime_ns, inode) of every file under
    ``path``, sorted; raises OSError when ``path`` cannot be stat'ed."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            st = os.stat(full)
            out.append(
                (os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino)
            )
    return tuple(sorted(out))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic-benchmark table (columnar scan; Catalyst pushes
    projections/filters into the parquet reader).

    The first read infers the schema from parquet footers (one Spark
    job); later reads of unchanged files in the same session pass the
    cached schema and start no job (see the module docstring). A path
    that cannot be stat'ed is read uncached, so Spark raises its usual
    error."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        listing = _listing(path)
    except OSError:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    tables = _SCHEMAS.setdefault(spark, {})
    cached = tables.get(key)
    if cached is not None and cached[0] == listing:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    tables[key] = (listing, df.schema)
    return df


def parquet_column_bounds(path: str, column: str) -> tuple | None:
    """Min/max of ``column`` across a parquet file/directory from footer
    statistics only — no Spark job, no row reads.

    This is the sandbox stand-in for an Iceberg table-stats lookup
    (Iceberg keeps per-column lower/upper bounds in each snapshot's
    manifest entries); operators that need a value range to bucket on
    (e.g. ``pack_sequences``'s segmented prefix sum) take these bounds
    instead of running a min/max job over the upstream plan. Returns
    None when no row group carries stats for the column.
    """
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            ]
    else:
        files = [path]
    lo = hi = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            continue
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                continue
            lo = stats.min if lo is None else min(lo, stats.min)
            hi = stats.max if hi is None else max(hi, stats.max)
    return None if lo is None else (lo, hi)


def parquet_row_count(path: str) -> int:
    """Total row count of a parquet file/directory from footer metadata
    only — no Spark job, no row reads. The sandbox stand-in for an
    Iceberg snapshot's ``total-records`` summary property; operators
    that size themselves from table cardinality (e.g. LSH bucket-count
    auto-sizing) take this instead of running ``df.count()`` over the
    upstream plan.
    """
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            ]
    else:
        files = [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def iceberg_available(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org.apache.iceberg...` attribute access is NOT
    # a valid probe — py4j resolves unknown paths to a lazy JavaPackage
    # without raising. Class.forName actually hits the classloader.
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


def read_stream(
    spark: SparkSession, path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """Open a file-based stream (used by tests/bench to drive Structured
    Streaming over the same data as batch runs)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV source (reference prepare.rs:51-76 supports CSV paths).
    With an explicit schema the scan avoids the inference pass; at
    cluster scale prefer converting to parquet once and scanning that."""
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_inline_csv(spark: SparkSession, csv_text: str, **options) -> DataFrame:
    """Inline CSV data (reference CsvData source, prepare.rs:51-76).
    Intended for small fixture tables; parsed driver-side then
    parallelized."""
    import io

    import pandas as pd

    pdf = pd.read_csv(io.StringIO(csv_text), **options)
    for col in pdf.columns:
        if pdf[col].dtype == object:
            try:
                # explicit ISO8601 format: no per-element inference
                # warning, and non-timestamp strings raise -> left as-is
                pdf[col] = pd.to_datetime(pdf[col], format="ISO8601")
            except (ValueError, TypeError):
                pass
    return spark.createDataFrame(pdf)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema,
    starting_offsets: str = "earliest",
    **options,
) -> DataFrame:
    """Kafka topic -> streaming DataFrame of parsed JSON values.

    This closes (in Spark idiom) the reference's live-stream ingestion
    gap: the reference consumes Pulsar subscriptions with Avro schemas
    (crates/sparrow-runtime/src/streams/pulsar/stream.rs); Spark's
    first-class equivalent is the Kafka source. The returned frame has
    the ``value_schema`` columns — feed it to ``prepare()`` /
    ``running_agg_stream`` exactly like a file stream; every downstream
    operator is source-agnostic.

    Needs the Kafka connector on the classpath (not in this sandbox):
      spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>
    Without it this raises a RuntimeError naming that flag instead of a
    cryptic ClassNotFoundException.

    Example (the flagship pipeline over a live token stream)::

        stream = read_kafka_stream(
            spark, "broker:9092", "token-sequences", TOKEN_SCHEMA)
        agg = windowed_token_agg(stream, window="1 minute")
        agg.writeStream.option("checkpointLocation", ck).foreachBatch(
            ExactlyOnceSink(out)).start()
    """
    from pyspark.sql import functions as F

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:
        if "kafka" in str(e).lower():
            raise RuntimeError(
                "Kafka support needs the connector on the classpath: "
                "spark-submit --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
            ) from e
        raise
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v")
    ).select("v.*")


def read_avro(spark: SparkSession, path: str, **options) -> DataFrame:
    """Avro source (the reference ingests Avro-schema'd records from
    Pulsar, streams/pulsar/schema.rs, and sniffs Avro container files in
    raw_metadata.rs). Prefers the spark-avro native reader when the jar
    is on the classpath; otherwise falls back to a from-scratch
    pure-Python container-file decoder (``avro_codec.py``, public Avro
    1.11 spec) run DISTRIBUTED: a binaryFile scan parallelizes over
    files and each executor task decodes one file into Arrow batches via
    mapInPandas. Avro is an ingestion format — at cluster scale convert
    once to parquet/Iceberg (the reference's prepare step does the same,
    prepare.rs:51-76) and scan the columnar copy."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.format("avro").load(path)
    except Exception as e:  # AnalysisException: failed to find data source
        if "avro" not in str(e).lower():
            raise
    return _read_avro_pure(spark, path)


def _read_avro_pure(
    spark: SparkSession, path: str, target_split_bytes: int = 32 << 20
) -> DataFrame:
    """Jar-free Avro scan, SPLIT on sync markers so a few huge
    container files don't serialize ingestion behind whole-file tasks:

    1. a distributed index stage walks each file's per-block
       (count, size) headers — seeks only, no payload decode — and
       emits ``(path, offset, length)`` ranges of ~``target_split_bytes``
       consecutive blocks (``avro_codec.index_container_blocks``);
    2. the split rows are round-robin repartitioned and each task
       decodes its byte range independently (a range starts at a block
       boundary and is self-contained given the header triple).

    Tasks open files with plain Python IO, so executors need the same
    filesystem view as the driver (local/NFS/fuse-mounted object
    storage — true in local mode and on mounted-storage clusters; with
    raw HDFS/S3 URIs use the spark-avro jar path above instead)."""
    import glob as _glob

    import pandas as pd
    from pyspark.sql import types as T

    from .avro_codec import (
        decode_block_range,
        index_container_blocks,
        read_header_file,
        rows_to_pandas,
        schema_of_avro_path,
        to_spark_type,
    )

    avro_schema = schema_of_avro_path(path)
    spark_type, _ = to_spark_type(avro_schema)
    if not isinstance(spark_type, T.StructType):
        spark_type = T.StructType([T.StructField("value", spark_type)])
    out_schema = spark_type
    out_names = [f.name for f in out_schema.fields]

    if os.path.isdir(path):
        file_list = sorted(_glob.glob(os.path.join(path, "*.avro")))
    else:
        file_list = [path]

    def make_index(batches):
        for pdf in batches:
            out = {"path": [], "offset": [], "length": []}
            for p in pdf["path"]:
                _s, _c, _y, splits = index_container_blocks(p, target_split_bytes)
                for off, ln in splits:
                    out["path"].append(p)
                    out["offset"].append(off)
                    out["length"].append(ln)
            yield pd.DataFrame(out)

    files_df = spark.createDataFrame(
        [(p,) for p in file_list], "path string"
    ).repartition(max(1, min(len(file_list), 64)))
    idx = files_df.mapInPandas(make_index, "path string, offset long, length long")

    def decode(batches):
        headers: dict = {}  # path -> (schema, codec, sync), one read per task
        for pdf in batches:
            for p, off, ln in zip(pdf["path"], pdf["offset"], pdf["length"]):
                if p not in headers:
                    with open(p, "rb") as f:
                        headers[p] = read_header_file(f)
                schema, codec, sync = headers[p]
                rows = decode_block_range(p, int(off), int(ln), schema, codec, sync)
                out = rows_to_pandas(schema, rows)
                if list(out.columns) != out_names:
                    out.columns = out_names
                yield out

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return idx.repartition(n_part).mapInPandas(decode, schema=out_schema)


def decode_avro_messages(
    df: DataFrame,
    avro_schema_json: str,
    value_col: str = "value",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Decode a BINARY message-payload column of schema'd Avro datums
    into typed columns — the per-message deserialization the reference
    performs on Pulsar streams (streams/pulsar/schema.rs maps the
    topic's Avro schema to Arrow and decodes each message body; the
    same shape covers Kafka values once any registry framing is
    stripped). Works identically on a batch frame and on a streaming
    one (`readStream.format("kafka")` — mapInPandas is a stateless
    map, so watermarks pass through untouched).

    ``passthrough`` carries message metadata columns (event timestamp,
    key, partition/offset lineage) alongside the decoded fields.
    Decoding is Arrow-batched pure Python per message — at warehouse
    scale this is the ingestion hop in front of the parquet/Iceberg
    prepare step (prepare.rs:51-76), not a hot-path operator.
    """
    import json as _json

    from pyspark.sql import types as T

    from .avro_codec import decode_datum, rows_to_pandas, to_spark_type

    avro_schema = _json.loads(avro_schema_json)
    spark_type, _ = to_spark_type(avro_schema)
    if not isinstance(spark_type, T.StructType):
        spark_type = T.StructType([T.StructField("value", spark_type)])
    src = df.select(*passthrough, value_col)
    pt_fields = [src.schema[c] for c in passthrough]
    out_schema = T.StructType(list(pt_fields) + list(spark_type.fields))
    val_names = [f.name for f in spark_type.fields]

    def decode(batches):
        for pdf in batches:
            rows = [
                decode_datum(avro_schema, bytes(b)) for b in pdf[value_col]
            ]
            out = rows_to_pandas(avro_schema, rows)
            if list(out.columns) != val_names:
                out.columns = val_names
            for c in reversed(list(passthrough)):
                out.insert(0, c, pdf[c].reset_index(drop=True))
            yield out

    return src.mapInPandas(decode, schema=out_schema)
