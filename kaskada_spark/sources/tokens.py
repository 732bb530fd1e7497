"""The pre-tokenized training-sequence table (north-rule input shape).

Shape (BASELINE.json input_hint): ``(doc_id: string, tokens:
array<int>, n_tok: int, source: string)`` plus synthesized event-time
columns ``(_time, _subsort)`` so the table is a timeline.

Two deterministic constructors, both pure Catalyst (no Python in the
row path):

- ``tokenize_documents``: derive the table from the synthetic
  ``documents`` parquet with a fully SQL-reproducible tokenizer —
  lowercase, extract ``[a-z0-9]+`` runs, token id = first 7 hex digits
  of md5(word) as int32. DuckDB reproduces it exactly
  (``TOKENS_ORACLE_CTE``), which gives the driver-checkable per-row
  token-array-equality invariant.
- ``synthesize_token_stream``: generate N sequences from ``spark.range``
  for throughput benchmarking at arbitrary scale — token ids and
  lengths are hash-derived from the row id (seeded, reproducible), with
  a configurable hot-key fraction to exercise skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaskada_spark.sources.readers import read_table

TOKEN_PATTERN = "[a-z0-9]+"
EPOCH = "2024-01-01 00:00:00"


def _word_to_token(w):
    return F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("int")


def tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> (doc_id, tokens, n_tok, source, _time, _subsort).

    Event time is deterministic: EPOCH + doc_id seconds (documents carry
    no timestamp; a synthetic monotone clock in doc_id order matches the
    reference's prepare-synthesized subsort approach,
    prepare/column_behavior.rs:106,146).
    """
    return tokenize_df(read_table(spark, sf_dir, "documents"))


def tokenize_df(docs: DataFrame) -> DataFrame:
    """Tokenize any (doc_id, text, source) frame into the north-rule
    sequence shape — the df-input form of :func:`tokenize_documents`
    (pipeline stages that filter the corpus first tokenize the
    survivors, not the raw table). An existing ``_time`` column is
    KEPT rather than re-derived: in a streaming pipeline the incoming
    event-time column carries the query's watermark, and projecting a
    fresh timestamp would force an (illegal) watermark redefinition."""
    time_col = (
        F.col("_time")
        if "_time" in docs.columns
        else (
            F.to_timestamp(F.lit(EPOCH))
            + F.make_dt_interval(secs=F.col("doc_id").cast("double"))
        ).alias("_time")
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(
            F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_PATTERN), 0),
            _word_to_token,
        ).alias("tokens"),
        F.col("source"),
        time_col,
        F.col("doc_id").cast("long").alias("_subsort"),
    ).withColumn("n_tok", F.size("tokens"))


#: DuckDB CTE reproducing tokenize_documents exactly (same token ids).
TOKENS_ORACLE_CTE = """
tokens_tbl AS (
  SELECT
    CAST(doc_id AS VARCHAR) AS doc_id,
    list_transform(
      regexp_extract_all(lower(text), '[a-z0-9]+'),
      w -> CAST(('0x' || substr(md5(w), 1, 7)) AS INT)
    ) AS tokens,
    source,
    TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS _time,
    CAST(doc_id AS BIGINT) AS _subsort
  FROM documents
)
"""


def synthesize_token_stream(
    spark: SparkSession,
    n_rows: int,
    *,
    avg_tokens: int = 128,
    n_sources: int = 20,
    hot_key_fraction: float = 0.0,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic sequence stream at arbitrary scale.

    Everything derives from ``spark.range`` ids through hash functions —
    reproducible across runs and parallelism levels, generated fully in
    the JVM (whole-stage codegen), so the generator never bottlenecks a
    throughput benchmark. ``hot_key_fraction`` routes that share of rows
    to a single hot doc_id to exercise skew handling.
    """
    rng = spark.range(0, n_rows, numPartitions=partitions)
    h = F.xxhash64(F.col("id"), F.lit(seed))
    n_tok = (F.pmod(h, F.lit(avg_tokens)) + F.lit(avg_tokens // 2) + 1).cast("int")
    doc = F.when(
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(1_000_000))
        < F.lit(int(hot_key_fraction * 1_000_000)),
        F.lit("doc-hot"),
    ).otherwise(F.concat(F.lit("doc-"), F.pmod(h, F.lit(max(n_rows // 16, 1))).cast("string")))
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 131071 + i.cast("long"), F.lit(seed)), F.lit(1 << 28)).cast("int"),
    )
    return rng.select(
        doc.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(n_sources)).cast("string")).alias("source"),
        (F.to_timestamp(F.lit(EPOCH)) + F.make_dt_interval(secs=(F.col("id") % 86400).cast("double"))).alias("_time"),
        F.col("id").alias("_subsort"),
    )
