"""Streaming sources (SURVEY.md §2.1 S2/S3, §2.2 P1/P2).

``kafka_json_stream`` is the reference's Kafka → JSON-envelope ingest
(/root/reference/src/bronze/ohlcv_1m.py:35-37): binary value → string →
from_json(schema) → star-expand. ``file_stream`` + ``json_envelope_stream``
give the same pipeline a replayable file-backed source for tests and
backfills (trigger availableNow), per SURVEY.md §7.2 M3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakeflow.sources.batch import read_parquet


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Raw Kafka source (binary key/value). Requires the kafka connector jar;
    the file/rate sources below are the jar-free test path."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def json_envelope(df: DataFrame, payload_col: str, schema: StructType | str) -> DataFrame:
    """P1+P2: cast to string, parse JSON envelope, expand struct to columns."""
    return (
        df.select(F.col(payload_col).cast("string").alias("__raw"))
        .select(F.from_json("__raw", schema).alias("data"))
        .select("data.*")
    )


def kafka_json_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: StructType | str,
) -> DataFrame:
    """Kafka JSON ticks → typed columns (the reference's bronze ingest shape)."""
    return json_envelope(kafka_stream(spark, bootstrap_servers, topic), "value", schema)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    glob_filter: str | None = None,
) -> DataFrame:
    """File-backed stream: each listed file becomes a micro-batch input split.

    The deterministic replay source for tests (availableNow) and the backfill
    source in production (same query, bounded input). ``path`` must be a
    directory; use ``glob_filter`` to select files within it.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.load(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a typed file stream with ``ts`` as TIMESTAMP.

    Shared entry point for every streaming events consumer: reads the batch
    schema (so the stream sees exactly what the files carry), then normalizes
    ``ts`` whatever the fixture layout — int64 TIMESTAMP(NANOS) under
    ``nanosAsLong`` or plain timestamp[us] — via the dtype-guarded
    ``convert_nanos_ts``.
    """
    from lakeflow.catalog import _enable_nanos_as_long, convert_nanos_ts, table_path

    _enable_nanos_as_long(spark)
    ev_path = table_path(sf_dir, "events")
    schema = read_parquet(spark, ev_path).schema
    return convert_nanos_ts(
        file_stream(spark, sf_dir, schema, glob_filter="events.parquet")
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 30) -> DataFrame:
    """Synthetic load source (the producer-replay analog,
    /root/reference/src/producer/ohlcv_producer.py:42-61)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
