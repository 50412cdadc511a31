"""Streaming sources.

The reference's only streaming source is a Kafka direct stream with
hand-managed offsets (reference: util/MyKafkaUtil.scala:40-82,
util/OffsetManagerUtil.scala). Here:

- ``kafka_stream`` is the production source — offsets live in the
  checkpoint, so the reference's whole Redis/MySQL offset subsystem
  (S2-S5) disappears.
- ``file_stream`` is the test-harness source: parquet/json files dropped
  into a directory become micro-batches, which is how the pytest streaming
  tests feed controlled batches without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source (value as string, like the reference's String K/V).

    Requires the spark-sql-kafka package on the classpath; not present in
    the test container, so tests use ``file_stream`` instead.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value", "timestamp")
    )


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-drop micro-batch source: one file == one controlled batch when
    ``max_files_per_trigger=1`` — the pytest analog of the reference's
    5-second Kafka batches."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )

