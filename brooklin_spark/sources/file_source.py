"""File and directory sources: the FileConnector / DirectoryConnector analogs.

Reference semantics (SURVEY.md §2.1):
- FileProcessor.java:35,95-140 — tail a text file line by line; each line is
  one event; the line number is the checkpoint.
- DirectoryChangeProcessor.java:42,89-140 — watch a directory; file events
  become records.

Spark-first: Structured Streaming's file source already is a directory
watcher with checkpointed progress; a single file is the degenerate case.
Line numbers don't exist in a distributed text scan, so the offset is a
per-partition monotonic id and the envelope's metadata carries the input
file — at-least-once positions, exactly what the reference's line-number
checkpoint provides (it, too, restarts from the last committed line).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.io import read_parquet
from brooklin_spark.model import PipelineSpec
from brooklin_spark.sources.registry import source


def _lines_to_envelope(lines: DataFrame, topic: str) -> DataFrame:
    # Divergence from the reference's line-number checkpoint: a distributed
    # text scan has no global line order, so the record id is a content hash
    # and progress tracking lives in the engine's file-source log (which is
    # file-granular — same at-least-once guarantee).
    return lines.select(
        F.lit(topic).alias("topic"),
        F.pmod(F.crc32(F.col("_metadata.file_path").cast("binary")), F.lit(32))
        .cast("int")
        .alias("partition"),
        F.xxhash64(F.col("_metadata.file_path"), F.col("value")).alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(None).cast("binary").alias("previous_value"),
        F.lit("INSERT").alias("op_code"),
        F.lit(None).cast("long").alias("scn"),
        F.current_timestamp().alias("event_ts"),
        F.col("_metadata.file_modification_time").alias("source_ts"),
        F.lit(None).cast("map<string,binary>").alias("headers"),
        F.create_map(
            F.lit("file-path"), F.col("_metadata.file_path"),
        ).alias("metadata"),
    )


@source("file")
def file_source(spark: SparkSession, spec: PipelineSpec) -> DataFrame:
    """file://<path> → streaming text tail as envelope records."""
    path = spec.source_uri.removeprefix("file://")
    topic = spec.metadata.get("topic", spec.name)
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", int(spec.metadata.get("max.files.per.trigger", "16")))
        .load(path)
    )
    return _lines_to_envelope(lines, topic)


@source("directory")
def directory_source(spark: SparkSession, spec: PipelineSpec) -> DataFrame:
    """dir://<path> → streaming directory watch (new files become events)."""
    path = spec.source_uri.removeprefix("dir://")
    topic = spec.metadata.get("topic", spec.name)
    lines = spark.readStream.format("text").load(path)
    return _lines_to_envelope(lines, topic)


@source("parquet")
def parquet_source(spark: SparkSession, spec: PipelineSpec) -> DataFrame:
    """parquet://<path> → bounded bootstrap scan as envelope records
    (the JDBC-snapshot-shaped side path: batch read, same envelope so all
    downstream code is shared — SURVEY.md §1.3 'streams-first with a
    bounded-snapshot side path')."""
    path = spec.source_uri.removeprefix("parquet://")
    topic = spec.metadata.get("topic", spec.name)
    df = read_parquet(spark, path)
    if set(df.columns) >= {"event_id", "ts", "user_id", "event_type", "props"}:
        from brooklin_spark.functions.envelope import events_to_envelope

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # a zone-less parquet TIMESTAMP(MICROS) infers as timestamp_ntz;
            # the envelope's event_ts is a timestamp (session zone is UTC)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return events_to_envelope(df, topic=topic)
    # generic table: JSON-encode the row as the value payload
    return df.select(
        F.lit(topic).alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(*df.columns)).cast("binary").alias("value"),
        F.lit(None).cast("binary").alias("previous_value"),
        F.lit("INSERT").alias("op_code"),
        F.lit(None).cast("long").alias("scn"),
        F.current_timestamp().alias("event_ts"),
        F.lit(None).cast("timestamp").alias("source_ts"),
        F.lit(None).cast("map<string,binary>").alias("headers"),
        F.create_map(F.lit("source-path"), F.lit(path)).alias("metadata"),
    )
