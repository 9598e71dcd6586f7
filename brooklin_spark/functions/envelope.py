"""Envelope transforms: the engine's per-record "translate" stage.

Parity with the reference's connector translate step
(KafkaConnectorTask.java:125-155: ConsumerRecord → BrooklinEnvelope with
origin metadata + checkpoint "partition-offset"; mirror topic rewrite
KafkaMirrorMakerConnectorTask.java:243-277; CDC op-codes/before-image
BrooklinEnvelopeMetadataConstants.java:19-45).

Everything is a column expression over the standard envelope schema
(model.ENVELOPE_SCHEMA) — sources produce it, sinks consume it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: event_type → CDC op-code mapping used by the demo events stream
OP_CODE_EXPR = (
    F.when(F.col("event_type") == "signup", "INSERT")
    .when(F.col("event_type") == "error", "DELETE")
    .otherwise("UPDATE")
)


def checkpoint_col(partition: Column | str = "partition", offset: Column | str = "offset") -> Column:
    """Source checkpoint string "partition-offset" (KafkaConnectorTask.java:152)."""
    p = F.col(partition) if isinstance(partition, str) else partition
    o = F.col(offset) if isinstance(offset, str) else offset
    return F.concat_ws("-", p.cast("string"), o.cast("string"))


def broadcast_to_partitions(df: DataFrame, n_partitions: int) -> DataFrame:
    """Replicate every record to ALL destination partitions — the control-
    message broadcast send (TransportProvider.broadcast, TransportProvider
    .java:65; KafkaTransportProvider.java:152-187 loops the partition list;
    here it's one JVM-side explode, no loop, no driver round-trips)."""
    # generators can't nest inside other expressions: explode bare, then cast
    exploded = df.select(
        *[F.col(c) for c in df.columns if c != "partition"],
        F.explode(F.sequence(F.lit(0), F.lit(n_partitions - 1))).alias("_bp"),
    )
    part = F.col("_bp").cast("int").alias("partition")
    cols = [part if c == "partition" else F.col(c) for c in df.columns]
    if "partition" not in df.columns:
        cols.append(part)
    return exploded.select(*cols)


def events_to_envelope(events: DataFrame, topic: str = "events", partitions: int = 8) -> DataFrame:
    """Translate the demo events table into the engine envelope.

    Key = user id, value = props payload, op-code from event_type, scn =
    event_id (source change number ordering), partition = hash(user) —
    key-partitioned like the Kafka source would deliver it.
    """
    return events.select(
        F.lit(topic).alias("topic"),
        F.pmod(F.col("user_id"), F.lit(partitions)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.col("props").cast("binary").alias("value"),
        F.lit(None).cast("binary").alias("previous_value"),
        OP_CODE_EXPR.alias("op_code"),
        F.col("event_id").alias("scn"),
        F.col("ts").alias("event_ts"),
        F.col("ts").alias("source_ts"),
        F.lit(None).cast("map<string,binary>").alias("headers"),
        F.create_map(
            F.lit("kafka-origin-topic"), F.lit(topic),
            F.lit("event-type"), F.col("event_type"),
        ).alias("metadata"),
    )
