"""Data model: the change-event envelope and the pipeline spec.

Reference parity (see SURVEY.md §1):
- Envelope fields mirror BrooklinEnvelope (reference:
  datastream-common/src/main/java/com/linkedin/datastream/common/BrooklinEnvelope.java:22-32)
  and the wire form DatastreamEvent
  (datastream-common/src/main/avro/com/linkedin/datastream/common/DatastreamEvent.avsc:1-38),
  with the CDC metadata constants promoted to typed columns
  (BrooklinEnvelopeMetadataConstants.java:19-45: OpCode, Scn, Database, Table,
  EventTimestamp, SourceTimestamp, SourcePartition).
- PipelineSpec mirrors the Datastream Pegasus record
  (datastream-common/src/main/pegasus/com/linkedin/datastream/common/Datastream.pdl:6-100)
  and its lifecycle enum (Datastream.pdl:45-57).

Spark-first notes: the envelope is a fixed StructType so every source yields
one schema and all downstream transforms/sinks are shared; payloads stay
BINARY (schema-on-read, decoded lazily via from_avro/from_json) exactly as
the reference keeps them byte-opaque.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import types as T


class OpCode(str, Enum):
    """CDC operation codes (BrooklinEnvelopeMetadataConstants.java:19-45)."""

    INSERT = "INSERT"
    UPDATE = "UPDATE"
    DELETE = "DELETE"


class PipelineStatus(str, Enum):
    """Datastream lifecycle states (Datastream.pdl:45-57)."""

    INITIALIZING = "INITIALIZING"
    READY = "READY"
    PAUSED = "PAUSED"
    STOPPING = "STOPPING"
    STOPPED = "STOPPED"
    DELETING = "DELETING"


# Legal lifecycle transitions: mirrors the REST action matrix
# (DatastreamResources.java:358-601 — pause only when READY, resume only when
# PAUSED, stop from READY/PAUSED, delete from any non-deleting state).
_TRANSITIONS: dict[PipelineStatus, set[PipelineStatus]] = {
    PipelineStatus.INITIALIZING: {PipelineStatus.READY, PipelineStatus.DELETING},
    PipelineStatus.READY: {
        PipelineStatus.PAUSED,
        PipelineStatus.STOPPING,
        PipelineStatus.DELETING,
    },
    PipelineStatus.PAUSED: {
        PipelineStatus.READY,
        PipelineStatus.STOPPING,
        PipelineStatus.DELETING,
    },
    PipelineStatus.STOPPING: {PipelineStatus.STOPPED, PipelineStatus.DELETING},
    PipelineStatus.STOPPED: {PipelineStatus.READY, PipelineStatus.DELETING},
    PipelineStatus.DELETING: set(),
}


def can_transition(src: PipelineStatus, dst: PipelineStatus) -> bool:
    return dst in _TRANSITIONS[src]


#: The engine-wide change-event schema. Every source translates into this,
#: every sink consumes it (BrooklinEnvelope.java:22-32 + Kafka-origin metadata
#: attached by KafkaConnectorTask.translate, KafkaConnectorTask.java:125-155).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        # monotonic per (topic, partition): Kafka offset / file line number
        T.StructField("offset", T.LongType(), False),
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        # CDC before-image (BrooklinEnvelope._previousValue)
        T.StructField("previous_value", T.BinaryType(), True),
        T.StructField("op_code", T.StringType(), True),
        T.StructField("scn", T.LongType(), True),
        T.StructField("event_ts", T.TimestampType(), True),
        T.StructField("source_ts", T.TimestampType(), True),
        T.StructField("headers", T.MapType(T.StringType(), T.BinaryType()), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: ENVELOPE_SCHEMA as a parquet store of envelope rows reads it back: Spark
#: writes every column nullable. The holding pen and the dead letters hold
#: unserialized batch rows, so their reads declare this instead of
#: inferring it from a footer.
STORED_ENVELOPE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in ENVELOPE_SCHEMA.fields]
)

#: Source checkpoint identity, "partition-offset" (KafkaConnectorTask.java:152).
CHECKPOINT_FORMAT = "{partition}-{offset}"

_URI_RE = re.compile(r"^(?P<scheme>[a-z][a-z0-9+._-]*)://(?P<rest>.+)$", re.I)

KNOWN_CONNECTORS = {
    "kafka", "kafkaMirror", "file", "directory", "dirwatch", "rate", "parquet",
    "jdbc", "dummy", "broken",
}
KNOWN_TRANSPORTS = {
    "kafka", "file", "parquet", "memory", "console", "noop", "materialize",
    "directory", "broken",
}


@dataclass
class PipelineSpec:
    """A named, durable description of one pipeline (Datastream.pdl:6-100).

    ``source_uri`` examples (KafkaConnector.java:66-140 semantics):
      kafka://host:9092/topicA            single topic
      kafka://host:9092/^prefix.*$        mirror regex (KafkaMirrorMakerConnector)
      file:///tmp/in.txt                  file tail (FileProcessor)
      dir:///tmp/watched                  directory watch (DirectoryChangeProcessor)
      rate://10                           synthetic load (TestEventProducingConnector)
      parquet:///root/testdata/sf0.001/events.parquet   bounded bootstrap
      jdbc:mysql://host/db?table=t&pk=id  chunked snapshot (DatabaseChunkedReader)
    """

    name: str
    connector: str
    transport: str
    source_uri: str
    dest_uri: str | None = None
    source_partitions: int | None = None
    dest_partitions: int | None = None
    key_serde: str | None = None
    payload_serde: str | None = None
    envelope_serde: str | None = None
    metadata: dict[str, str] = field(default_factory=dict)
    status: PipelineStatus = PipelineStatus.INITIALIZING

    def validate(self) -> None:
        """Spec validation = Connector.initializeDatastream semantics
        (server-api Connector.java:67; KafkaConnector.java:66-140: non-empty
        name, known connector, well-formed source, START_POSITION json)."""
        if not self.name or not re.fullmatch(r"[A-Za-z0-9_.-]+", self.name):
            raise ValueError(f"invalid pipeline name: {self.name!r}")
        if self.connector not in KNOWN_CONNECTORS:
            raise ValueError(
                f"unknown connector {self.connector!r}; known: {sorted(KNOWN_CONNECTORS)}"
            )
        if self.transport not in KNOWN_TRANSPORTS:
            raise ValueError(
                f"unknown transport {self.transport!r}; known: {sorted(KNOWN_TRANSPORTS)}"
            )
        if not _URI_RE.match(self.source_uri) and not self.source_uri.startswith("jdbc:"):
            raise ValueError(f"source_uri must be scheme://...: {self.source_uri!r}")
        start_pos = self.metadata.get("system.start.position")
        if start_pos is not None:
            try:
                parsed = json.loads(start_pos)
            except json.JSONDecodeError as e:
                raise ValueError(f"system.start.position is not json: {e}") from e
            if not isinstance(parsed, dict) or not all(
                isinstance(k, str) and isinstance(v, int) for k, v in parsed.items()
            ):
                raise ValueError(
                    "system.start.position must be {partition: offset} json "
                    "(KafkaConnector.java:118-131)"
                )

    # --- dedup identity -------------------------------------------------
    def source_identity(self) -> tuple[str, str]:
        """Key for datastream dedup: same (connector, source) reuses one
        physical task set (SourceBasedDeduper.java:66,142-163)."""
        return (self.connector, self.source_uri)

    # --- (de)serialization ----------------------------------------------
    def to_json(self) -> str:
        d = {k: v for k, v in self.__dict__.items()}
        d["status"] = self.status.value
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "PipelineSpec":
        d = json.loads(s)
        d["status"] = PipelineStatus(d.get("status", "INITIALIZING"))
        return cls(**d)
