"""Transport → batch writer, run once per micro-batch.

``write_batch`` is the only per-transport code (the TransportProvider.send
analog, TransportProvider.java:15-65). Every pipeline reaches it through
``PipelineManager._deliver``: streaming pipelines from one ``foreachBatch``
per query, bounded bootstraps once. ``WRITERS`` is keyed by exactly the
transports ``model.KNOWN_TRANSPORTS`` accepts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.model import PipelineSpec


def _serde_applied(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Serialize the envelope into `value` when the spec declares an
    envelope serde (DatastreamProducerRecord.java:73-88 — serdes run at
    send time, per destination). The materialize and directory transports
    consume raw values (they ARE the deserializing consumers), so they
    skip serdes."""
    if spec.transport in ("materialize", "directory"):
        return df
    from brooklin_spark.functions.serde import apply_serdes

    return apply_serdes(df, spec)


def write_batch(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    """Write a batch envelope frame through the spec's transport. ``spark``
    pins the session used for memory-table view registration when df comes
    from a foreachBatch clone."""
    WRITERS[spec.transport](_serde_applied(df, spec), spec, spark)


def prepare_destination(df: DataFrame, spec: PipelineSpec, spark: SparkSession) -> None:
    """Run once when a pipeline starts, before its first batch: a parquet or
    materialize destination must be named (so a bad spec fails at create),
    and a memory or broken table is queryable, empty, as soon as the
    pipeline is READY."""
    if spec.transport in ("parquet", "file"):
        _parquet_path(spec)
    elif spec.transport == "materialize":
        from brooklin_spark.sinks.materialize import _state_root

        _state_root(spec)
    elif spec.transport in ("memory", "broken"):
        name = _memory_table(spec)
        if name not in _MEMORY_ROWS:
            schema = _serde_applied(df, spec).schema
            _MEMORY_ROWS[name] = []
            _MEMORY_SCHEMA[name] = schema
            spark.createDataFrame([], schema).createOrReplaceTempView(name)


def _parquet_path(spec: PipelineSpec) -> str:
    path = (spec.dest_uri or "").removeprefix("parquet://").removeprefix("file://")
    if not path:
        raise ValueError(f"parquet sink needs dest_uri, got {spec.dest_uri!r}")
    return path


def _parquet_append(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    """Directory/file mirroring (DirectoryTransportProvider analog) as
    parquet partitioned by topic, so each pipeline's output prunes by
    destination; append-only, at-least-once."""
    df.write.mode("append").partitionBy("topic").parquet(_parquet_path(spec))


def _materialize(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    """CDC MERGE: apply op-codes to a keyed state table (see
    sinks/materialize.py)."""
    from brooklin_spark.sinks.materialize import _state_root, merge_batch

    merge_batch(df, _state_root(spec), spark)


# ---------------------------------------------------------------------------
# In-memory accumulating sink (ListBackedTransportProvider analog,
# datastream-testcommon/.../ListBackedTransportProvider.java). Rows are
# appended per micro-batch, so pause/resume and crash-restart keep already-
# delivered records and replay only uncommitted batches (at-least-once).
# Driver-side accumulation: test/diagnostics use only, like the reference's.
# ---------------------------------------------------------------------------

_MEMORY_ROWS: dict[str, list] = {}
_MEMORY_SCHEMA: dict[str, object] = {}


def _memory_table(spec: PipelineSpec) -> str:
    return spec.metadata.get("memory.table", spec.name)


def _memory_append(name: str, batch_df: DataFrame, spark=None) -> None:
    # NOTE: foreachBatch hands us a frame bound to a CLONED session; temp
    # views registered there are invisible to the user's session. Register
    # on the manager's session when one is given.
    rows = batch_df.collect()
    _MEMORY_ROWS.setdefault(name, []).extend(rows)
    _MEMORY_SCHEMA[name] = batch_df.schema
    spark = spark or batch_df.sparkSession
    spark.createDataFrame(_MEMORY_ROWS[name], _MEMORY_SCHEMA[name]).createOrReplaceTempView(name)


def drop_memory_table(spark, name: str) -> None:
    _MEMORY_ROWS.pop(name, None)
    _MEMORY_SCHEMA.pop(name, None)
    spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# Directory mirroring transport (DirectoryTransportProvider.java:48-98):
# reflect ENTRY_CREATED / ENTRY_MODIFIED / ENTRY_DELETED change events into
# the destination directory — copy on create, delete+copy on modify, delete
# on delete. File ops run on the driver per micro-batch, like the
# reference's send() (change batches are small by nature — they are
# directory events, not data volume).
# ---------------------------------------------------------------------------


def _directory_mirror(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    import os

    dest = (spec.dest_uri or "").removeprefix("dir://").removeprefix("file://")
    if not dest:
        raise ValueError(f"directory sink needs dest_uri, got {spec.dest_uri!r}")
    os.makedirs(dest, exist_ok=True)
    for r in df.select("key", "value", "op_code").collect():
        name = bytes(r.key or b"").decode()
        if not name or os.sep in name:
            continue  # defensive: only mirror flat names inside dest
        target = os.path.join(dest, name)
        if r.op_code == "DELETE":
            try:
                os.remove(target)
            except FileNotFoundError:
                pass  # reference logs 'did not exist' and moves on
        else:  # INSERT = copy; UPDATE = delete+copy (same final state)
            with open(target, "wb") as f:
                f.write(bytes(r.value or b""))


# ---------------------------------------------------------------------------
# Broken transport (BrokenConnector.java test-fixture philosophy applied to
# the send side): delivers to a memory table but raises on configured
# partitions while the module-level switch is set — drives the auto-pause /
# auto-resume paths in tests.
# ---------------------------------------------------------------------------

#: test switch: partitions whose sends fail (empty = healthy)
BROKEN_FAIL_PARTITIONS: set[int] = set()


def _broken_send(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    if BROKEN_FAIL_PARTITIONS:
        bad = df.filter(
            F.col("partition").isin(sorted(BROKEN_FAIL_PARTITIONS))
        ).count()
        if bad:
            raise RuntimeError(
                f"broken transport: simulated send error ({bad} rows)"
            )
    _memory_append(_memory_table(spec), df, spark)


def kafka_out_projection(df: DataFrame, dest_topic: str | None) -> DataFrame:
    """Envelope → the Kafka sink's record shape: key/value bytes, topic
    routing, and HEADERS — the envelope's map<string,binary> converts to
    the array<struct<key,value>> the Spark Kafka writer expects
    (BrooklinEnvelope._headers parity, BrooklinEnvelope.java:22-32; the
    reference's producer forwards headers on every send)."""
    headers = F.when(
        F.col("headers").isNotNull(),
        F.transform(
            F.map_entries(F.col("headers")),
            lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
        ),
    )
    return df.select(
        F.col("key").alias("key"),
        F.col("value").alias("value"),
        (F.lit(dest_topic) if dest_topic else F.col("topic")).alias("topic"),
        headers.alias("headers"),
    )


def _kafka_send(df: DataFrame, spec: PipelineSpec, spark=None) -> None:
    """Kafka transport (KafkaTransportProvider.java:46,106-146 analog).

    Routing parity: explicit `partition` column if present (explicit
    partition routing, DatastreamProducerRecord.java:23), else the Kafka
    producer hashes the key (key-hash routing, KafkaTransportProvider
    .java:138-146). The `topic` column routes per-record destinations
    (mirror rewrite already applied by the source translate); headers
    forward as Kafka record headers. Requires spark-sql-kafka on the
    classpath plus `kafka.includeHeaders` on the writer.
    """
    servers, _, topic = (spec.dest_uri or "").removeprefix("kafka://").partition("/")
    kafka_out_projection(df, topic or None).write.format("kafka").option(
        "kafka.bootstrap.servers", servers
    ).option("includeHeaders", "true").save()


#: transport -> writer(df, spec, spark); ``spark`` may be None
WRITERS: dict[str, Callable[[DataFrame, PipelineSpec, SparkSession | None], None]] = {
    "memory": lambda df, spec, spark: _memory_append(_memory_table(spec), df, spark),
    "parquet": _parquet_append,
    "file": _parquet_append,
    "console": lambda df, spec, spark: df.show(20, truncate=False),
    # discard (BrokenConnector/Dummy test analogs): runs the plan, writes
    # nothing — used for throughput measurement
    "noop": lambda df, spec, spark: df.write.format("noop").mode("overwrite").save(),
    "materialize": _materialize,
    "directory": _directory_mirror,
    "broken": _broken_send,
    "kafka": _kafka_send,
}
