"""SerDe queries: the framed-Avro envelope path driven over the events
table, oracle-checked.

The Spark side does real work — build DatastreamEvent records from event
rows, Avro-binary-encode them (functions/avro_codec.py), wrap in the
registry frame (MAGIC + hex-decoded schema id, AvroMessageEncoderUtil
.java:33-60), then unframe and decode back and aggregate the DECODED
fields. The DuckDB oracle computes the same aggregates from the raw rows,
so any loss or corruption anywhere in encode→frame→unframe→decode shows
up as a value mismatch.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.functions import serde
from brooklin_spark.io import derived, table
from brooklin_spark.registry import query

_SCHEMA_ID = hashlib.md5(serde.DATASTREAM_EVENT_AVRO.encode()).hexdigest()


@query(
    "serde_avro_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_scn,
           CAST(SUM(length(props)) AS BIGINT) AS sum_payload_bytes,
           CAST(32 AS INT) AS frame_overhead_ok
    FROM events WHERE event_id < 2000 GROUP BY event_type
    """,
)
def serde_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    env = e.select(
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("event_id").cast("string").cast("binary").alias("key"),
        F.col("props").cast("binary").alias("value"),
        F.lit(None).cast("binary").alias("previous_value"),
        F.lit("INSERT").alias("op_code"),
        F.col("event_id").alias("scn"),
        F.create_map(F.lit("EventType"), F.col("event_type")).alias("metadata"),
    )
    framed = env.select(
        F.col("op_code"),
        serde.frame(
            serde.avro_serialize(
                serde.envelope_event_struct(env), serde.DATASTREAM_EVENT_AVRO
            ),
            _SCHEMA_ID,
        ).alias("framed"),
    )
    dec = framed.select(
        (F.length("framed") - F.lit(serde.FRAME_PREFIX_LEN)).alias("body_len"),
        serde.frame_is_valid(F.col("framed"), _SCHEMA_ID).alias("frame_ok"),
        serde.avro_deserialize(
            serde.unframe(F.col("framed")),
            serde.DATASTREAM_EVENT_AVRO,
            serde.DATASTREAM_EVENT_DDL,
        ).alias("ev"),
    )
    return dec.select(
        F.col("ev.metadata")["EventType"].alias("event_type"),
        F.col("ev.metadata")["Scn"].cast("bigint").alias("scn"),
        F.length(F.col("ev.payload")).alias("payload_len"),
        F.col("frame_ok"),
    ).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("scn").cast("bigint").alias("sum_scn"),
        F.sum("payload_len").cast("bigint").alias("sum_payload_bytes"),
        # every frame valid AND the prefix is exactly 17 bytes + 15-byte
        # min body → constant 32 when the framing math holds
        F.when(F.min(F.col("frame_ok").cast("int")) == 1, F.lit(32))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("frame_overhead_ok"),
    )


# ---------------------------------------------------------------------------
# Avro OCF source: orders materialized as real Object Container Files
# (functions/avro_ocf.py, fixture prep below is deterministic and cached
# per stamp), read back DISTRIBUTED (binaryFile scan + one Arrow decode task
# per file) and aggregated on the DECODED fields. The DuckDB oracle runs
# the same aggregate on the original parquet, so any byte-level encode/
# decode drift in the long/double/string paths surfaces as a mismatch.
# Money is compared in integer cents (per-row round is engine-identical;
# the SUM then stays exact).
# ---------------------------------------------------------------------------

_OCF_FIELDS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
_OCF_SCHEMA = {
    "type": "record",
    "name": "Order",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderpriority", "type": "string"},
    ],
}
_OCF_N_FILES = 4


def _prepare_orders_ocf(sf_dir: str) -> str:
    """orders as _OCF_N_FILES container files, a derived artifact of
    orders.parquet. Driver-side test scaffolding — the PRODUCT here is the
    distributed reader; a real deployment's OCF files arrive from
    producers."""
    import os

    import pyarrow.parquet as pq

    from brooklin_spark.functions.avro_ocf import write_ocf

    src = os.path.join(sf_dir, "orders.parquet")

    def build(out: str) -> None:
        t = pq.read_table(src, columns=_OCF_FIELDS).to_pylist()
        per = (len(t) + _OCF_N_FILES - 1) // _OCF_N_FILES
        for i in range(_OCF_N_FILES):
            chunk = t[i * per : (i + 1) * per]
            write_ocf(os.path.join(out, f"part-{i:04d}.avro"), _OCF_SCHEMA, chunk)

    return derived("ocf_orders", [src], build, _OCF_N_FILES)


@query(
    "source_avro_ocf_orders",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders GROUP BY o_orderpriority
    """,
)
def source_avro_ocf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions.avro_ocf import read_ocf

    ocf_dir = _prepare_orders_ocf(sf_dir)
    df = read_ocf(
        spark,
        ocf_dir,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderpriority string",
    )
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
    )
