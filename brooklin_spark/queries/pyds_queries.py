"""Queries exercising the Python DataSource SPI sources end-to-end
(brooklin_spark/sources/pyds.py) — the chunked-snapshot batch source and
the offset-replay stream source, each against its DuckDB oracle.

Both sides of the oracle comparison run DuckDB's hash() for the shard
assignment, so the sharding itself — not just the row set — is checked.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.io import derived, read_parquet
from brooklin_spark.registry import query
from brooklin_spark.sources import pyds
from brooklin_spark.streaming.pipelines import run_to_completion

_N_SHARDS = 8


@query(
    "source_chunked_snapshot",
    oracle=f"""
    SELECT CAST(MOD(hash(c_custkey), {_N_SHARDS}) AS BIGINT) AS shard,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    WHERE c_acctbal > 1000.0
    GROUP BY 1
    """,
)
def source_chunked_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked snapshot through the official Python DataSource SPI: one
    InputPartition per MOD(hash(pk), N) shard, the acctbal predicate
    pushed into the embedded database via pushFilters (SPI hook; conf is
    runtime-settable so the driver's default session works). The shard id
    is re-derived from the delivered rows with the SAME database hash the
    reader used, so the oracle checks the partitioning, not just the
    union of rows (DatabaseChunkedReader.java:60 disjoint-total-cover
    contract)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pyds.register(spark)
    df = (
        spark.read.format("chunked_duckdb")
        .options(
            path=f"{sf_dir}/customer.parquet",
            pk="c_custkey",
            num_shards=str(_N_SHARDS),
        )
        .load()
        .filter(F.col("c_acctbal") > 1000.0)
    )
    # shard re-derivation goes back through the same engine that hashed:
    # a tiny duckdb lookup table (custkey -> shard) joined broadcast-style
    # would re-read the file; instead recompute hash in a pandas UDF via
    # duckdb on the delivered keys — exact same hash function
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def shard_of(keys: pd.Series) -> pd.Series:
        import duckdb

        con = duckdb.connect()
        try:
            con.register("k", pd.DataFrame({"k": keys}))
            out = con.execute(
                f"SELECT CAST(MOD(hash(k), {_N_SHARDS}) AS BIGINT) FROM k"
            ).df()
        finally:
            con.close()
        return out.iloc[:, 0]

    return (
        df.withColumn("shard", shard_of(F.col("c_custkey")))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@query(
    "streaming_replay_rollup",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    GROUP BY 1
    """,
)
def streaming_replay_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-replay stream source drained through a complete-mode
    aggregate: the customer file arrives in ~12 micro-batches of 128 rows
    (maxRecordsPerPoll flow control, KafkaConnectorTask poll-loop
    parity); the final drain must equal the batch SQL exactly — which
    holds only if every offset range was delivered exactly once."""
    pyds.register(spark)
    s = (
        spark.readStream.format("parquet_replay")
        .options(
            path=f"{sf_dir}/customer.parquet",
            order_col="c_custkey",
            batch_rows="128",
        )
        .load()
    )
    agg = s.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_acctbal"),
    )
    return run_to_completion(agg, mode="complete")


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"


@query(
    "streaming_corpus_scrub",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, lang,
             text || CASE WHEN doc_id % 5 = 0
               THEN ' contact user' || doc_id || '@example.com now' ELSE '' END AS t
      FROM documents),
    toks AS (
      SELECT doc_id, lang, t,
             len(list_filter(string_split(t, ' '), x -> x <> '')) AS n_tokens
      FROM injected)
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens >= 20 AS BOOLEAN) AS kept,
           md5(regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g')) AS redacted_md5
    FROM toks
    """,
)
def streaming_corpus_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL scrub: the documents corpus arrives through the
    offset-replay DataSource in ~8 micro-batches and each batch is
    filtered + PII-redacted STATELESSLY (map-only streaming — the shape a
    continuous ingest scrubber runs; at 100 TB/day this is the same plan
    per micro-batch, no state store). The drain equals the batch SQL only
    if flow control delivered every doc exactly once; redacted text is
    md5'd so the oracle row stays narrow."""
    pyds.register(spark)
    s = (
        spark.readStream.format("parquet_replay")
        .options(
            path=f"{sf_dir}/documents.parquet",
            order_col="doc_id",
            batch_rows="64",
        )
        .load()
    )
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(""),
    )
    n_tok = F.size(F.filter(F.split(t, " "), lambda x: x != ""))
    out = s.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        (n_tok >= 20).alias("kept"),
        F.md5(F.regexp_replace(t, _PII_EMAIL, "[EMAIL]")).alias("redacted_md5"),
    )
    return run_to_completion(out, mode="append")


# ---------------------------------------------------------------------------
# Stream-static enrichment: the canonical Structured Streaming dimension
# join — a fact stream (orders replayed in micro-batches through the
# offset-replay source) joined per-batch to a STATIC broadcast dimension
# (customer), rolled up by segment. No state store is involved: a
# stream-static inner join is stateless by construction (each micro-batch
# joins against the same static relation), which is exactly why it is THE
# enrichment shape for 100 TB/day ingest — dimension updates ride a
# restart, state stays empty. Drain equals the batch join only if every
# offset range arrived exactly once.
# ---------------------------------------------------------------------------


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    pyds.register(spark)
    s = (
        spark.readStream.format("parquet_replay")
        .options(
            path=f"{sf_dir}/orders.parquet",
            order_col="o_orderkey",
            batch_rows="2048",
        )
        .load()
    )
    dim = read_parquet(spark, f"{sf_dir}/customer.parquet")
    enriched = s.join(F.broadcast(dim), s.o_custkey == dim.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("revenue"),
    )
    return run_to_completion(agg, mode="complete")


# ---------------------------------------------------------------------------
# Transactional directory SINK through the Python DataSource WRITER SPI
# (sources/pyds.py:TransactionalDirStreamWriter) — the Spark-4 twin of
# the reference's file/directory TransportProvider with the two-phase
# pending->promote commit. Orders replay through the offset-replay
# source, project the thin delivery columns, and stream into the txn_dir
# sink; the verification pass reads back ONLY manifest-committed files
# and rolls up by priority against the batch oracle. Exactly-once at the
# sink: a torn epoch's staged files never enter the manifest, so the
# rollup equals the batch answer only if every committed epoch arrived
# exactly once — which is the property under test.
# ---------------------------------------------------------------------------


@query(
    "streaming_pyds_txn_sink_rollup",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
)
def streaming_pyds_txn_sink_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    pyds.register(spark)
    work = tempfile.mkdtemp(prefix="bspark_txn_dir_")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    s = (
        spark.readStream.format("parquet_replay")
        .options(
            path=f"{sf_dir}/orders.parquet",
            order_col="o_orderkey",
            batch_rows="4096",
        )
        .load()
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    q = (
        s.writeStream.format("txn_dir")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        files = pyds.committed_files(out)
        delivered = spark.read.schema(
            "o_orderkey bigint, o_orderpriority string, o_totalprice double"
        ).json(files)
        agg = delivered.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
        # bounded-drain contract: materialize before the temp dirs go away
        result = agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# Splittable Avro OCF source (SPI form): same orders container files as
# source_avro_ocf_orders, but read through the avro_ocf Python
# DataSource with a tiny split_bytes so each FILE fans out across
# multiple byte-range partitions (the real Avro split algorithm: seek to
# range start, scan to the next sync marker, decode blocks whose start
# falls in-range). The oracle is the raw-parquet aggregate, so a
# boundary bug — a block decoded twice by adjacent ranges, or skipped —
# shows up as a count/sum mismatch, which is exactly what makes this the
# split-correctness gate.
# ---------------------------------------------------------------------------


@query(
    "source_avro_ocf_split",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
    FROM orders GROUP BY o_orderstatus
    """,
)
def source_avro_ocf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.queries.serde_queries import _prepare_orders_ocf

    pyds.register(spark)
    ocf_dir = _prepare_orders_ocf(sf_dir)
    df = (
        spark.read.format("avro_ocf")
        .options(path=ocf_dir, split_bytes=str(64 << 10))
        .load()
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
    )


# ---------------------------------------------------------------------------
# Streaming OCF ingest: the same orders container files arrive as a
# micro-batch tail (one FILE per poll — maxFilesPerPoll flow control
# through the avro_ocf stream reader), drained through a complete-mode
# rollup. Equality with the batch parquet aggregate proves every file
# was decoded and delivered exactly once across the micro-batches.
# ---------------------------------------------------------------------------


@query(
    "streaming_ocf_ingest_rollup",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def streaming_ocf_ingest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.queries.serde_queries import _prepare_orders_ocf

    pyds.register(spark)
    ocf_dir = _prepare_orders_ocf(sf_dir)
    s = (
        spark.readStream.format("avro_ocf")
        .options(path=ocf_dir, max_files="1")
        .load()
    )
    agg = s.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    return run_to_completion(agg, mode="complete")


# ---------------------------------------------------------------------------
# OCF schema evolution: a mixed-generation landing directory — gen-1
# files wrote (orderkey, totalprice), gen-2 files added o_orderpriority
# — read as ONE table under a reader schema whose new field carries the
# Avro default ('UNKNOWN' for gen-1 rows). Per-FILE resolution happens
# in the split reader (each split decodes with its file's writer schema,
# then projects onto the reader record), the OCF twin of
# cdc_schema_evolution_union's parquet mergeSchema path. The oracle
# recomputes the generation split from the same orderkey hash rule.
# ---------------------------------------------------------------------------

_EVO_READER = {
    "type": "record",
    "name": "OrderEvolved",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderpriority", "type": "string", "default": "UNKNOWN"},
    ],
}


def _prepare_evolved_ocf(sf_dir: str) -> str:
    """The two OCF generations of orders, a derived artifact of
    orders.parquet."""
    import os

    import pyarrow.parquet as pq

    from brooklin_spark.functions.avro_ocf import write_ocf

    src = os.path.join(sf_dir, "orders.parquet")

    def build(out: str) -> None:
        rows = pq.read_table(
            src, columns=["o_orderkey", "o_totalprice", "o_orderpriority"]
        ).to_pylist()
        gen1 = [
            {"o_orderkey": r["o_orderkey"], "o_totalprice": r["o_totalprice"]}
            for r in rows
            if r["o_orderkey"] % 2 == 0
        ]
        gen2 = [r for r in rows if r["o_orderkey"] % 2 == 1]
        v1 = {
            "type": "record",
            "name": "OrderV1",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_totalprice", "type": "double"},
            ],
        }
        v2 = {
            "type": "record",
            "name": "OrderV2",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_totalprice", "type": "double"},
                {"name": "o_orderpriority", "type": "string"},
            ],
        }
        write_ocf(os.path.join(out, "gen1-0000.avro"), v1, gen1)
        write_ocf(os.path.join(out, "gen2-0000.avro"), v2, gen2)

    return derived("ocf_evo", [src], build)


@query(
    "source_avro_ocf_evolved",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'UNKNOWN' ELSE o_orderpriority END
             AS o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def source_avro_ocf_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    pyds.register(spark)
    evo_dir = _prepare_evolved_ocf(sf_dir)
    df = (
        spark.read.format("avro_ocf")
        .options(path=evo_dir, reader_schema=_json.dumps(_EVO_READER))
        .load()
    )
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
    )
