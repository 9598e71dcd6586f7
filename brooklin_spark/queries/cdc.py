"""CDC / envelope queries: the data-plane semantics of the reference
(translate, before-image, upsert-apply, checkpoint bookkeeping) expressed as
oracle-checkable batch queries over the events table.

Reference parity: BrooklinEnvelope fields + op-codes
(BrooklinEnvelope.java:22-32, BrooklinEnvelopeMetadataConstants.java:19-45),
checkpoint string (KafkaConnectorTask.java:152), CDC apply = the consumer-side
materialization a Brooklin destination would build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from brooklin_spark.io import table
from brooklin_spark.registry import query

_OP_SQL = """CASE WHEN event_type = 'signup' THEN 'INSERT'
                  WHEN event_type = 'error' THEN 'DELETE'
                  ELSE 'UPDATE' END"""


# ---------------------------------------------------------------------------
# translate: events → envelope projection (typed CDC columns + checkpoint).
# One narrow projection — at 100 TB this is scan-speed, no shuffle.
# ---------------------------------------------------------------------------


@query(
    "cdc_envelope_translate",
    oracle=f"""
    SELECT 'events' AS topic,
           CAST(user_id % 8 AS INTEGER) AS partition,
           event_id AS "offset",
           CAST(user_id AS VARCHAR) AS key_str,
           {_OP_SQL} AS op_code,
           event_id AS scn,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           CAST(user_id % 8 AS VARCHAR) || '-' || CAST(event_id AS VARCHAR) AS checkpoint,
           length(props) AS value_len
    FROM events
    """,
)
def cdc_envelope_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions.envelope import OP_CODE_EXPR, checkpoint_col

    e = table(spark, sf_dir, "events")
    part = F.pmod(F.col("user_id"), F.lit(8)).cast("int")
    return e.select(
        F.lit("events").alias("topic"),
        part.alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").alias("key_str"),
        OP_CODE_EXPR.alias("op_code"),
        F.col("event_id").alias("scn"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        checkpoint_col(part, F.col("event_id")).alias("checkpoint"),
        F.length("props").cast("long").alias("value_len"),
    )


# ---------------------------------------------------------------------------
# before-image: previous_value per key in scn order — the CDC UPDATE
# envelope's _previousValue. One shuffle on the key.
# ---------------------------------------------------------------------------


@query(
    "cdc_before_image",
    oracle=f"""
    SELECT event_id, user_id,
           {_OP_SQL} AS op_code,
           props AS value,
           LAG(props) OVER (PARTITION BY user_id ORDER BY event_id) AS previous_value
    FROM events
    """,
)
def cdc_before_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    from brooklin_spark.functions.envelope import OP_CODE_EXPR

    w = W.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "event_id",
        "user_id",
        OP_CODE_EXPR.alias("op_code"),
        F.col("props").alias("value"),
        F.lag("props").over(w).alias("previous_value"),
    )


# ---------------------------------------------------------------------------
# apply: materialize final state from the change stream — last write wins in
# scn order; a terminal DELETE removes the key. This is MERGE INTO semantics
# built from window + filter (no Delta dependency).
# ---------------------------------------------------------------------------


@query(
    "cdc_apply_upserts",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, props, {_OP_SQL} AS op_code,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events)
    SELECT user_id, props AS final_value, event_id AS final_scn,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1 AND op_code <> 'DELETE'
    """,
)
def cdc_apply_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    from brooklin_spark.functions.envelope import OP_CODE_EXPR

    w = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    ranked = e.select(
        "user_id",
        "event_id",
        "props",
        OP_CODE_EXPR.alias("op_code"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("user_id")).cast("bigint").alias("n_changes"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op_code") != "DELETE")).select(
        "user_id",
        F.col("props").alias("final_value"),
        F.col("event_id").alias("final_scn"),
        "n_changes",
    )


# ---------------------------------------------------------------------------
# checkpoint bookkeeping: per-partition committed position = max contiguous
# offset delivered (ZookeeperCheckpointProvider semantics: commit the acked
# prefix — here all rows are acked, so it's the max scn per partition).
# ---------------------------------------------------------------------------


@query(
    "cdc_checkpoint_summary",
    oracle="""
    WITH p AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition, event_id FROM events)
    SELECT partition,
           COUNT(*) AS n_events,
           CAST(MAX(event_id) AS BIGINT) AS committed_offset,
           CAST(MIN(event_id) AS BIGINT) AS start_offset,
           CAST(partition AS VARCHAR) || '-' || CAST(MAX(event_id) AS VARCHAR) AS checkpoint
    FROM p GROUP BY partition
    """,
)
def cdc_checkpoint_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions.envelope import checkpoint_col

    e = table(spark, sf_dir, "events")
    part = F.pmod(F.col("user_id"), F.lit(8)).cast("int")
    return (
        e.groupBy(part.alias("partition"))
        .agg(
            F.count("*").alias("n_events"),
            F.max("event_id").cast("bigint").alias("committed_offset"),
            F.min("event_id").cast("bigint").alias("start_offset"),
        )
        .withColumn(
            "checkpoint", checkpoint_col("partition", "committed_offset")
        )
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history build: every change event becomes a versioned row
# with [valid_from, valid_to) and an is_current flag — the
# slowly-changing-dimension materialization a warehouse derives from the
# CDC stream that cdc_apply_upserts compacts. One key-partitioned window
# (lead over event order); no second scan, no join. At 100 TB the window
# partitions by key — the same shuffle the upsert compaction already pays.
# ---------------------------------------------------------------------------


@query(
    "cdc_scd2_history",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_id, props, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS next_scn
      FROM events)
    SELECT user_id,
           CAST(version AS BIGINT) AS version,
           event_id AS valid_from_scn,
           COALESCE(next_scn, CAST(9223372036854775807 AS BIGINT)) AS valid_to_scn,
           CAST(next_scn IS NULL AS BOOLEAN) AS is_current,
           props AS value
    FROM versions
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    v = e.select(
        "user_id",
        "event_id",
        "props",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("event_id").over(w).alias("next_scn"),
    )
    return v.select(
        "user_id",
        "version",
        F.col("event_id").alias("valid_from_scn"),
        F.coalesce(F.col("next_scn"), F.lit(9223372036854775807).cast("bigint")).alias(
            "valid_to_scn"
        ),
        F.col("next_scn").isNull().alias("is_current"),
        F.col("props").alias("value"),
    )


# ---------------------------------------------------------------------------
# Streaming CDC materialization through the REAL materialize sink: the
# change stream replays in micro-batches, each foreachBatch merge writes
# a new versioned snapshot (highest-scn-wins, tombstone-retaining,
# pointer-swapped — sinks/materialize.py), and the final reader view must
# equal the one-shot batch compaction. This is the consumer-side MERGE
# the reference leaves to users, exercised end-to-end with engine
# checkpoints rather than as a batch shortcut.
# ---------------------------------------------------------------------------


@query(
    "streaming_cdc_materialize",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, props, {_OP_SQL} AS op_code,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT CAST(user_id AS VARCHAR) AS k, props AS value, op_code, event_id AS scn
    FROM ranked WHERE rn = 1 AND op_code <> 'DELETE'
    """,
)
def streaming_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from brooklin_spark.functions.envelope import OP_CODE_EXPR
    from brooklin_spark.sinks.materialize import merge_batch, read_state
    from brooklin_spark.streaming.pipelines import events_stream

    s = events_stream(spark, sf_dir)
    env = s.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("props").alias("value"),
        OP_CODE_EXPR.alias("op_code"),
        F.col("event_id").alias("scn"),
        F.lit(None).cast("bigint").alias("offset"),
    )
    root = tempfile.mkdtemp(prefix=f"bk-mat-{uuid.uuid4().hex[:8]}-")
    ckpt = tempfile.mkdtemp(prefix=f"bk-mat-ck-{uuid.uuid4().hex[:8]}-")
    q = (
        env.writeStream.foreachBatch(lambda df, _e: merge_batch(df, root, spark))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    st = read_state(spark, root)
    return st.select("k", "value", "op_code", "scn")


# ---------------------------------------------------------------------------
# GDPR purge manifest: "forget these customers" as a cascade audit — the
# rows each table would lose when a deletion request lands, BEFORE any
# destructive write (the manifest is what a compliance pipeline reviews
# and replays). Cascade: customer -> orders (FK o_custkey) -> lineitem
# (FK l_orderkey). Shape: the seed key set is filter-derived and rides
# BROADCAST semi-joins down the chain — the fact tables are never
# shuffled, only probed; per-table stats union into a 3-row manifest.
# ---------------------------------------------------------------------------

_PURGE_MOD = 97


@query(
    "gdpr_purge_manifest",
    oracle=f"""
    WITH seed AS (SELECT c_custkey FROM customer WHERE c_custkey % {_PURGE_MOD} = 0),
    o AS (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM seed)),
    l AS (SELECT l_orderkey FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM o))
    SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
           COUNT(DISTINCT c_custkey) AS n_keys,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM seed
    UNION ALL
    SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
           CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
    FROM o
    UNION ALL
    SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey),
           CAST(MIN(l_orderkey) AS BIGINT), CAST(MAX(l_orderkey) AS BIGINT)
    FROM l
    """,
)
def gdpr_purge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    seed = cust.filter(F.col("c_custkey") % _PURGE_MOD == 0).select("c_custkey")
    o = orders.join(
        F.broadcast(seed), orders.o_custkey == seed.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey")
    okeys = o.select("o_orderkey")
    # the seed set broadcasts; okeys scales with the orders fact (~1/97 of
    # it), so its semi-join is AQE-sized, not hint-forced
    l = li.join(
        okeys, li.l_orderkey == okeys.o_orderkey, "left_semi"
    ).select("l_orderkey")

    def stats(df: DataFrame, name: str, key: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
            F.min(key).cast("bigint").alias("min_key"),
            F.max(key).cast("bigint").alias("max_key"),
        )

    return (
        stats(seed, "customer", "c_custkey")
        .unionAll(stats(o, "orders", "o_orderkey"))
        .unionAll(stats(l, "lineitem", "l_orderkey"))
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup: each purchase event resolved against the
# dimension version (SCD2 history over the user's signup/click changes)
# valid at the fact's SCN — the temporal-join consumer of cdc_scd2_history.
# The oracle states it as the textbook interval join (from <= scn < to);
# the ENGINE refuses that shape (an inequality join explodes at scale) and
# instead runs the as-of composition: dim versions and facts union-tagged,
# ONE window pass per user carries the last-seen version struct forward.
# Same semantics, one shuffle on user_id, zero joins.
# ---------------------------------------------------------------------------


@query(
    "cdc_scd2_pit_lookup",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, props FROM events
      WHERE event_type IN ('signup', 'click')),
    dim AS (
      SELECT user_id, props,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version,
             event_id AS valid_from_scn,
             COALESCE(LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id),
                      CAST(9223372036854775807 AS BIGINT)) AS valid_to_scn
      FROM src),
    facts AS (
      SELECT event_id, user_id FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id,
           CAST(d.version AS BIGINT) AS dim_version,
           d.props AS dim_value,
           d.version IS NOT NULL AS matched
    FROM facts f
    LEFT JOIN dim d ON d.user_id = f.user_id
      AND f.event_id >= d.valid_from_scn AND f.event_id < d.valid_to_scn
    """,
)
def cdc_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    dim_src = e.filter(F.col("event_type").isin("signup", "click"))
    w = W.partitionBy("user_id").orderBy("event_id")
    dim = dim_src.select(
        "user_id",
        F.col("event_id").alias("scn"),
        F.struct(
            F.row_number().over(w).cast("bigint").alias("version"),
            F.col("props").alias("value"),
        ).alias("ver"),
        F.lit(1).alias("is_dim"),
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("scn"),
        F.lit(None).cast(dim.schema["ver"].dataType).alias("ver"),
        F.lit(0).alias("is_dim"),
    )
    # event ids are globally unique, so (scn) alone orders dim vs fact
    # rows unambiguously; the carried struct is the version in effect.
    tagged = dim.unionByName(facts)
    cw = (
        W.partitionBy("user_id")
        .orderBy("scn")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "eff", F.last("ver", ignorenulls=True).over(cw)
    ).filter(F.col("is_dim") == 0)
    return carried.select(
        F.col("scn").alias("event_id"),
        "user_id",
        F.col("eff.version").alias("dim_version"),
        F.col("eff.value").alias("dim_value"),
        F.col("eff").isNotNull().alias("matched"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate-view refresh (IVM): a materialized per-user
# aggregate built over the first half of the month is refreshed by
# MERGING the second half's CDC deltas (error rows retract, everything
# else inserts) instead of recomputing — the algebraic property (SUM and
# COUNT are abelian-group aggregates) that makes continuous view refresh
# O(delta), not O(table), at 100 TB. Shape: two partial aggregates + one
# full-outer merge on the key; the oracle is the FULL RECOMPUTE, so the
# green row *proves* refreshed == recomputed. Decimal sums keep the
# retraction arithmetic exact.
# ---------------------------------------------------------------------------

_IVM_SPLIT = "2024-01-16"


@query(
    "cdc_incremental_agg_refresh",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_IVM_SPLIT}' THEN 1
                         WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT)
             AS n_events,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_IVM_SPLIT}'
                           THEN CAST(value AS DECIMAL(14,2))
                         WHEN event_type = 'error'
                           THEN -CAST(value AS DECIMAL(14,2))
                         ELSE CAST(value AS DECIMAL(14,2)) END) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY user_id
    HAVING SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_IVM_SPLIT}' THEN 1
                    WHEN event_type = 'error' THEN -1 ELSE 1 END) <> 0
    """,
)
def cdc_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    is_base = F.col("ts").cast("date") < F.lit(_IVM_SPLIT).cast("date")
    dec = F.col("value").cast("decimal(14,2)")
    # The materialized state: plain insert-only aggregate over the base.
    state = (
        e.filter(is_base)
        .groupBy("user_id")
        .agg(F.count("*").alias("s_n"), F.sum(dec).alias("s_sum"))
    )
    # The delta batch: signed by CDC op (error = DELETE retraction).
    sign = F.when(F.col("event_type") == "error", -1).otherwise(1)
    delta = (
        e.filter(~is_base)
        .groupBy("user_id")
        .agg(
            F.sum(sign).alias("d_n"),
            F.sum(sign.cast("decimal(4,0)") * dec).alias("d_sum"),
        )
    )
    zero = F.lit(0).cast("decimal(14,2)")
    merged = state.join(delta, "user_id", "full_outer").select(
        "user_id",
        (F.coalesce("s_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("bigint")
        .alias("n_events"),
        (F.coalesce(F.col("s_sum"), zero) + F.coalesce(F.col("d_sum"), zero))
        .cast("double")
        .alias("sum_value"),
    )
    return merged.filter(F.col("n_events") != 0)


# ---------------------------------------------------------------------------
# Deterministic PII tokenization with referential integrity: customer keys
# are replaced by keyed-hash tokens (md5 over a salt || key) in BOTH the
# dimension and the fact table, and the revenue rollup is computed over
# the TOKENIZED join — proving the pseudonymized tables still join
# correctly (the property a privacy-preserving analytics export must
# keep). Map-side token derivation (no lookup table to leak), broadcast
# dim join; the oracle re-derives the same tokens and must land on the
# same segment totals.
# ---------------------------------------------------------------------------

_TOKEN_SALT = "brooklin-pii-v1:"


@query(
    "security_tokenized_join",
    oracle=f"""
    WITH c AS (
      SELECT md5('{_TOKEN_SALT}' || CAST(c_custkey AS VARCHAR)) AS c_token,
             c_mktsegment
      FROM customer),
    o AS (
      SELECT md5('{_TOKEN_SALT}' || CAST(o_custkey AS VARCHAR)) AS o_token,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders)
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT c.c_token) AS n_tokens,
           CAST(SUM(o.price) AS DOUBLE) AS revenue
    FROM o JOIN c ON c.c_token = o.o_token
    GROUP BY 1
    """,
)
def security_tokenized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")

    def token(key_col):
        return F.md5(F.concat(F.lit(_TOKEN_SALT), F.col(key_col).cast("string")))

    c = cust.select(token("c_custkey").alias("c_token"), "c_mktsegment")
    o = orders.select(
        token("o_custkey").alias("o_token"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    return (
        o.join(c, o.o_token == c.c_token)  # AQE sizes the dim side
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("c_token").alias("n_tokens"),
            F.sum("price").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution across snapshot generations: a source adds a column
# mid-stream (the most common CDC schema change; reference analog is the
# Avro reader/writer resolution in functions/serde.py — this is the same
# contract at the LAKE layer). Two parquet generations with different
# schemas are read back as ONE table via mergeSchema; pre-evolution rows
# surface the new column as NULL, and the rollup proves no row and no
# value is lost across the boundary. At 100 TB mergeSchema's footer-union
# cost is per-FILE metadata work (no data rewrite — the point of additive
# evolution); the aggregate is one scan + one small shuffle.
# ---------------------------------------------------------------------------


@query(
    "cdc_schema_evolution_union",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM unioned GROUP BY 1
    """,
)
def cdc_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    o = table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="bk-schevo-")
    # generation 1: pre-evolution schema (no priority column)
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{root}/gen=1")
    # generation 2: the source added o_orderpriority
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{root}/gen=2")
    # the one batch parquet read outside io.read_parquet: merging the two
    # generations' footers IS the schema evolution this query exercises
    evolved = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/gen=1", f"{root}/gen=2"
    )
    return evolved.groupBy(
        F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias("priority")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias(
            "total_price"
        ),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers: group the corpus by the QI
# tuple (lang, source, length bucket) and report, per lang, the
# equivalence-class size distribution — min k, classes below the k=3
# floor, and the suppression set (docs whose class is too small to
# release). The standard privacy gate a dataset passes before export;
# complements the row-level PII redaction (text_pii_redaction) with the
# distributional re-identification check.
#
# Scale shape: one fact-scale map-side-combined groupBy on the QI tuple,
# then a |classes|-row per-lang aggregate — the same two-level shape as
# dedup_exact_fingerprint. Exact integer output only.
# ---------------------------------------------------------------------------

_KANON_K = 3
_KANON_BUCKET = 100


@query(
    "privacy_k_anonymity_report",
    oracle=f"""
    WITH classes AS (
      SELECT lang, source, n_chars // {_KANON_BUCKET} AS len_bucket,
             COUNT(*) AS k
      FROM documents GROUP BY 1, 2, 3)
    SELECT lang,
           COUNT(*) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_classes,
           CAST(SUM(CASE WHEN k < {_KANON_K} THEN k ELSE 0 END) AS BIGINT) AS n_suppressed_docs,
           CAST(SUM(k) AS BIGINT) AS n_docs
    FROM classes GROUP BY lang
    """,
)
def privacy_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang",
        "source",
        (F.col("n_chars") / _KANON_BUCKET).cast("bigint").alias("len_bucket"),
    ).agg(F.count("*").alias("k"))
    small = F.col("k") < _KANON_K
    return classes.groupBy("lang").agg(
        F.count("*").alias("n_classes"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum(small.cast("int")).cast("bigint").alias("n_violating_classes"),
        F.sum(F.when(small, F.col("k")).otherwise(0)).cast("bigint").alias("n_suppressed_docs"),
        F.sum("k").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Differentially-private release counts: per-(lang, source) document counts
# with Laplace(sensitivity/epsilon) noise via the inverse CDF,
# noise = -b·sign(u)·ln(1−2|u|). The uniform u is DERIVED DETERMINISTICALLY
# from md5(lang|source) so the release is reproducible and oracle-checkable —
# a production release swaps the hash for a real RNG but keeps every other
# line. Sensitivity is 1 (one document moves one cell count by one);
# epsilon 0.5 per release. One corpus scan + a |lang×source|-cell groupBy;
# the noise arithmetic is cell-scale. The true_count column exists for the
# correctness harness — a real release drops it.
# ---------------------------------------------------------------------------

_DP_EPSILON = 0.5
_DP_SCALE = 1.0 / _DP_EPSILON  # Laplace b = sensitivity / epsilon


@query(
    "privacy_dp_noisy_counts",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS true_count
      FROM documents GROUP BY lang, source),
    seeded AS (
      SELECT lang, source, true_count,
             ((('0x' || substr(md5(lang || '|' || source), 1, 8))::BIGINT % 999)
              - 499) / 1000.0 AS u
      FROM cells)
    SELECT lang, source, true_count,
           {_DP_EPSILON} AS epsilon,
           round(true_count
                 + -{_DP_SCALE} * (CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 END)
                   * ln(1.0 - 2.0 * abs(u)), 6) AS noisy_count
    FROM seeded
    """,
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").alias("true_count")
    )
    # F.concat (NOT concat_ws) so a NULL lang/source propagates NULL into
    # the seed — matching the oracle's `||`, which yields NULL noisy_count
    # for NULL-keyed cells instead of a silently real noise draw.
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("source"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = ((h % 999) - 499) / F.lit(1000.0)
    sign = F.when(u >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = F.lit(-_DP_SCALE) * sign * F.log(F.lit(1.0) - 2.0 * F.abs(u))
    return cells.select(
        "lang",
        "source",
        "true_count",
        F.lit(_DP_EPSILON).alias("epsilon"),
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff / mirror reconciliation: classify every key across two
# table snapshots as added / removed / changed / unchanged and report
# exact integer drift — the "did the mirror diverge" audit a Brooklin
# operator runs between source and destination after an incident
# (reference analog: the mirroring flows of
# KafkaMirrorMakerConnectorTask.java; the audit itself is the analytics
# extension). Snapshots here are deterministic residue-class slices of
# orders standing in for T-1 and T. ONE full-outer key join (no
# broadcast: both sides are table-scaled); all drift arithmetic rides
# integer cents.
# ---------------------------------------------------------------------------


@query(
    "cdc_snapshot_diff_reconcile",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 97 <> 3),
    curr AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 89 <> 7),
    d AS (
      SELECT COALESCE(b.k, c.k) AS k, b.cents AS bc, c.cents AS cc
      FROM base b FULL OUTER JOIN curr c ON c.k = b.k)
    SELECT CASE WHEN bc IS NULL THEN 'added'
                WHEN cc IS NULL THEN 'removed'
                WHEN bc <> cc THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN bc IS NOT NULL AND cc IS NOT NULL
                         THEN abs(cc - bc) ELSE 0 END) AS BIGINT)
             AS drift_cents
    FROM d GROUP BY 1
    """,
)
def cdc_snapshot_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 97 != 3).select(
        F.col("o_orderkey").alias("k"), cents.alias("bc")
    )
    curr = o.filter(F.col("o_orderkey") % 89 != 7).select(
        F.col("o_orderkey").alias("k"),
        (
            cents
            + F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)
        ).alias("cc"),
    )
    d = base.join(curr, "k", "full_outer")
    status = (
        F.when(F.col("bc").isNull(), "added")
        .when(F.col("cc").isNull(), "removed")
        .when(F.col("bc") != F.col("cc"), "changed")
        .otherwise("unchanged")
    )
    return d.select(status.alias("status"), "bc", "cc").groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum(
            F.when(
                F.col("bc").isNotNull() & F.col("cc").isNotNull(),
                F.abs(F.col("cc") - F.col("bc")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("drift_cents"),
    )


# ---------------------------------------------------------------------------
# l-diversity: the companion gate to k-anonymity — an equivalence class
# can be large (k-anonymous) yet still leak if everyone in it shares one
# sensitive value. Classes are customer quasi-identifiers
# (nation x market segment); the sensitive attribute is the account
# balance bucket. l = distinct sensitive values per class; the report
# aggregates per nation so the release owner sees which geographies fail
# distinct-l >= 3. Shape: one customer-scale groupBy on the QI tuple with
# a distinct-count, then a |classes|-row rollup — same two-level plan as
# the k-anonymity report, scale-safe by construction.
# ---------------------------------------------------------------------------

_LDIV_L = 3
_LDIV_BUCKET = 1000


@query(
    "privacy_l_diversity_report",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS k,
             COUNT(DISTINCT CAST(FLOOR(c_acctbal / {_LDIV_BUCKET}) AS BIGINT)) AS l
      FROM customer GROUP BY 1, 2)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           COUNT(*) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           round(AVG(CAST(l AS DOUBLE)), 6) AS avg_l,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM classes GROUP BY c_nationkey
    """,
)
def privacy_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("k"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / _LDIV_BUCKET).cast("bigint")
        ).alias("l"),
    )
    low = F.col("l") < _LDIV_L
    return classes.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    ).agg(
        F.count("*").alias("n_classes"),
        F.min("l").cast("bigint").alias("min_l"),
        F.round(F.avg(F.col("l").cast("double")), 6).alias("avg_l"),
        F.sum(low.cast("int")).cast("bigint").alias("n_low_diversity"),
        F.sum(F.when(low, F.col("k")).otherwise(0)).cast("bigint").alias(
            "n_rows_at_risk"
        ),
    )
