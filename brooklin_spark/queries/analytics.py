"""Event-stream product analytics: funnel conversion and cohort retention —
the aggregate shapes an events pipeline feeds downstream. Single-shuffle
per-user aggregations; timestamps compared as raw values (no formatting in
the comparison path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from brooklin_spark.io import table
from brooklin_spark.operators import graph as GR
from brooklin_spark.operators.distrank import (
    global_ntile,
    global_row_number,
    ntile_from_rank,
)
from brooklin_spark.registry import query

# ---------------------------------------------------------------------------
# Funnel: signup → click → purchase, strictly ordered by first occurrence.
# One groupBy(user) with conditional-min timestamps, then one global agg.
# ---------------------------------------------------------------------------


@query(
    "events_funnel_conversion",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_signup,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
    FROM stage
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stage = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stage.agg(
        F.count("*").alias("n_users"),
        F.sum(signed.cast("int")).cast("bigint").alias("reached_signup"),
        F.sum(clicked.cast("int")).cast("bigint").alias("reached_click"),
        F.sum(purchased.cast("int")).cast("bigint").alias("reached_purchase"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity day; how many are active
# k days later. Two aggregations, one broadcast-back of the cohort map.
# ---------------------------------------------------------------------------


@query(
    "events_cohort_retention",
    oracle="""
    WITH firstday AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firstday f ON f.user_id = e.user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS active_users
    FROM activity WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    firstday = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        # per-USER table: corpus-scaled — no broadcast hint (AQE
        # broadcasts at small runtime sizes, key-shuffles at scale)
        e.join(firstday, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Hourly anomaly score: per event type, z-score of each hour's volume
# against the type's own mean/stddev — the monitoring shape a pipeline
# operator alarms on (traffic spikes/drops per stream). Two aggregations;
# the per-type stats broadcast back onto the hourly counts. round-8 on the
# z-score (libm sqrt/division policy); sample stddev on exact integer
# counts matches across engines.
# ---------------------------------------------------------------------------


@query(
    "events_hourly_anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sigma
      FROM hourly GROUP BY event_type)
    SELECT h.event_type, h.hour, h.n,
           round((h.n - s.mu) / s.sigma, 8) AS zscore,
           CAST(abs((h.n - s.mu) / s.sigma) > 3.0 AS BOOLEAN) AS is_anomaly
    FROM hourly h JOIN stats s ON s.event_type = h.event_type
    WHERE s.sigma > 0
    """,
)
def events_hourly_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_type",
            "hour",
            "n",
            F.round(z, 8).alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / rolling WAU: distinct users per day and per trailing 7-day window.
# Rolling COUNT DISTINCT can't ride a window frame (distinct state isn't
# mergeable per-frame), so the scale shape is the day×activity range join
# on the (tiny) distinct (day, user) set — |days|·7 join rows, never raw
# events. The canonical activity metric every event pipeline reports.
# ---------------------------------------------------------------------------


@query(
    "events_dau_wau",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM d)
    SELECT strftime(days.day, '%Y-%m-%d') AS day,
           (SELECT COUNT(DISTINCT d2.user_id) FROM d d2
             WHERE d2.day = days.day) AS dau,
           (SELECT COUNT(DISTINCT d3.user_id) FROM d d3
             WHERE d3.day BETWEEN days.day - 6 AND days.day) AS wau
    FROM days
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # four readers (day spine, DAU agg, WAU band join, final spine join):
    # checkpoint the distinct (day, user) table once — it is the
    # fact-scale intermediate here, and without the cut the events
    # scan+distinct re-executes per reader
    d = (
        e.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = d.select("day").distinct()
    dau = d.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    win = days.alias("w").join(
        d.alias("a"),
        (F.col("a.day") <= F.col("w.day"))
        & (F.col("a.day") >= F.date_sub(F.col("w.day"), 6)),
    )
    wau = win.groupBy(F.col("w.day").alias("day")).agg(
        F.countDistinct("a.user_id").alias("wau")
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau")
    )


# ---------------------------------------------------------------------------
# Event-transition analysis (first-order Markov counts): per-user event
# sequences lag-joined into (from_type -> to_type) transition counts with
# conditional probabilities — the path-analysis primitive behind funnel
# discovery. One key-partitioned window + one small groupBy; transition
# matrix size is |event_types|^2, broadcast-tiny at any corpus scale.
# ---------------------------------------------------------------------------


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    totals AS (
      SELECT from_type, SUM(n) AS total FROM trans GROUP BY from_type)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n_transitions,
           round(CAST(t.n AS DOUBLE) / tot.total, 6) AS prob
    FROM trans t JOIN totals tot ON tot.from_type = t.from_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = trans.groupBy(F.col("from_type").alias("tf")).agg(
        F.sum("n").alias("total")
    )
    return trans.join(F.broadcast(totals), F.col("tf") == trans.from_type).select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Markov path-anomaly scoring: each user's event sequence scored by the
# sum of log transition probabilities under the corpus transition matrix
# (events_transition_matrix) — unusual navigation paths (bots, abuse)
# surface as low per-step likelihood. The matrix is |types|^2 and
# broadcast back; the sequence pass is the same key-partitioned window.
# round(6) per log term before summing keeps the fold engine-exact.
# ---------------------------------------------------------------------------


@query(
    "events_path_anomaly",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    totals AS (SELECT from_type, SUM(n) AS total FROM trans GROUP BY from_type),
    probs AS (
      SELECT t.from_type, t.to_type,
             round(ln(CAST(t.n AS DOUBLE) / tot.total), 6) AS logp
      FROM trans t JOIN totals tot ON tot.from_type = t.from_type),
    steps AS (
      SELECT s.user_id, p.logp
      FROM seq s JOIN probs p
        ON p.from_type = s.prev_type AND p.to_type = s.event_type
      WHERE s.prev_type IS NOT NULL)
    SELECT user_id,
           COUNT(*) AS n_steps,
           round(SUM(logp), 6) AS log_likelihood,
           round(SUM(logp) / COUNT(*), 6) AS per_step_logp
    FROM steps GROUP BY user_id
    """,
)
def events_path_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # two readers (transition counts + per-user scoring join): checkpoint
    # the lagged sequence once — the events scan + user window is the
    # fact-scale cost here
    seq = (
        e.select(
            "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .localCheckpoint(eager=False)
    )
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    totals = trans.groupBy(F.col("from_type").alias("tf")).agg(
        F.sum("n").alias("total")
    )
    probs = trans.join(F.broadcast(totals), F.col("tf") == trans.from_type).select(
        "from_type",
        "to_type",
        F.round(F.log(F.col("n").cast("double") / F.col("total")), 6).alias("logp"),
    )
    steps = seq.join(
        F.broadcast(probs),
        (probs.from_type == seq.prev_type) & (probs.to_type == seq.event_type),
    )
    return steps.groupBy("user_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.sum("logp"), 6).alias("log_likelihood"),
        F.round(F.sum("logp") / F.count("*"), 6).alias("per_step_logp"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity (association lift): part pairs co-ordered in the
# same order, lift = P(a,b) / (P(a)·P(b)). The in-order self-join is
# bounded by basket size (avg ~4 lines), so pair counts grow linearly
# with orders — the same carried-size discipline as the n-gram dedup
# join. Support floor keeps the matrix sparse.
# ---------------------------------------------------------------------------


@query(
    "basket_part_affinity",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
    part_freq AS (
      SELECT l_partkey, COUNT(*) AS f FROM baskets GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS together
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3)
    SELECT p.part_a, p.part_b, CAST(p.together AS BIGINT) AS n_together,
           round(CAST(p.together AS DOUBLE) * n.n / (fa.f * fb.f), 6) AS lift
    FROM pairs p
    JOIN part_freq fa ON fa.l_partkey = p.part_a
    JOIN part_freq fb ON fb.l_partkey = p.part_b
    CROSS JOIN n_orders n
    """,
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs come from per-basket sorted arrays (collect_set -> posexplode
    x slice), NOT a self-join: the join variant shuffles BOTH copies of
    the basket table and materializes every candidate row through the
    join operator (measured 5.9 s at sf1); generating combinations inside
    the row pipeline after ONE orderkey-grouped exchange halved that.
    Basket size bounds the blow-up (avg ~4 lines -> ~6 pairs)."""
    li = table(spark, sf_dir, "lineitem")
    # three readers (frequency explode, pair generation, order count):
    # checkpoint the basket table once — one orderkey exchange total,
    # and n_orders falls out as a count of basket rows instead of a
    # second lineitem scan
    baskets = GR.baskets(li).localCheckpoint(eager=False)
    n_orders = baskets.agg(
        F.count(F.lit(1)).alias("n_orders")
    )  # 1-row side, broadcast below (no separate driver action)
    freq = (
        baskets.select(F.explode("parts").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("f"))
    )
    pairs = (
        GR.pairs_within(baskets, "parts", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 3)
    )
    fa = freq.withColumnRenamed("fp", "pa").withColumnRenamed("f", "f_a")
    fb = freq.withColumnRenamed("fp", "pb").withColumnRenamed("f", "f_b")
    return (
        # per-part frequency tables scale with |parts| — no hints:
        # AQE broadcasts locally, key-shuffles at catalog scale
        pairs.join(fa, F.col("pa") == pairs.part_a)
        .join(fb, F.col("pb") == pairs.part_b)
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("together").cast("bigint").alias("n_together"),
            F.round(
                F.col("together").cast("double")
                * F.col("n_orders")
                / (F.col("f_a") * F.col("f_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation: per-customer recency/frequency/monetary quintiles
# (ntile with deterministic tie-breaks) composed into a segment label —
# the standard audience-building aggregate. Scale shape: one per-customer
# rollup, then three DISTRIBUTED exact ntiles (operators/distrank.py —
# range repartition + per-partition rank + carry-in offsets) over thin
# (custkey, metric) projections. The naive `ntile().over(W.orderBy(...))`
# funnels every customer through ONE task three times — the r3 verdict's
# top scale-killer — so no unpartitioned window appears anywhere in this
# plan; the three score columns rejoin the (checkpointed-once) customer
# aggregate on custkey.
# ---------------------------------------------------------------------------


@query(
    "customers_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, frequency,
             CAST(monetary AS DOUBLE) AS monetary,
             NTILE(5) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r_score,
             NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
             NTILE(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
      FROM cust)
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment,
           COUNT(*) AS n_customers,
           round(AVG(monetary), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3, 4
    """,
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("monetary"),
    )
    # four readers (the fused rank union's three branches + the rejoin
    # base): cut the lineage once so the orders rollup runs exactly once
    cust = cust.localCheckpoint(eager=False)

    # ONE distrank pass for all three scores (r9-opt, guide §2.4: two
    # operations keyed the same way share one exchange — here three
    # independent ntiles share one range exchange). Each metric maps
    # ORDER-PRESERVINGLY and EXACTLY onto a long (epoch days; the count
    # itself; decimal(12,2) cents), the three thin tables union with a
    # metric tag, and a single global_row_number over (tag, v, custkey)
    # yields, per tag, exactly the order (metric ASC, custkey ASC) the
    # three separate ntiles used. Every tag holds the same N = total/3
    # rows (one per customer), so per-tag rank = rk - tag*N and the tile
    # is the same pure (rank, N) function — bit-identical scores from a
    # third of the rank machinery (was: 3 range exchanges + 3 broadcast
    # offset joins + 3 custkey rejoins; now: 1 + 1 + 1 pivot groupBy).
    tagged = (
        cust.select(
            F.lit(0).alias("m"),
            F.datediff("last_order", F.lit("1970-01-01")).cast("long").alias("v"),
            "o_custkey",
        )
        .unionAll(
            cust.select(F.lit(1), F.col("frequency").cast("long"), "o_custkey")
        )
        .unionAll(
            cust.select(
                F.lit(2), (F.col("monetary") * 100).cast("long"), "o_custkey"
            )
        )
    )
    ranked = global_row_number(
        tagged,
        [F.asc("m"), F.asc("v"), F.asc("o_custkey")],
        out="rk",
        total_out="tot",
    )
    n_cust = F.col("tot") / 3  # exact: tot = 3N by construction
    tile = ntile_from_rank(
        F.col("rk") - F.col("m") * n_cust, n_cust, 5
    ).cast("bigint")
    scores = (
        ranked.select("o_custkey", "m", tile.alias("t"))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("m") == 0, F.col("t"))).alias("r_score"),
            F.max(F.when(F.col("m") == 1, F.col("t"))).alias("f_score"),
            F.max(F.when(F.col("m") == 2, F.col("t"))).alias("m_score"),
        )
    )
    scored = cust.select(
        "o_custkey",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
    ).join(scores, "o_custkey")
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.groupBy(
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        seg.alias("segment"),
    ).agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary"), 6).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# Equal-frequency binning: order values dealt into exact deciles — the
# feature-engineering step that turns a heavy-tailed numeric column into
# a uniform categorical (feature bucketization before model training).
# Unlike fixed-width histograms (profile_price_histogram), the bin
# EDGES adapt to the distribution; unlike approx_percentile buckets, the
# assignment is EXACT with a deterministic tie rule. Scale shape: the
# decile comes from the distributed rank decomposition
# (operators/distrank.py) over the thin (orderkey, price) projection —
# no single-partition sort of the fact table; per-bin stats are one
# 10-group aggregate. Decimal sums keep both engines bit-identical.
# ---------------------------------------------------------------------------


@query(
    "orders_price_decile_profile",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
      FROM orders)
    SELECT CAST(decile AS BIGINT) AS decile,
           COUNT(*) AS n_orders,
           round(MIN(o_totalprice), 2) AS lo_edge,
           round(MAX(o_totalprice), 2) AS hi_edge,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM ranked GROUP BY decile
    """,
)
def orders_price_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = global_ntile(
        o, 10, [F.asc("o_totalprice"), F.asc("o_orderkey")], out="decile"
    )
    return binned.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo_edge"),
        F.round(F.max("o_totalprice"), 2).alias("hi_edge"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill: dense per-type hourly spine (sequence + explode)
# left-joined onto the observed counts — missing hours appear as zero rows
# with is_gap=true, plus a per-type cumulative count. Scale: the spine is
# |types| x |hours| GENERATED rows (never shuffled from raw events); counts
# are pre-aggregated before the join, so the join touches aggregate-sized
# inputs only. The monitoring shape that turns sparse event rollups into
# chartable dense series.
# ---------------------------------------------------------------------------


@query(
    "events_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY 1),
    spine AS (
      SELECT b.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
      FROM bounds b)
    SELECT s.event_type,
           strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COALESCE(hy.n, 0) AS BIGINT) AS n,
           CAST(SUM(COALESCE(hy.n, 0)) OVER (
             PARTITION BY s.event_type ORDER BY s.h) AS BIGINT) AS cum_n,
           hy.n IS NULL AS is_gap
    FROM spine s
    LEFT JOIN hourly hy ON hy.event_type = s.event_type AND hy.h = s.h
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    filled = spine.join(hourly, ["event_type", "h"], "left")
    w = W.partitionBy("event_type").orderBy("h")
    n0 = F.coalesce("n", F.lit(0))
    return filled.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        n0.cast("bigint").alias("n"),
        F.sum(n0).over(w).cast("bigint").alias("cum_n"),
        F.col("n").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Interval-concurrency profile (sweep line, two-level): gap-sessionized user
# sessions become +1/-1 boundary deltas; the running sum of deltas is the
# number of concurrently-open sessions at each instant, and the output is
# each day's peak. The naive form is ONE global ordered window (a scale
# non-starter), so the engine decomposes the prefix sum: net delta per
# timestamp (shuffle on ts), per-DAY delta totals cumulated over the tiny
# day list (broadcast back), then an ORDER BY ts window scoped to each day
# partition plus the day's carried-in offset. Same math, no single-partition
# pass over the event volume — the canonical distributed-prefix-sum shape.
# ---------------------------------------------------------------------------


@query(
    "events_concurrency_profile",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                 ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged),
    sess AS (
      SELECT user_id, session_seq, MIN(ts) AS st, MAX(ts) AS en
      FROM numbered GROUP BY user_id, session_seq),
    deltas AS (
      SELECT st AS ts, 1 AS d FROM sess
      UNION ALL
      SELECT en + INTERVAL 1 SECOND AS ts, -1 AS d FROM sess),
    net AS (SELECT ts, SUM(d) AS d FROM deltas GROUP BY ts),
    run AS (SELECT ts, SUM(d) OVER (ORDER BY ts) AS conc FROM net),
    peaks AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(MAX(conc) AS BIGINT) AS peak_concurrency
      FROM run GROUP BY 1),
    starts AS (
      SELECT strftime(CAST(st AS DATE), '%Y-%m-%d') AS day,
             COUNT(*) AS sessions_started
      FROM sess GROUP BY 1)
    SELECT p.day, p.peak_concurrency,
           CAST(COALESCE(s.sessions_started, 0) AS BIGINT) AS sessions_started
    FROM peaks p LEFT JOIN starts s ON s.day = p.day
    """,
)
def events_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(uw)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    numbered = e.select("user_id", "ts", "event_id").withColumn(
        "session_seq",
        F.sum(is_new).over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sess = numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    # One pass over sessions: each emits its two boundary deltas via a
    # 2-element array explode (no union = no second evaluation of the
    # session subtree). The +1 rows ARE the session starts, so the
    # starts-per-day count folds into the same ts-level aggregation.
    bound = sess.select(
        F.explode(
            F.array(
                F.struct(F.col("st").alias("ts"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("en") + F.expr("INTERVAL 1 SECOND")).alias("ts"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("b")
    ).select("b.ts", "b.d")
    net = bound.groupBy("ts").agg(
        F.sum("d").alias("d"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_starts"),
    )
    # r9-opt fusion (guide §2.4 — one keyed pass instead of three): net is
    # per-ts boundary rows, so the day partitions below are bounded by
    # 86400 rows/day regardless of corpus size (the scale argument of the
    # old shape, unchanged). The old plan read net three times (daily
    # totals, offset-joined windowed run, starts) behind a localCheckpoint
    # plus a broadcast join; but the carry-in offset is CONSTANT within a
    # day, so max(conc) = carry + max(within-day running sum) — the
    # within-day running sum, the day's net delta, and the day's starts
    # all come out of ONE day-partitioned window pass + ONE groupBy(day)
    # (partitioning preserved, no extra exchange), and the carry is added
    # on the |days|-scale result. Checkpoint, join and two exchanges
    # removed; measured 1.01 -> 0.89 s min-of-5 at sf0.1 (every rep
    # faster), a wash within noise at sf1.
    perday = (
        net.withColumn("day", F.col("ts").cast("date"))
        .withColumn("run", F.sum("d").over(W.partitionBy("day").orderBy("ts")))
        .groupBy("day")
        .agg(
            F.max("run").alias("max_within"),
            F.sum("d").alias("day_d"),
            F.sum("n_starts").alias("sessions_started"),
        )
    )
    dw = W.orderBy("day")  # |days| rows only — not the event volume
    return perday.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.sum("day_d").over(dw) - F.col("day_d") + F.col("max_within"))
        .cast("bigint")
        .alias("peak_concurrency"),
        F.col("sessions_started").cast("bigint").alias("sessions_started"),
    )


# ---------------------------------------------------------------------------
# Distribution-drift report (PSI): population stability index of the event
# value distribution, first half of the month (reference) vs second half
# (current), per event type — the canonical feature-drift monitor a
# training pipeline gates retraining on. Shape: ONE scan, one groupBy on
# (type, bin) with conditional ref/cur counts riding the same aggregate
# (no second pass, no join of two scans); per-type totals come off the
# ≤10-bin-per-type result via a tiny window. Laplace smoothing keeps
# empty bins finite; fixed-width bins keep both engines bit-identical.
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"
_PSI_BIN_W = 50.0
_PSI_NBINS = 10


@query(
    "drift_psi_report",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             LEAST(CAST(FLOOR(value / {_PSI_BIN_W}) AS BIGINT), {_PSI_NBINS - 1}) AS bin,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_PSI_SPLIT}' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_PSI_SPLIT}' THEN 0 ELSE 1 END) AS n_cur
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, bin, n_ref, n_cur,
             SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
             SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur,
             COUNT(*) OVER (PARTITION BY event_type) AS nb
      FROM binned),
    terms AS (
      SELECT event_type,
             (n_ref + 0.5) / (t_ref + 0.5 * nb) AS p,
             (n_cur + 0.5) / (t_cur + 0.5 * nb) AS q,
             n_ref, n_cur
      FROM tot)
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS n_ref,
           CAST(SUM(n_cur) AS BIGINT) AS n_cur,
           round(SUM((p - q) * ln(p / q)), 8) AS psi,
           CAST(SUM((p - q) * ln(p / q)) > 0.1 AS BOOLEAN) AS drifted
    FROM terms GROUP BY event_type
    """,
)
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    is_ref = F.col("ts").cast("date") < F.lit(_PSI_SPLIT).cast("date")
    binned = e.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("bigint"),
            F.lit(_PSI_NBINS - 1).cast("bigint"),
        ).alias("bin"),
    ).agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(is_ref, 0).otherwise(1)).alias("n_cur"),
    )
    tw = W.partitionBy("event_type")
    tot = binned.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(tw).alias("t_ref"),
        F.sum("n_cur").over(tw).alias("t_cur"),
        F.count("*").over(tw).alias("nb"),
    )
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * F.col("nb"))
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * F.col("nb"))
    term = (p - q) * F.log(p / q)
    return tot.groupBy("event_type").agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
        F.round(F.sum(term), 8).alias("psi"),
        (F.sum(term) > 0.1).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Closed-form OLS trend per segment: slope/intercept/R^2 of daily revenue
# against the day index, per market segment — regression as PURE
# AGGREGATION (sufficient statistics Sx, Sy, Sxy, Sxx, Syy), the way
# distributed ML-lite fits at 100 TB: two groupBys, no iteration, no
# driver math beyond none. All sums are exact (bigint day index, decimal
# revenue); the normal-equation ratios drop to double at the end
# (round-6). Day index is days since the fact table's epoch.
# ---------------------------------------------------------------------------

_OLS_EPOCH = "1995-01-01"


@query(
    "orders_revenue_trend_ols",
    oracle=f"""
    WITH daily AS (
      SELECT c.c_mktsegment AS segment,
             DATEDIFF('day', DATE '{_OLS_EPOCH}', CAST(o.o_orderdate AS DATE)) AS x,
             SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    stats AS (
      SELECT segment,
             COUNT(*) AS n,
             SUM(x) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             SUM(x * x) AS sxx,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM daily GROUP BY segment)
    SELECT segment,
           CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round(POWER(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM stats
    """,
)
def orders_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    daily = (
        o.join(c, c.c_custkey == o.o_custkey)  # AQE sizes the dim side
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(_OLS_EPOCH).cast("date")
            ).alias("x"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("y"))
    )
    stats = daily.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("sxy"), F.col("syy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return stats.select(
        "segment",
        n.cast("bigint").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# EWMA-smoothed daily event volume per type: e_1 = x_1, e_t = a*x_t +
# (1-a)*e_{t-1} (pandas adjust=False semantics) — the standard trend
# smoother an ops dashboard lays over raw daily counts. The recursion is
# rewritten as a closed-form ordered cumulative sum so the whole query
# stays JVM-side window arithmetic (no per-key UDF loop):
#   e_t = (1-a)^t * SUM_{i<=t} x_i * w_i / (1-a)^i,  w_1 = 1, w_i = a.
# Scale shape: one (type, day) aggregate (single shuffle), then windows
# partitioned per series — parallelism = #series, state = horizon. The
# (1-a)^-i rescale bounds the horizon numerically (~2k days at a=0.3
# before double overflow); a longer horizon wants the log-domain segment
# form — documented, not needed at a 30-day window.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


@query(
    "events_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, day, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
      FROM daily),
    w AS (
      SELECT *, n * (CASE WHEN t = 1 THEN 1.0 ELSE {_EWMA_ALPHA} END)
                / POWER({1 - _EWMA_ALPHA}, t) AS wgt
      FROM seq)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n,
           round(POWER({1 - _EWMA_ALPHA}, t)
                 * SUM(wgt) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS UNBOUNDED PRECEDING), 6) AS ewma
    FROM w
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    sw = W.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("t", F.row_number().over(sw))
    decay = F.lit(1 - _EWMA_ALPHA)
    wgt = (
        F.col("n")
        * F.when(F.col("t") == 1, F.lit(1.0)).otherwise(F.lit(_EWMA_ALPHA))
        / F.pow(decay, F.col("t"))
    )
    cum = F.sum(wgt.alias("wgt")).over(sw.rowsBetween(W.unboundedPreceding, W.currentRow))
    return seq.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.pow(decay, F.col("t")) * cum, 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Top-k most active users via the Misra-Gries candidate sketch + exact
# recount (operators/heavyhitters.py). On THIS near-uniform testdata the
# exactness guard proves the sketch at sf<=0.1 (top user owns >> N/(m+1))
# and falls back to the exact aggregate where it cannot — either way the
# result equals the plain GROUP BY top-k, which is exactly what the
# oracle runs. The sketch is the 100 TB story: candidate traffic is
# bounded by partitions*capacity, not by distinct-key cardinality.
# ---------------------------------------------------------------------------

_HH_K = 20


@query(
    "events_heavy_hitters",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY user_id
    ORDER BY cnt DESC, user_id LIMIT {_HH_K}
    """,
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.heavyhitters import top_k_exact

    e = table(spark, sf_dir, "events")
    return top_k_exact(e, "user_id", k=_HH_K).select(
        F.col("key").alias("user_id"), "cnt"
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: each purchase's value is split equally
# across the user's view/click touches in the preceding 30 minutes — the
# multi-touch sibling of asof_purchase_to_last_click (last-touch). Money
# rides integer micro-cents with an explicit floor-division policy
# (cents·1e6·k_type DIV k_total per purchase — both engines integer-exact;
# int64 headroom: cents≤1e6, ·1e6·k_type≤1e3 leaves ~1e3 margin), so the
# cross-engine hash survives float fold order. Plan: one user-keyed
# shuffle for the band join (per-user 30-min windows bound the pair
# fan-out by user activity, the same justification as the as-of family),
# then purchase-keyed and type-keyed aggregates.
# ---------------------------------------------------------------------------


@query(
    "events_attribution_linear",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts, event_type AS touch_type
      FROM events WHERE event_type IN ('view', 'click')),
    pairs AS (
      SELECT p.pid, p.cents, t.touch_type
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 30 MINUTE),
    per AS (
      SELECT pid, cents, touch_type, COUNT(*) AS k_type
      FROM pairs GROUP BY pid, cents, touch_type),
    tot AS (SELECT pid, SUM(k_type) AS k_total FROM per GROUP BY pid)
    SELECT touch_type,
           CAST(SUM(k_type) AS BIGINT) AS n_touch_pairs,
           CAST(COUNT(DISTINCT per.pid) AS BIGINT) AS n_purchases,
           CAST(SUM((per.cents * 1000000 * k_type) // tot.k_total) AS BIGINT)
             AS attributed_micro
    FROM per JOIN tot USING (pid)
    GROUP BY touch_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") >= F.expr("p_ts - INTERVAL 30 MINUTES")),
    ).select("pid", "cents", "touch_type")
    per = pairs.groupBy("pid", "cents", "touch_type").agg(
        F.count("*").alias("k_type")
    )
    tot = per.groupBy("pid").agg(F.sum("k_type").alias("k_total"))
    joined = per.join(tot, "pid")
    return joined.groupBy("touch_type").agg(
        F.sum("k_type").cast("bigint").alias("n_touch_pairs"),
        F.countDistinct("pid").cast("bigint").alias("n_purchases"),
        # exact FLOOR division (matches DuckDB's `//` even for negative
        # cents, e.g. refund rows): subtract the nonneg pmod remainder so
        # the truncating DIV sees an exact multiple.
        F.sum(
            F.expr(
                "(cents * 1000000 * k_type - pmod(cents * 1000000 * k_type, k_total))"
                " DIV k_total"
            )
        )
        .cast("bigint")
        .alias("attributed_micro"),
    )


# ---------------------------------------------------------------------------
# Second-order path mining: top event-type TRIGRAMS across per-user event
# sequences — the discovery primitive one step past the first-order
# transition matrix (events_transition_matrix). Two lead() frames in ONE
# user-keyed window pass (no self-joins), a |types|^3-bounded groupBy,
# and a TakeOrderedAndProject top-20 with a full deterministic tie-break
# (count desc, then the three types asc).
# ---------------------------------------------------------------------------


@query(
    "events_trigram_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events),
    tri AS (
      SELECT e1, e2, e3, COUNT(*) AS n
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT e1, e2, e3, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC) AS rank
      FROM tri)
    SELECT e1, e2, e3, CAST(n AS BIGINT) AS n_paths, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    tri = (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
    )
    top = tri.orderBy(
        F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3")
    ).limit(20)
    rw = W.orderBy(F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3"))
    return top.select(
        "e1",
        "e2",
        "e3",
        F.col("n").cast("bigint").alias("n_paths"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: how many OTHER users' sessions overlap each
# session in time, reported as a concurrency histogram. The generic
# overlap join Spark lacks natively, composed at scale by GRAIN
# BUCKETING: sessions explode into the minute buckets they span (sessions
# are gap-bounded, so the per-session bucket list is small), pairs match
# on bucket equality FIRST (an equi-join Catalyst can hash/sort-merge —
# never a cross product), the overlap inequality runs as the join
# residual, and multi-bucket double-counts are avoided OUTRIGHT by
# canonical-bucket attribution (count a pair only in the first hour both
# sessions overlap). At 100 TB the grain is tuned to the median interval
# length; per-bucket density bounds the pair fan-out exactly like the
# band join's histogram buckets. Sessions with zero overlaps stay in the
# histogram via the left anti-free left join.
# ---------------------------------------------------------------------------


@query(
    "sessions_concurrency_overlap",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                 ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM flagged),
    sessions AS (
      SELECT user_id, session_seq, MIN(ts) AS smin, MAX(ts) AS smax
      FROM numbered GROUP BY user_id, session_seq),
    ovl AS (
      SELECT a.user_id AS ua, a.session_seq AS sa,
             COUNT(DISTINCT (b.user_id, b.session_seq)) AS n_overlap
      FROM sessions a
      JOIN sessions b
        ON b.user_id <> a.user_id
       AND b.smin <= a.smax AND a.smin <= b.smax
      GROUP BY 1, 2),
    fullh AS (
      SELECT s.user_id, s.session_seq, COALESCE(o.n_overlap, 0) AS n_overlap
      FROM sessions s
      LEFT JOIN ovl o ON o.ua = s.user_id AND o.sa = s.session_seq)
    SELECT CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM fullh GROUP BY n_overlap
    """,
)
def sessions_concurrency_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    # cumulative numbering MUST share the lag window's (ts, event_id) tie
    # order: with ts-only ordering, duplicate timestamps at a session
    # boundary could be numbered differently across engines (r8 advice)
    cw = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    numbered = e.select(
        "user_id", "ts", "event_id", is_new.alias("is_new")
    ).select("user_id", "ts", F.sum("is_new").over(cw).alias("session_seq"))
    sessions = (
        numbered.groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("smin"), F.max("ts").alias("smax"))
        # feeds the exploded join AND the final left join; lazy — both
        # consumers share the caller's single action (r9: the eager form
        # paid an extra synchronous job before planning even started)
        .localCheckpoint(eager=False)
    )
    # MINUTE-grain buckets (r9, was hour): candidate volume is
    # sum_b(density_b^2), and most sessions here are near-points, so the
    # grain sets density directly — hour buckets held ~1300 sessions each
    # at sf1 (~1.2B join candidates, 17.4 s); minute buckets hold ~22
    # (4.5 s, value-identical). The explode factor only grows for
    # sessions that SPAN many minutes, which gap-bounding keeps rare.
    # The grain is the documented dial: tune toward the median session
    # length as the corpus shape changes.
    bucketed = sessions.select(
        "user_id",
        "session_seq",
        "smin",
        "smax",
        F.explode(
            F.sequence(
                F.date_trunc("minute", "smin"),
                F.date_trunc("minute", "smax"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("bucket"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    # CANONICAL-BUCKET attribution (r9, replaces the 4-column DISTINCT
    # exchange): a pair is counted ONLY in the first bucket both sessions
    # overlap — trunc(greatest(smin_a, smin_b)) — a bucket both exploded
    # spans contain by construction, so every overlapping pair matches in
    # EXACTLY one bucket and the groupBy can count directly. Kills one
    # pair-scale shuffle; value-identical (verified vs the DISTINCT form).
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))  # equi key first
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("b.smin") <= F.col("a.smax"))
            & (F.col("a.smin") <= F.col("b.smax"))
            & (
                F.col("a.bucket")
                == F.date_trunc(
                    "minute", F.greatest(F.col("a.smin"), F.col("b.smin"))
                )
            ),
        )
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("a.session_seq").alias("sa")
        )
        .agg(F.count("*").alias("n_overlap"))
    )
    full = sessions.join(
        pairs,
        (sessions.user_id == pairs.ua) & (sessions.session_seq == pairs.sa),
        "left",
    ).select(F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"))
    return full.groupBy("n_overlap").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    ).select(F.col("n_overlap").cast("bigint").alias("n_overlap"), "n_sessions")


# ---------------------------------------------------------------------------
# Robust outlier screen per event type: median / MAD (median absolute
# deviation) with the 0.6745-normalized robust z-score at the standard
# 3.5 cut (Iglewicz-Hoberg) — the outlier filter that survives the heavy
# tails that break mean/stddev screens. Exact medians via percentile()
# (== DuckDB quantile_cont, both exact interpolation); at 100 TB the
# exact form pays a per-group value buffer, and the documented scale path
# swaps in approx_percentile with identical downstream arithmetic. Two
# scans + one broadcast of the |types|-row median table.
# ---------------------------------------------------------------------------


@query(
    "events_value_mad_outliers",
    oracle="""
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL),
    med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 8) AS med
      FROM base GROUP BY event_type),
    dev AS (
      SELECT b.event_type, b.value, m.med, abs(b.value - m.med) AS dv
      FROM base b JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, round(quantile_cont(dv, 0.5), 8) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(d.med) AS med,
           MAX(a.mad) AS mad,
           CAST(SUM(CASE WHEN a.mad > 0 AND 0.6745 * d.dv / a.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = base.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 8).alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dv")
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("dv", F.lit(0.5)), 8).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(
            F.when(
                (F.col("mad") > 0)
                & (0.6745 * F.col("dv") / F.col("mad") > 3.5),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# A-priori step two: frequent part TRIPLES per basket — the 3-itemset
# sibling of basket_part_affinity. Same carried-size discipline: triples
# generate INSIDE the row pipeline from each basket's sorted part array
# (double slice-explode, C(basket,3) bounded by basket size ~4-7 — never
# a three-way table self-join), so candidate volume grows linearly with
# orders at any scale. Top-20 with a full deterministic tie-break.
# ---------------------------------------------------------------------------


@query(
    "basket_apriori_triples",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    triples AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
             COUNT(*) AS n
      FROM baskets a
      JOIN baskets b ON b.l_orderkey = a.l_orderkey
                    AND a.l_partkey < b.l_partkey
      JOIN baskets c ON c.l_orderkey = a.l_orderkey
                    AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3
      HAVING COUNT(*) >= 2),
    ranked AS (
      SELECT pa, pb, pc, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, pa ASC, pb ASC, pc ASC)
               AS rank
      FROM triples)
    SELECT pa, pb, pc, CAST(n AS BIGINT) AS n_together,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # (i, pa) x (j > i, pb) x (rest, pc) — combinations, not joins
    triples = (
        GR.baskets(li).select(F.posexplode("parts").alias("i", "pa"), "parts")
        .select(
            "pa",
            F.posexplode(F.expr("slice(parts, i + 2, size(parts))")).alias(
                "j", "pb"
            ),
            F.expr("slice(parts, i + 2, size(parts))").alias("rest"),
        )
        .select(
            "pa",
            "pb",
            F.explode(F.expr("slice(rest, j + 2, size(rest))")).alias("pc"),
        )
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    top = triples.orderBy(
        F.desc("n"), F.asc("pa"), F.asc("pb"), F.asc("pc")
    ).limit(20)
    rw = W.orderBy(F.desc("n"), F.asc("pa"), F.asc("pb"), F.asc("pc"))
    return top.select(
        "pa",
        "pb",
        "pc",
        F.col("n").cast("bigint").alias("n_together"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Funnel latency: the time-to-convert companion of events_funnel_conversion
# — among users who strictly converted signup→click (and click→purchase),
# the p50/p90 seconds between steps. Product teams read this next to the
# conversion counts to see WHERE a funnel is slow, not just where it leaks.
# One per-user groupBy (the same conditional-min shape as the conversion
# query), then one global exact-percentile aggregate over user-scale rows.
# Exact interpolated percentiles (Spark percentile() == DuckDB
# quantile_cont) over integer second diffs keep both engines bit-equal.
# ---------------------------------------------------------------------------


@query(
    "events_funnel_latency",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    lat AS (
      SELECT
        CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
             THEN date_diff('second', t_signup, t_click) END AS s_to_c,
        CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                  AND t_purchase > t_click
             THEN date_diff('second', t_click, t_purchase) END AS c_to_p
      FROM stage)
    SELECT COUNT(s_to_c) AS n_click_converters,
           round(quantile_cont(s_to_c, 0.5), 6) AS p50_signup_to_click_s,
           round(quantile_cont(s_to_c, 0.9), 6) AS p90_signup_to_click_s,
           COUNT(c_to_p) AS n_purchase_converters,
           round(quantile_cont(c_to_p, 0.5), 6) AS p50_click_to_purchase_s,
           round(quantile_cont(c_to_p, 0.9), 6) AS p90_click_to_purchase_s
    FROM lat
    """,
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stage = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_signup").isNotNull() & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    diff_s = lambda a, b: (  # noqa: E731
        F.unix_timestamp(F.col(b)) - F.unix_timestamp(F.col(a))
    )
    lat = stage.select(
        F.when(clicked, diff_s("t_signup", "t_click")).alias("s_to_c"),
        F.when(purchased, diff_s("t_click", "t_purchase")).alias("c_to_p"),
    )
    return lat.agg(
        F.count("s_to_c").alias("n_click_converters"),
        F.round(F.percentile("s_to_c", F.lit(0.5)), 6).alias(
            "p50_signup_to_click_s"
        ),
        F.round(F.percentile("s_to_c", F.lit(0.9)), 6).alias(
            "p90_signup_to_click_s"
        ),
        F.count("c_to_p").alias("n_purchase_converters"),
        F.round(F.percentile("c_to_p", F.lit(0.5)), 6).alias(
            "p50_click_to_purchase_s"
        ),
        F.round(F.percentile("c_to_p", F.lit(0.9)), 6).alias(
            "p90_click_to_purchase_s"
        ),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution of the event-type chain: where a user
# spends their time in the long run under the observed transition matrix —
# the steady-state companion of events_transition_matrix (the matrix) and
# events_path_anomaly (per-path likelihood). Fact-scale work is ONE
# key-partitioned lag window + a |types|^2 groupBy; the power iteration
# then runs on the ~5x5 rounded matrix (checkpointed — 25 rows, never
# recomputed from the fact scan), 6 unrolled rounds from uniform. At 100 TB
# the window/groupBy shape is unchanged and the iteration cost is still
# |types|^2. Matrix entries and each round's vector are rounded (6/12 dp)
# so both engines iterate identical numbers.
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 6


def _markov_oracle() -> str:
    steps = []
    prev = "p0"
    for i in range(1, _MARKOV_ITERS + 1):
        steps.append(
            f"""p{i} AS (
      SELECT pr.to_type AS t, round(SUM({prev}.pr * pr.p), 12) AS pr
      FROM {prev} JOIN probs pr ON pr.from_type = {prev}.t GROUP BY 1)"""
        )
        prev = f"p{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    totals AS (SELECT from_type, SUM(n) AS total FROM trans GROUP BY from_type),
    probs AS (
      SELECT t.from_type, t.to_type,
             round(CAST(t.n AS DOUBLE) / tot.total, 6) AS p
      FROM trans t JOIN totals tot ON tot.from_type = t.from_type),
    types AS (
      SELECT DISTINCT from_type AS t FROM probs
      UNION SELECT DISTINCT to_type FROM probs),
    p0 AS (SELECT t, 1.0 / (SELECT COUNT(*) FROM types) AS pr FROM types),
    {chain}
    SELECT t AS event_type, round(pr, 6) AS stationary_prob
    FROM {prev}
    """


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    totals = trans.groupBy(F.col("from_type").alias("tf")).agg(
        F.sum("n").alias("total")
    )
    probs = trans.join(F.broadcast(totals), F.col("tf") == trans.from_type).select(
        "from_type",
        "to_type",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p"),
    )
    # r10-opt (guide §2.4, A/B 6/6 at 0.88 vs 1.79 s min,
    # scripts/r10_markov_ab.py, value identity asserted): the old form ran
    # each of the 6 rounds as a broadcast join + groupBy over the 25-row
    # matrix — 12 tiny exchanges and 6 broadcast builds of pure round
    # latency at ANY corpus size (the matrix is domain-bounded). The whole
    # iteration now runs as array HOFs over the matrix collected into ONE
    # row (the groupBy's partial aggregation bounds its exchange at
    # partitions x 1 rows; |types|^2 is event-vocabulary scale, never
    # corpus scale). The vector rides the outer aggregate's ACCUMULATOR —
    # a bound value per step, so the expression tree is constant-size and
    # evaluation is linear (iters x |m|); naive nesting re-derives the
    # previous vector per element and blows up ~|m|x per round (measured:
    # interpreter hang — recorded in the A/B script). Per-entry arithmetic
    # is the same round(SUM(pr*p), 12); types with no incoming transitions
    # drop exactly like the join rounds via the final exists() filter.
    mat = probs.groupBy().agg(
        F.collect_list(F.struct("from_type", "to_type", "p")).alias("m")
    )
    ts_col = F.array_sort(
        F.array_distinct(
            F.concat(
                F.transform("m", lambda x: x["from_type"]),
                F.transform("m", lambda x: x["to_type"]),
            )
        )
    )
    mat = mat.select("m", ts_col.alias("ts"))
    p0 = F.transform("ts", lambda t: F.lit(1.0) / F.size("ts"))
    p_final = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MARKOV_ITERS)),
        p0,
        lambda p_acc, _: F.transform(
            "ts",
            lambda t: F.round(
                F.aggregate(
                    F.filter("m", lambda e: e["to_type"] == t),
                    F.lit(0.0),
                    lambda acc, e: acc
                    + F.element_at(
                        p_acc, F.array_position("ts", e["from_type"]).cast("int")
                    )
                    * e["p"],
                ),
                12,
            ),
        ),
    )
    out = mat.withColumn("p", p_final).select(
        F.explode(
            F.arrays_zip(F.col("ts").alias("t"), F.col("p").alias("pr"))
        ).alias("z"),
        "m",
    )
    return out.filter(
        F.exists("m", lambda e: e["to_type"] == F.col("z.t"))
    ).select(
        F.col("z.t").alias("event_type"),
        F.round("z.pr", 6).alias("stationary_prob"),
    )


# ---------------------------------------------------------------------------
# Per-user behavioral entropy histogram: Shannon entropy of each user's
# event-type mix, bucketed at 0.25 nats — the bot/power-user screen (bots
# pin near 0: one repeated action; organic users spread). Per-user terms
# are |types|-bounded (<= 5 doubles per user, rounded at 8 before the
# bucket compare), so the fact-scale work is ONE user-type groupBy and a
# user-scale reduce. The avg rides the same pass.
# ---------------------------------------------------------------------------


@query(
    "events_user_entropy",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
    tot AS (SELECT user_id, SUM(c) AS n FROM counts GROUP BY user_id),
    ent AS (
      SELECT c.user_id,
             round(-SUM((CAST(c.c AS DOUBLE) / t.n)
                        * ln(CAST(c.c AS DOUBLE) / t.n)), 8) AS h
      FROM counts c JOIN tot t ON t.user_id = c.user_id
      GROUP BY c.user_id)
    SELECT CAST(FLOOR(h / 0.25) AS BIGINT) AS entropy_bucket,
           COUNT(*) AS n_users,
           round(AVG(h), 6) AS avg_entropy
    FROM ent GROUP BY 1
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    # windowed total rides the same user_id exchange the groupBy created
    w = W.partitionBy("user_id")
    p = F.col("c").cast("double") / F.sum("c").over(w)
    ent = (
        counts.withColumn("term", p * F.log(p))
        .groupBy("user_id")
        .agg(F.round(-F.sum("term"), 8).alias("h"))
    )
    return ent.groupBy(
        F.floor(F.col("h") / 0.25).cast("bigint").alias("entropy_bucket")
    ).agg(
        F.count("*").alias("n_users"),
        F.round(F.avg("h"), 6).alias("avg_entropy"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: users hash-split into two arms (parity of
# user_id — deterministic, balanced, and exactly what an experimentation
# layer does with a bucketing hash), outcome = "did the user ever make
# a high-value (> 150) purchase". Two-proportion pooled z-test, the
# stats every experiment
# dashboard prints. Fact-scale work is ONE user-grain aggregate riding a
# single user_id exchange; the arm-level contingency table is 2 rows, so
# the z arithmetic is metadata-scale. 100 TB: unchanged shape — the only
# corpus-scale stage is the per-user any-purchase flag.
# ---------------------------------------------------------------------------


@query(
    "events_ab_test_zscore",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2),
    arms AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      FROM per_user)
    SELECT n_a, n_b, conv_a, conv_b,
           round(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           round(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           round(
             (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
             / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM arms
    """,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # outcome: a HIGH-VALUE purchase (value > 150) — the plain any-purchase
    # flag saturates to 1.0 in both arms (se = 0, z undefined); a
    # thresholded outcome keeps the proportions interior at every SF.
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("converted")
    )
    arm = F.pmod(F.col("user_id"), F.lit(2))
    arms = per_user.agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(arm == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(arm == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a") / F.col("n_a").cast("double")
    rb = F.col("conv_b") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round((ra - rb) / se, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Activity concentration (Gini + top-decile share): how unequally events
# are distributed across users — the "1% of users generate half the
# traffic" number that sizes per-key state, hot-partition risk, and
# sampling designs. Exact Gini needs a TOTAL ORDER over users by count;
# a naive `ROW_NUMBER() OVER (ORDER BY c)` is a single-partition funnel,
# so the global rank comes from operators/distrank.global_row_number
# (range-repartition + per-partition rank + broadcast carry offsets —
# user-scale keyed shuffles only). Sum(i * c_i) stays in int64: rank and
# count are both <= ~1e10 at 100 TB, product < 2^63 guarded by the
# fact the summand is per-user. Ties broken by user_id in BOTH engines.
# ---------------------------------------------------------------------------


@query(
    "events_gini_activity",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rk,
             COUNT(*) OVER () AS n, SUM(c) OVER () AS tot
      FROM per_user),
    agg AS (
      SELECT MAX(n) AS n, MAX(tot) AS tot, SUM(rk * c) AS rank_mass,
             SUM(CASE WHEN rk > n - CAST(FLOOR(n / 10) AS BIGINT)
                 THEN c ELSE 0 END) AS top_mass
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(tot AS BIGINT) AS total_events,
           round(2.0 * rank_mass / (n * CAST(tot AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini,
           round(top_mass / CAST(tot AS DOUBLE), 6) AS top_decile_share
    FROM agg
    """,
)
def events_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.distrank import global_row_number

    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    ranked = global_row_number(
        per_user, [F.asc("c"), F.asc("user_id")], out="rk", total_out="n"
    )
    agg = ranked.agg(
        F.max("n").alias("n_users"),
        F.sum("c").cast("bigint").alias("total_events"),
        F.sum(F.col("rk") * F.col("c")).cast("bigint").alias("rank_mass"),
    )
    n = F.col("n_users").cast("double")
    tot = F.col("total_events").cast("double")
    # top-decile mass reads the cutoff off the same ranked frame (every
    # row carries n), so no driver round-trip for the threshold.
    top = ranked.select(
        F.sum(
            F.when(
                F.col("rk")
                > F.col("n") - F.floor(F.col("n") / 10).cast("bigint"),
                F.col("c"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("top_mass")
    )
    return agg.crossJoin(top).select(
        F.col("n_users").cast("bigint").alias("n_users"),
        "total_events",
        F.round(
            2.0 * F.col("rank_mass") / (n * tot) - (n + 1.0) / n, 6
        ).alias("gini"),
        F.round(F.col("top_mass") / tot, 6).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival profile: the distribution of gaps between a user's
# consecutive events of each type — the number that sizes session
# timeouts, streaming watermark delays, and state TTLs. One keyed lag
# window (partitioned on user_id — the exchange every per-user op here
# shares), then a |types|-row percentile aggregate. Exact percentile
# state is per-TYPE (5 groups) — at 100 TB swap F.percentile for
# approx_percentile(1e-4) per SCALING.md's sketch policy; the oracle
# below is the exact twin at test scale.
# ---------------------------------------------------------------------------


@query(
    "events_interarrival_profile",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             date_diff('second',
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id), ts) AS gap_s
      FROM events)
    SELECT event_type, COUNT(gap_s) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
           round(quantile_cont(gap_s, 0.99), 6) AS p99_gap_s,
           round(AVG(gap_s), 6) AS avg_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1
    """,
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.99)), 6).alias("p99_gap_s"),
        F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter estimates,
# audited against truth: depth-4 x width-256 integer counter grid built
# with fixed affine hashes h_j(u) = ((A_j*u + B_j) % P) % W, then the
# top-20 true users read back min-of-4 counters. Every number in the
# result is INTEGER arithmetic — exact cross-engine parity with no
# tolerance — and the output exposes the sketch's one-sided error
# (cms_est >= true_cnt always; `over` is the collision overcount).
# Complements events_heavy_hitters (Misra-Gries): CMS is the mergeable
# fixed-memory frequency sketch a 100 TB pipeline keeps per shard.
# Plan: ONE fact-scale explode(4) + groupBy onto a <=1024-row counter
# grid; candidates come from the existing user-grain aggregate; lookups
# broadcast the grid. No corpus-scale join anywhere.
# ---------------------------------------------------------------------------

_CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_CMS_W = 256
_CMS_A = [999983, 999979, 999961, 999959]
_CMS_B = [3, 17, 29, 47]
_CMS_K = 20


def _cms_arrays_sql() -> tuple[str, str]:
    return (
        "[" + ", ".join(str(a) for a in _CMS_A) + "]",
        "[" + ", ".join(str(b) for b in _CMS_B) + "]",
    )


def _cms_col(uid):
    """CMS column index for the j-th hash row (expects a `j` column)."""
    a_arr = F.array(*[F.lit(a) for a in _CMS_A])
    b_arr = F.array(*[F.lit(b) for b in _CMS_B])
    return (
        (F.element_at(a_arr, F.col("j") + 1) * uid
         + F.element_at(b_arr, F.col("j") + 1)) % _CMS_P
    ) % _CMS_W


def _cms_js():
    return F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j")


def _cms_grid(e: DataFrame) -> DataFrame:
    """(j, col, cnt) counter partials for a slice of events — additive, so
    per-batch grids merge by summing cnt (the sketch's mergeability)."""
    return (
        e.select(F.col("user_id"), _cms_js())
        .select("j", _cms_col(F.col("user_id")).alias("col"))
        .groupBy("j", "col")
        .agg(F.count("*").alias("cnt"))
    )


def _cms_probe(grid: DataFrame, truth: DataFrame) -> DataFrame:
    """min-of-4 counter read-back for the exact top-k truth rows."""
    probe = (
        truth.select("user_id", "true_cnt", _cms_js())
        .withColumn("col", _cms_col(F.col("user_id")))
        # the grid is <= depth*width = 1024 rows BY CONSTRUCTION
        .join(F.broadcast(grid), ["j", "col"])
    )
    return probe.groupBy("user_id", "true_cnt").agg(
        F.min("cnt").cast("bigint").alias("cms_est"),
        (F.min("cnt") - F.col("true_cnt")).cast("bigint").alias("over"),
    ).select(
        "user_id",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        "cms_est",
        "over",
    )



@query(
    "events_count_min_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT user_id, j,
             (({_cms_arrays_sql()[0]}[j + 1] * user_id
               + {_cms_arrays_sql()[1]}[j + 1]) % {_CMS_P}) % {_CMS_W} AS col
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
    grid AS (SELECT j, col, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2),
    truth AS (
      SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT {_CMS_K}),
    probe AS (
      SELECT t.user_id, t.true_cnt, g.cnt
      FROM truth t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) js
      JOIN grid g ON g.j = js.j
       AND g.col = (({_cms_arrays_sql()[0]}[js.j + 1] * t.user_id
                     + {_cms_arrays_sql()[1]}[js.j + 1]) % {_CMS_P}) % {_CMS_W})
    SELECT user_id, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(MIN(cnt) AS BIGINT) AS cms_est,
           CAST(MIN(cnt) - true_cnt AS BIGINT) AS over
    FROM probe GROUP BY user_id, true_cnt
    """,
)
def events_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    truth = (
        e.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(_CMS_K)
    )
    return _cms_probe(_cms_grid(e), truth)


# ---------------------------------------------------------------------------
# Poisson rate-shift screen: per event type, did the arrival RATE change
# between the first and second half of the observation window (fixed
# boundary 2024-01-16)? Conditional test: given n = cA + cB arrivals, cA
# ~ Binomial(n, 1/2) under H0 (equal rates, equal-length windows), so
# z = (cA - cB) / sqrt(cA + cB) — the standard two-Poisson comparison,
# computed per row from exact integer counts (deterministic float).
# ONE fact-scale groupBy(event_type) with conditional sums; the z
# arithmetic is |event types|-scale. 100 TB: unchanged — single keyed
# aggregate, no joins.
# ---------------------------------------------------------------------------


@query(
    "events_rate_shift_poisson",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_first,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_second,
           round((SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  - SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END))
                 / sqrt(COUNT(*)), 8) AS z
    FROM events GROUP BY event_type
    """,
)
def events_rate_shift_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    first = (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).cast("long")
    c_first = F.sum(first)
    c_second = F.sum(1 - first)
    return e.groupBy("event_type").agg(
        c_first.cast("bigint").alias("c_first"),
        c_second.cast("bigint").alias("c_second"),
        F.round((c_first - c_second) / F.sqrt(F.count("*")), 8).alias("z"),
    )


# ---------------------------------------------------------------------------
# Customer-cohort lifetime value: customers grouped by first-order month,
# revenue tracked by months-since-cohort, with the cumulative LTV curve
# every growth dashboard plots. Money is integer cents end-to-end and the
# month axis is integer year*12+month arithmetic — fully exact. Plan: one
# custkey-keyed min-aggregate (cohort assignment) joins back to orders on
# the SAME custkey exchange, then one (cohort, age) groupBy; the cumsum
# window runs on the cohort-grain grid (months², metadata-scale).
# 100 TB: two keyed fact exchanges, grid-scale everything else.
# ---------------------------------------------------------------------------


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             MIN(EXTRACT(year FROM o_orderdate) * 12
                 + EXTRACT(month FROM o_orderdate)) AS cm
      FROM orders GROUP BY o_custkey),
    aged AS (
      SELECT fo.cm,
             (EXTRACT(year FROM o.o_orderdate) * 12
              + EXTRACT(month FROM o.o_orderdate)) - fo.cm AS age_months,
             o.o_custkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN fo ON fo.o_custkey = o.o_custkey),
    grid AS (
      SELECT cm, age_months, COUNT(DISTINCT o_custkey) AS n_customers,
             SUM(cents) AS revenue_cents
      FROM aged GROUP BY cm, age_months)
    SELECT printf('%04d-%02d', CAST((cm - 1) // 12 AS INTEGER),
                  CAST((cm - 1) % 12 + 1 AS INTEGER)) AS cohort_month,
           CAST(age_months AS BIGINT) AS age_months,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(revenue_cents AS BIGINT) AS revenue_cents,
           CAST(SUM(revenue_cents) OVER (
             PARTITION BY cm ORDER BY age_months) AS BIGINT) AS cum_revenue_cents
    FROM grid
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions.exact import cents

    o = table(spark, sf_dir, "orders")
    mo = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    fo = o.groupBy("o_custkey").agg(F.min(mo).alias("cm"))
    aged = o.join(fo, "o_custkey").select(
        "cm",
        (mo - F.col("cm")).alias("age_months"),
        "o_custkey",
        cents("o_totalprice").alias("cents"),
    )
    grid = aged.groupBy("cm", "age_months").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = W.partitionBy("cm").orderBy("age_months")
    return grid.select(
        F.format_string(
            "%04d-%02d",
            ((F.col("cm") - 1) / 12).cast("int"),
            ((F.col("cm") - 1) % 12 + 1).cast("int"),
        ).alias("cohort_month"),
        F.col("age_months").cast("bigint").alias("age_months"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.sum("revenue_cents").over(w).cast("bigint").alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Hash-seeded bootstrap of the mean event value: 32 deterministic
# resamples, each weighting every event 0-3 via the affine-mod hash
# family (seeded by replicate id), giving the spread of resample means a
# dashboard turns into an SE band — without RNG state, so the result is
# reproducible across engines, runs, and partitionings. Each resample
# mean is one division of two exact integers (cents sum / weight sum) —
# deterministic float. Plan: one fact×32 explode into a groupBy(b) —
# the map-side-combinable bootstrap shape; output is 32 rows.
# 100 TB: partial aggregation absorbs the 32× fan-out before shuffle;
# the exchange carries 32·partitions partial rows.
# ---------------------------------------------------------------------------

_BOOT_B = 32
_BOOT_P = 2_147_483_647


@query(
    "events_hash_bootstrap_means",
    oracle=f"""
    WITH w AS (
      SELECT b, ((1000003 * event_id + 7919 * b + 12345) % {_BOOT_P}) % 4 AS wt,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b)
      WHERE value IS NOT NULL)
    SELECT CAST(b AS BIGINT) AS b, CAST(SUM(wt) AS BIGINT) AS n_drawn,
           round(SUM(wt * cents) * 1.0 / SUM(wt) / 100, 6) AS resample_mean
    FROM w GROUP BY b
    """,
)
def events_hash_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions.exact import cents

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("b")
    wt = (1000003 * F.col("event_id") + 7919 * F.col("b") + 12345) % _BOOT_P % 4
    w = e.select("event_id", cents("value").alias("cents"), b).select(
        "b", "cents", wt.alias("wt")
    )
    return w.groupBy("b").agg(
        F.sum("wt").cast("bigint").alias("n_drawn"),
        F.round(F.sum(F.col("wt") * F.col("cents")) / F.sum("wt") / 100, 6).alias(
            "resample_mean"
        ),
    ).select(F.col("b").cast("bigint").alias("b"), "n_drawn", "resample_mean")


# ---------------------------------------------------------------------------
# Shapley-value marketing attribution (the cooperative-game exact form of
# events_attribution_linear): channels = {click, error, signup, view} as
# a 4-player game, coalition value v(S) = conversion rate of users whose
# touched-channel set is EXACTLY S (0 for unobserved sets), and each
# channel's credit is the Shapley sum Σ_{S∌i} |S|!(n−1−|S|)!/n! ·
# (v(S∪i) − v(S)). The whole game lives on a 16-row mask grid: one
# fact-scale groupBy(user) builds bitmasks (bit_or) + conversion flags,
# one 16-row aggregate prices every coalition, and the Shapley terms are
# a broadcast join of the 4-channel table against the 16-mask value
# table (8 marginal terms per channel, summed then rounded 8dp — each
# v is a single exact-integer division). 100 TB: ONE user-keyed
# exchange; everything after is metadata-scale.
# ---------------------------------------------------------------------------

_SHAP_BITS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_SHAP_CASE = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"
)
_POP4 = "(({m} >> 0) & 1) + (({m} >> 1) & 1) + (({m} >> 2) & 1) + (({m} >> 3) & 1)"


@query(
    "events_attribution_shapley",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, BIT_OR({_SHAP_CASE}) AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    grid AS (SELECT mask, COUNT(*) AS nu, SUM(conv) AS nc
             FROM per_user GROUP BY mask),
    masks AS (SELECT unnest(generate_series(0, 15)) AS m),
    v AS (SELECT m, COALESCE(nc * 1.0 / nu, 0) AS v
          FROM masks LEFT JOIN grid ON grid.mask = masks.m),
    ch AS (SELECT * FROM (VALUES (1, 'click'), (2, 'error'),
                                 (4, 'signup'), (8, 'view')) AS t(bit, channel)),
    terms AS (
      SELECT ch.channel,
             (CASE {_POP4.format(m="vs.m")}
                WHEN 0 THEN 0.25 WHEN 1 THEN 1.0 / 12
                WHEN 2 THEN 1.0 / 12 ELSE 0.25 END) * (vi.v - vs.v) AS t
      FROM ch
      JOIN v vs ON (vs.m & ch.bit) = 0
      JOIN v vi ON vi.m = (vs.m | ch.bit)),
    touched AS (
      SELECT ch.channel, CAST(SUM(g.nu) AS BIGINT) AS n_touched
      FROM ch JOIN grid g ON (g.mask & ch.bit) <> 0 GROUP BY ch.channel)
    SELECT t.channel, round(SUM(t.t), 8) AS shapley, MAX(tc.n_touched) AS n_touched
    FROM terms t JOIN touched tc ON tc.channel = t.channel
    GROUP BY t.channel ORDER BY t.channel
    """,
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    bit = F.expr(_SHAP_CASE)
    per_user = e.groupBy("user_id").agg(
        F.bit_or(bit).alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    grid = per_user.groupBy("mask").agg(
        F.count("*").alias("nu"), F.sum("conv").alias("nc")
    )
    masks = spark.range(16).select(F.col("id").cast("int").alias("m"))
    v = masks.join(F.broadcast(grid), masks.m == grid.mask, "left").select(
        "m", F.coalesce(F.col("nc") / F.col("nu"), F.lit(0.0)).alias("v")
    )
    ch = spark.createDataFrame(
        [(b, c) for c, b in _SHAP_BITS], "bit INT, channel STRING"
    )
    vs, vi = v.alias("vs"), v.alias("vi")
    weight = F.expr(
        f"CASE {_POP4.format(m='vs.m')} WHEN 0 THEN 0.25 WHEN 1 THEN 1.0 / 12 "
        "WHEN 2 THEN 1.0 / 12 ELSE 0.25 END"
    )
    terms = (
        ch.join(F.broadcast(vs), F.expr("(vs.m & bit) = 0"))
        .join(F.broadcast(vi), F.expr("vi.m = (vs.m | bit)"))
        .select("channel", (weight * (F.col("vi.v") - F.col("vs.v"))).alias("t"))
    )
    touched = (
        ch.join(F.broadcast(grid), F.expr("(mask & bit) <> 0"))
        .groupBy("channel")
        .agg(F.sum("nu").cast("bigint").alias("n_touched"))
    )
    return (
        terms.groupBy("channel")
        .agg(F.round(F.sum("t"), 8).alias("shapley"))
        .join(touched, "channel")
        .select("channel", "shapley", "n_touched")
        .orderBy("channel")
    )
