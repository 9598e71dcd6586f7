"""Plan-shape assertions: the 100 TB design claims, machine-checked.

Each test pins a property that must survive scale-up: predicate pushdown
into the parquet scan, column pruning, dimension broadcast, top-k without a
global sort, shuffle counts bounded.
"""

from __future__ import annotations

import pytest

from brooklin_spark import registry
from brooklin_spark.plans import (
    broadcast_join_count,
    executed_plan,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)

registry.load_all()


def _q(spark, sf, name):
    return registry.QUERIES[name](spark, sf)


def test_q1_filter_pushdown_and_pruning(spark, sf_correct):
    df = _q(spark, sf_correct, "q1_pricing_summary")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    scans = read_schema_columns(df)
    assert scans and all(
        scan
        <= {
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        }
        for scan in scans
    ), f"scan reads more columns than needed: {scans}"


def test_q6_all_predicates_pushed(spark, sf_correct):
    df = _q(spark, sf_correct, "q6_forecast_revenue")
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not in pushed filters: {pushed}"
    scans = read_schema_columns(df)
    assert all(len(s) <= 4 for s in scans), f"pruning failed: {scans}"


def test_q5_broadcasts_small_dims(spark, sf_correct):
    df = _q(spark, sf_correct, "q5_local_supplier_volume")
    assert broadcast_join_count(df) >= 3  # region, nation, supplier at least


def test_q10_broadcasts_nation(spark, sf_correct):
    df = _q(spark, sf_correct, "q10_returned_items")
    assert broadcast_join_count(df) >= 1


def test_topk_uses_take_ordered_not_global_sort(spark, sf_correct):
    df = _q(spark, sf_correct, "topk_expensive_orders")
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_band_join_is_broadcast_nested_loop(spark, sf_correct):
    df = _q(spark, sf_correct, "join_band_price_histogram")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_anti_join_operators(spark, sf_correct):
    semi = executed_plan(_q(spark, sf_correct, "join_semi_customers_with_big_orders"))
    anti = executed_plan(_q(spark, sf_correct, "join_anti_customers_without_orders"))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_single_agg_query_shuffle_budget(spark, sf_correct):
    """A scan+groupBy carries ONE fact-scale exchange (partial agg
    map-side). The r7 integer-cents form adds a second exchange, but its
    input is the (group, partition)-long partial aggregate — at most
    |groups| x |partitions| rows (128 here), never fact-scale. Budget: 2
    exchanges, and the plan must still show the map-side partial."""
    df = _q(spark, sf_correct, "q1_pricing_summary")
    assert shuffle_count(df) <= 2, executed_plan(df)
    assert executed_plan(df).count("HashAggregate") >= 2


def test_envelope_translate_is_shuffle_free(spark, sf_correct):
    df = _q(spark, sf_correct, "cdc_envelope_translate")
    assert shuffle_count(df) == 0, "pure projection must not shuffle"


def test_partial_aggregation_before_shuffle(spark, sf_correct):
    plan = executed_plan(_q(spark, sf_correct, "q1_pricing_summary"))
    # two HashAggregate levels (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2


def test_salted_join_is_shuffled_hash(spark, sf_correct):
    """Salting pins the shuffled-hash path (broadcast would make the salt a
    no-op); the salt spreads each key across 16 buckets."""
    plan = executed_plan(_q(spark, sf_correct, "join_salted_skew_supplier_revenue"))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_q7_q9_broadcast_dims(spark, sf_correct):
    """Multi-way fact joins broadcast every dimension side — the fact table
    is never shuffled for a dim lookup."""
    assert broadcast_join_count(_q(spark, sf_correct, "q7_nation_volume")) >= 3
    assert broadcast_join_count(_q(spark, sf_correct, "q9_product_profit")) >= 3


def test_q17_correlated_avg_broadcasts_part(spark, sf_correct):
    assert broadcast_join_count(_q(spark, sf_correct, "q17_small_quantity_revenue")) >= 1


def test_bucketed_range_join_avoids_nested_loop(spark, sf_correct):
    """The bucketed range join must plan as a hash equi-join on the bucket
    key — the whole point of the bucketing rewrite."""
    plan = executed_plan(_q(spark, sf_correct, "range_join_promo_windows"))
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan


# ------------------------------------------------- round-2 operator shapes


def test_ivf_assign_no_shuffle_no_window(spark, sf_correct):
    """IVF index build must be map-side: centroid matrix rides in the
    closure; the corpus is never shuffled or windowed."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = table(spark, sf_correct, "embeddings")
    assign = S.ivf_assign(emb, emb.filter(F.col("vec_id") < 8))
    plan = executed_plan(assign)
    assert shuffle_count(assign) == 0, plan
    assert "Window" not in plan, plan


def test_brute_force_topk_corpus_not_joined(spark, sf_correct):
    """Brute-force ANN: no join materializing |Q|x|C| rows — batch-local
    top-k via mapInPandas, then one window over the emitted triples."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = table(spark, sf_correct, "embeddings")
    df = S.brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    plan = executed_plan(df)
    assert "Join" not in plan, plan  # matmul in the map task, not a join
    assert shuffle_count(df) <= 1, plan  # only the global-top-k window


def test_srp_top1_single_shuffle(spark, sf_correct):
    """SRP ANN: one exchange keyed on bucket; per-bucket top-1 needs no
    global window and no self-join."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import similarity as S

    emb = table(spark, sf_correct, "embeddings")
    df = S.srp_ann_top1(emb, planes=6)
    plan = executed_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "Join" not in plan, plan


def test_jaccard_cap_rides_join_exchange(spark, sf_correct):
    """The posting cap is a count window over the SAME shingle-keyed
    exchange the self-join consumes — capping must not add a shuffle
    beyond window + pair groupBy."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import dedup as D
    from pyspark.sql import functions as F

    docs = table(spark, sf_correct, "documents")
    sh = (
        D.shingle_arrays_pandas(docs, n=3)
        .select("id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
        .select("id", "n", F.xxhash64("s").alias("shingle"))
        .localCheckpoint()
    )
    df = D.jaccard_pairs_selfjoin(sh, 0.7)
    plan = executed_plan(df)
    assert "Window" in plan, plan  # the enforced cap
    # shuffles: the window partitioning per join side (AQE broadcasts one
    # side at this scale instead of reusing the exchange) + pair groupBy —
    # anything more means the cap bought an extra pass over the shingles
    assert shuffle_count(df) <= 4, plan


def test_simhash_onepass_single_join(spark, sf_correct):
    """SimHash banding carries the signature: exactly one self-join, no
    re-join against a signature table."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import dedup as D

    docs = table(spark, sf_correct, "documents")
    sig = D.simhash_signature_int_pandas(
        D.shingle_arrays_pandas(docs, n=3), bits=32
    ).localCheckpoint()
    df = D.simhash_pairs_onepass(sig, bits=32, bands=4, max_distance=3)
    plan = executed_plan(df)
    import re

    join_nodes = re.findall(r"\(\d+\) [A-Za-z]*Join", plan)
    assert len(join_nodes) == 1, plan


def test_bucketed_join_is_shuffle_free(spark, sf_smoke, tmp_path):
    """Both sides bucketed by the join key with equal bucket counts →
    Catalyst plans the join with ZERO Exchange (the pay-the-shuffle-once
    story for repeated fact-fact joins at scale)."""
    from brooklin_spark.io import table
    from brooklin_spark.operators.bucketing import bucketed_join, write_bucketed

    orders = table(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "bkt_orders", "o_orderkey", 8)
    write_bucketed(li, "bkt_lineitem", "l_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at toy scale the optimizer would broadcast instead; disable it so the
    # plan shows what a fact-fact join does at real scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "bkt_orders", "bkt_lineitem", "o_orderkey", "l_orderkey")
        n = j.count()
        assert n == li.count()  # every lineitem matches its order
        plan = executed_plan(j)
        assert shuffle_count(j) == 0, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_date_partitioned_layout_prunes_partitions(spark, sf_smoke, tmp_path):
    """A date filter over a date-partitioned events table must prune at
    PLANNING time (PartitionFilters on the scan) — the layout decision
    that turns '100 TB scanned' into 'the selected days scanned'."""
    from brooklin_spark.io import table
    from brooklin_spark.operators.layout import read_partitioned, write_date_partitioned
    from pyspark.sql import functions as F

    ev = table(spark, sf_smoke, "events")
    path = str(tmp_path / "ev_by_day")
    write_date_partitioned(ev, path, ts_col="ts", sort_cols=["user_id"])
    df = read_partitioned(spark, path)
    one_day = df.select("dt").distinct().orderBy("dt").first().dt
    q = df.filter(F.col("dt") == one_day).groupBy("event_type").count()
    plan = executed_plan(q)
    assert "PartitionFilters: [" in plan, plan
    # the dt predicate must appear as a PARTITION filter, not a data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "dt" in pf, plan
    # and pruning actually works: rows == that day's rows only
    want = ev.filter(F.date_format("ts", "yyyy-MM-dd") == one_day).count()
    got = q.agg({"count": "sum"}).first()[0]
    assert got == want > 0


def test_decontamination_broadcasts_benchmark_side(spark, sf_correct):
    """Decontamination must stream the corpus against a BROADCAST benchmark
    shingle set — no corpus self-join, no shuffle of the corpus for the
    membership probe."""
    df = _q(spark, sf_correct, "dedup_decontamination_flags")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_unigram_logprob_broadcasts_vocabulary(spark, sf_correct):
    """The unigram table joins back onto the token stream as a broadcast at
    this vocabulary size (AQE may pick either side; what must NOT happen
    is a sort-merge join of the token stream)."""
    df = _q(spark, sf_correct, "text_unigram_logprob")
    plan = executed_plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_embedding_cosine_no_driver_collect_single_shuffle(spark, sf_correct):
    """dedup_embedding_cosine runs the block-tiled kernel: one exchange
    keyed on the tile id, per-tile matmul in FlatMapGroupsInPandas, no
    join, and — the r2 verdict item — no driver-side corpus collect
    (building the plan must not launch a job the way the guarded
    similar_pairs kernel does)."""
    df = _q(spark, sf_correct, "dedup_embedding_cosine")
    plan = executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert shuffle_count(df) == 1, plan


def test_similar_pairs_size_guard_refuses_big_corpus(spark, sf_correct):
    """The small-side verification kernel refuses to collect a corpus
    above its bound instead of OOMing the driver."""
    import pytest as _pytest

    from brooklin_spark.io import table
    from brooklin_spark.operators import similarity as S

    emb = table(spark, sf_correct, "embeddings")
    with _pytest.raises(ValueError, match="similar_pairs_blocked"):
        S.similar_pairs(emb, threshold=0.4, max_rows=10)


def test_repetition_flags_shuffle_free(spark, sf_correct):
    """Per-doc bigram stats are doc-local: the whole query must be one
    mapInPandas pass over the scan plus its explicit repartition — no
    aggregation exchange, no join."""
    df = _q(spark, sf_correct, "text_repetition_flags")
    plan = executed_plan(df)
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    assert shuffle_count(df) <= 1, plan  # only the numbered repartition


def test_pq_codes_shuffle_free(spark, sf_correct):
    """PQ encoding: codebook in closure, corpus streams through
    mapInPandas — zero exchanges, zero joins."""
    df = _q(spark, sf_correct, "embedding_pq_codes")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) == 0, plan


def test_pack_sequences_bounded_exchanges(spark, sf_correct):
    """Concat-and-chunk packing: the per-source running-sum window and the
    (source, seq) aggregation — at most two exchanges, no join."""
    df = _q(spark, sf_correct, "pack_sequences")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2, plan


def test_pq_adc_topk_single_window_exchange(spark, sf_correct):
    """ADC search: codebook + query LUT live in the closure; the corpus
    streams through one mapInPandas and only per-batch top-k triples reach
    the rank window — no join, a single exchange (the window's)."""
    df = _q(spark, sf_correct, "ann_pq_adc_topk")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 1, plan


def test_pii_redaction_map_only(spark, sf_correct):
    """PII scrub is a pure projection: scan -> regexp project, no shuffle,
    no join, no aggregate."""
    df = _q(spark, sf_correct, "text_pii_redaction")
    plan = executed_plan(df)
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    assert shuffle_count(df) == 0, plan


def test_corpus_filter_pipeline_map_only(spark, sf_correct):
    """Keep/drop verdicts are doc-local heuristics: one scan, one
    projection, zero exchanges."""
    df = _q(spark, sf_correct, "corpus_filter_pipeline")
    plan = executed_plan(df)
    assert "Join" not in plan and "HashAggregate" not in plan, plan
    assert shuffle_count(df) == 0, plan


def test_q11_single_fact_aggregation(spark, sf_correct):
    """q11: supplier filter broadcasts into the fact scan; the per-part
    aggregate is the only fact shuffle; the global-total window and the
    part join ride the small aggregate."""
    df = _q(spark, sf_correct, "q11_important_part_value")
    plan = executed_plan(df)
    assert broadcast_join_count(df) >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_stats_single_scan(spark, sf_correct):
    """ANALYZE-style profiler: one scan, one aggregate, the long form
    comes from explode — NOT a per-column union re-executing the scan."""
    df = _q(spark, sf_correct, "table_column_stats")
    plan = executed_plan(df)
    # one file index == one scan (the node name appears twice in formatted
    # output: tree line + detail section)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Union" not in plan, plan


def test_zorder_clusters_both_dimensions(spark, sf_correct):
    """zorder_repartition: files (partitions) must be tight in BOTH
    dimensions — the property that lets parquet min/max stats prune on
    either filter column. A date-only range layout leaves the price span
    at ~full range per file; the z-order layout must cut it sharply."""
    from pyspark.sql import functions as F

    from brooklin_spark.operators.layout import zorder_repartition, zvalue

    o = spark.read.parquet(f"{sf_correct}/orders.parquet")
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
    m = o.agg(
        F.min(day).alias("dlo"), F.max(day).alias("dhi"),
        F.min("o_totalprice").alias("plo"), F.max("o_totalprice").alias("phi"),
    )
    b = o.crossJoin(F.broadcast(m)).select(
        F.least(
            F.expr(
                "(CAST(datediff(o_orderdate, timestamp'1995-01-01') AS BIGINT) - dlo) * 256 div (dhi - dlo + 1)"
            ),
            F.lit(255).cast("bigint"),
        ).alias("xb"),
        F.least(
            F.expr(
                "(CAST(round(o_totalprice * 100) AS BIGINT) - CAST(round(plo * 100) AS BIGINT)) * 256 "
                "div (CAST(round(phi * 100) AS BIGINT) - CAST(round(plo * 100) AS BIGINT) + 1)"
            ),
            F.lit(255).cast("bigint"),
        ).alias("yb"),
    )

    def spans(df):
        per = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("xb") - F.min("xb")).alias("xs"),
                (F.max("yb") - F.min("yb")).alias("ys"),
            )
            .agg(F.avg("xs"), F.avg("ys"))
            .collect()[0]
        )
        return per[0], per[1]

    z = zorder_repartition(b, zvalue("xb", "yb"), 16)
    zx, zy = spans(z)
    naive = b.repartitionByRange(16, "xb")
    nx, ny = spans(naive)
    # date-only layout: price span stays near full range (~255)
    assert ny > 200, (nx, ny)
    # z-order: BOTH spans far below full range, price span cut >2x
    assert zy < ny / 2, (zy, ny)
    assert zx < 200, (zx, nx)


def test_e2e_pipeline_three_shuffles(spark, sf_correct):
    """Filter -> fingerprint-window dedup -> pack -> group compose into
    ONE DAG with at most three exchanges (fingerprint partition, source
    partition, final agg) and no join anywhere."""
    df = _q(spark, sf_correct, "corpus_e2e_pipeline")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 3, plan


def test_gap_fill_joins_aggregates_only(spark, sf_correct):
    """The dense spine joins PRE-AGGREGATED hourly counts — bounded
    exchanges, no cartesian expansion of the raw events."""
    df = _q(spark, sf_correct, "events_gap_fill")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert shuffle_count(df) <= 4, plan


def test_bm25_topk_rides_take_ordered(spark, sf_correct):
    """Global top-20 must be TakeOrderedAndProject (no single-partition
    sort of the scored corpus); the 3-row df table broadcasts back."""
    df = _q(spark, sf_correct, "text_bm25_search")
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert broadcast_join_count(df) >= 1, plan


def test_fuzzy_match_blocked_equi_join(spark, sf_correct):
    """The block key must plan as an equi-join (hash/broadcast), never a
    nested-loop — the same candidates-first discipline as LSH banding."""
    df = _q(spark, sf_correct, "fuzzy_name_match_pairs")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_concurrency_profile_no_global_event_window(spark, sf_correct):
    """The distributed prefix sum: the only ORDER BY windows are (a) the
    |days|-row offset cumsum and (b) per-day partitions — never one
    unpartitioned window over the boundary volume. We assert the shape by
    checking every window operator's input is either day-partitioned or
    fed by the tiny per-day aggregate (plan has no Window whose child
    repartitions everything to a single partition except the daily one)."""
    df = _q(spark, sf_correct, "events_concurrency_profile")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE SinglePartition exchange — the |days|-row offset cumsum;
    # the boundary-level running sum is partitioned by day, the session
    # window by user_id.
    assert plan.count("SinglePartition") == 1, plan


def test_drift_psi_single_scan_single_agg_exchange(spark, sf_correct):
    """Ref/cur counts ride ONE conditional aggregate over ONE scan — no
    second pass over events, no self-join of two period scans."""
    df = _q(spark, sf_correct, "drift_psi_report")
    assert len(read_schema_columns(df)) == 1, read_schema_columns(df)
    assert shuffle_count(df) <= 3, executed_plan(df)


def test_gdpr_purge_cascade_broadcast_semi_joins(spark, sf_correct):
    """The key sets probe the fact tables via broadcast semi-joins — the
    fact tables are never shuffled."""
    df = _q(spark, sf_correct, "gdpr_purge_manifest")
    plan = executed_plan(df)
    assert plan.count("LeftSemi") >= 2, plan
    assert broadcast_join_count(df) >= 2, plan


def test_mrl_truncate_no_explode_single_shuffle(spark, sf_correct):
    """Energy ratios are array HOFs on the vector column — no posexplode
    row blow-up; only the label aggregate shuffles."""
    df = _q(spark, sf_correct, "embedding_mrl_truncate")
    plan = executed_plan(df)
    assert "Generate" not in plan, plan
    assert shuffle_count(df) <= 1, plan


def test_scd2_pit_lookup_is_joinless_asof(spark, sf_correct):
    """The interval lookup must run as the union-tag + carry-forward
    window (as-of form) — zero joins, bounded exchanges — never the
    oracle's inequality join."""
    df = _q(spark, sf_correct, "cdc_scd2_pit_lookup")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2, plan


def test_ivm_refresh_aggregates_before_merge(spark, sf_correct):
    """IVM: both sides reduce to per-key partial aggregates BEFORE the
    full-outer merge — the merge joins aggregate-sized inputs."""
    df = _q(spark, sf_correct, "cdc_incremental_agg_refresh")
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 4, plan
    assert "FullOuter" in plan, plan


def _fact_scale_windows(plan: str) -> list[str]:
    """Window operator lines whose spec is NOT the whitelisted
    metadata-scale carry-in-offset window of operators/distrank.py
    (ordered by the per-partition-count pid column, <= buckets rows)."""
    return [
        ln.strip()
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "__dr_pid" not in ln
    ]


def test_rfm_no_fact_scale_global_window(spark, sf_correct):
    """r3 verdict scale-killer #1: the three ntile scores must come from
    the distributed rank decomposition — no WindowExec over the customer
    aggregate, only the <=buckets-row distrank offset windows remain."""
    df = _q(spark, sf_correct, "customers_rfm_segments")
    plan = executed_plan(df)
    assert not _fact_scale_windows(plan), _fact_scale_windows(plan)
    assert "ntile" not in plan, plan


def test_shard_manifest_no_fact_scale_global_window(spark, sf_correct):
    """r3 verdict scale-killer #2: the LPT shard rank must never sort all
    documents in one task — only distrank's offset window remains."""
    df = _q(spark, sf_correct, "corpus_shard_manifest")
    plan = executed_plan(df)
    assert not _fact_scale_windows(plan), _fact_scale_windows(plan)
    assert "row_number" not in plan, plan


def test_q15_q11_scalar_agg_not_global_window(spark, sf_correct):
    """The q15 max / q11 total scalars are broadcast 1-row aggregates —
    no unpartitioned WindowExec anywhere in either plan."""
    for name in ("q15_top_supplier", "q11_important_part_value"):
        plan = executed_plan(_q(spark, sf_correct, name))
        assert "windowspecdefinition" not in plan, (name, plan)


def test_pagerank_rounds_do_not_reshuffle_edges(spark, sf_correct):
    """The grouped adjacency is checkpointed hash-partitioned on ck
    (checkpoint_partitioned), so with automatic broadcast disabled — the
    at-scale shape — NO round may re-exchange it on ck: the only
    round-time exchanges are the one supplier-keyed inflow aggregate per
    round. Pins the AQE/UnknownPartitioning fix (a plain localCheckpoint
    loses the partitioning and adds ck exchanges)."""
    import re

    from brooklin_spark.queries.dedup import _PR_ITERS

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _q(spark, sf_correct, "graph_pagerank_influence")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ck_exchanges = re.findall(r"Exchange hashpartitioning\(ck#\d+", plan)
    assert not ck_exchanges, ck_exchanges
    sk_exchanges = re.findall(r"Exchange hashpartitioning\(sk#\d+", plan)
    assert len(sk_exchanges) == _PR_ITERS, plan


def test_runtime_bloom_filter_reaches_lineitem_scan(spark, sf_correct):
    """Under production conditions (creation side shuffle-joined, not
    broadcast; application-side scan over the floor) Spark must inject a
    runtime bloom filter: built from the filtered orders side, applied as
    might_contain() in the lineitem-side Filter — rows for non-urgent
    orders die at the scan instead of riding the big shuffle. At bench SF
    AQE broadcasts instead (also fine); this test pins the injection path
    itself with the thresholds at their scale-equivalent settings."""
    from brooklin_spark.queries.relational import join_runtime_bloom_urgent_revenue

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_floor = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        df = join_runtime_bloom_urgent_revenue(spark, sf_correct)
        plan = executed_plan(df)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_floor,
        )


def test_ivfpq_query_path_is_jvm_only(spark, sf_correct):
    """IVF-PQ: exactly ONE Python kernel may appear — the r9-opt fused
    index-build pass (ivf_assign + pq_encode in a single mapInPandas, so
    the corpus crosses the Python boundary once and the build is
    zero-shuffle). The QUERY path (candidate selection, LUT joins, ADC
    sum, rank) must be entirely JVM-side: the memory story of PQ dies if
    scoring drags raw vectors back into Python. Guards against a rewrite
    quietly adding a pandas scorer or un-fusing the build."""
    from brooklin_spark.registry import QUERIES

    import re

    df = QUERIES["ann_ivfpq_topk"](spark, sf_correct)
    plan = executed_plan(df)
    # the formatted explain prints each node in the tree AND the details
    # section — count tree nodes only
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    # r9-opt session 2: at bench Q the per-subspace LUT rides ONE constant
    # map<query_id, array<double>> projection, so the only broadcast hash
    # join left is probes ⋈ index (was 1 + m LUT joins)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan


@pytest.mark.slow
def test_ivfpq_lut_join_fallback_is_value_identical(spark, sf_correct):
    """Above _IVFPQ_LUT_MAP_MAX the ADC LUT falls back from the constant
    map to m broadcast joins (plan-size guard); both paths must produce
    exactly the same rows — forced here by dropping the threshold to 0."""
    from brooklin_spark import registry as reg
    from brooklin_spark.operators import similarity as S

    fn = reg.QUERIES["ann_ivfpq_topk"]
    a = {tuple(r) for r in fn(spark, sf_correct).collect()}
    prev = S._IVFPQ_LUT_MAP_MAX
    S._IVFPQ_LUT_MAP_MAX = 0
    try:
        b = {tuple(r) for r in fn(spark, sf_correct).collect()}
    finally:
        S._IVFPQ_LUT_MAP_MAX = prev
    assert a == b and len(a) > 0


def test_autocorrelation_is_window_free(spark, sf_correct):
    """Lag-k ACF must come from the day-arithmetic self-join, never a
    global ordered window: the plan has NO window operator at all, and
    the daily collapse is a map-side-combined aggregate pair."""
    df = _q(spark, sf_correct, "events_autocorrelation")
    plan = executed_plan(df)
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_changepoint_window_is_calendar_scale(spark, sf_correct):
    """CUSUM's only window runs over the per-day aggregate: a
    HashAggregate (the fact-scale daily collapse) must sit BELOW the
    window's exchange, and the scalar totals join is a broadcast."""
    df = _q(spark, sf_correct, "events_changepoint_cusum")
    plan = executed_plan(df)
    assert "windowspecdefinition" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_weighted_priority_sample_is_topk_not_global_sort(spark, sf_correct):
    """The weighted sampler must plan as TakeOrderedAndProject
    (per-partition heaps + K-row driver merge), never a global sort."""
    df = _q(spark, sf_correct, "sample_weighted_priority")
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


@pytest.mark.slow
def test_incremental_dedup_band_join_is_hash_equi(spark, sf_correct):
    """Probe-vs-base LSH: the band join is an equi-join (hash/broadcast),
    never a nested loop, and only the two map-side Arrow kernels
    (shingles, minhash) run in Python."""
    import re

    df = _q(spark, sf_correct, "dedup_incremental_new_vs_base")
    plan = executed_plan(df)
    assert "NestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) <= 2, plan


def test_dup_span_coverage_windows_are_per_doc(spark, sf_correct):
    """Dup-span coverage: exactly ONE Arrow span kernel (its output is
    consumed once — the dup flag is a window over the span hash, not a
    groupBy + semi-join that would re-execute the kernel), windows are
    hash-partitioned (h, then doc_id), joins are equi."""
    import re

    from brooklin_spark.plans import single_partition_window_lines

    df = _q(spark, sf_correct, "text_dup_span_coverage")
    plan = executed_plan(df)
    assert not single_partition_window_lines(df), plan
    assert "NestedLoopJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_hashing_tf_is_pure_aggregate(spark, sf_correct):
    """Feature hashing: no vocabulary join anywhere — the plan is
    explode + hash aggregates only (no join operator at all), fully
    JVM-side."""
    df = _q(spark, sf_correct, "text_hashing_tf")
    plan = executed_plan(df)
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_label_propagation_edges_built_once(spark, sf_correct):
    """LPA: the lineitem self-join (edge build) happens once — the
    checkpointed edge RDD feeds both rounds, so the plan over the
    checkpoint contains NO scan of lineitem and no window."""
    df = _q(spark, sf_correct, "graph_label_propagation")
    plan = executed_plan(df)
    assert "lineitem" not in plan, plan[:2000]
    assert "windowspecdefinition" not in plan, plan


def test_copurchase_pairs_one_basket_exchange_no_join(spark, sf_correct):
    """The co-purchase graph the part-graph queries share is ONE lineitem
    scan, the orderkey basket exchange and the pair-support exchange:
    pairs generate inside the row pipeline (posexplode x slice over each
    basket), never through a lineitem self-join."""
    import re

    from brooklin_spark.queries.dedup import _copurchase_pairs

    df = _copurchase_pairs(spark, sf_correct)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+\(?\w*)", plan)
    assert sorted(exchanges) == [
        "hashpartitioning(l_orderkey",
        "hashpartitioning(pa",
    ], plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and "lineitem" in scans[0], plan
    assert "Join" not in plan, plan


def test_pareto_abc_no_fact_scale_global_window(spark, sf_correct):
    """The global cumulative share must come from the distrank prefix-sum
    decomposition: every window is either hash-partitioned or the
    whitelisted <=B-row __dr_pid offsets window."""
    df = _q(spark, sf_correct, "parts_pareto_abc")
    plan = executed_plan(df)
    assert not _fact_scale_windows(plan) or all(
        "__dr_pid" in ln for ln in _fact_scale_windows(plan)
    ), _fact_scale_windows(plan)
    from brooklin_spark.plans import single_partition_window_lines

    assert not single_partition_window_lines(df), plan


def test_self_join_candidate_generator_detector(spark, sf_correct):
    """r5 audit extension: the detector flags the LSH/blocking self-join
    shape (same key names + same-named `<` tie-break) and stays silent on
    ordinary star joins; every flagged registered query carries a
    cap/band justification in scripts/plan_audit.py's whitelist."""
    from brooklin_spark.plans import self_join_candidate_generators

    # the motivating defect's query — now capped, still flagged (the
    # detector sees the join shape; the cap is the rare-fh semi-join
    # upstream, asserted by the multimodal hot-key tests)
    vnd = _q(spark, sf_correct, "multimodal_video_near_dup")
    assert self_join_candidate_generators(vnd)
    # a star join with different key names on each side: silent
    q5 = _q(spark, sf_correct, "q5_local_supplier_volume")
    assert not self_join_candidate_generators(q5)
    # a USING-style lookup join on a shared key name WITHOUT the
    # tie-break: silent (lookups are not pair generators)
    lk = _q(spark, sf_correct, "dedup_decontamination_flags")
    assert not self_join_candidate_generators(lk)


# ------------------------------------------------- round-7 second-session shapes


def test_source_cap_no_per_source_window(spark, sf_correct):
    """The per-source cap must ride the distributed grouped rank: no
    window partitioned on `source` (a 20-value key would put corpus/20
    rows in one task) — the only windows are distrank's bounded
    carry-in-offset windows."""
    import re

    plan = executed_plan(_q(spark, sf_correct, "corpus_source_cap"))
    # any Window whose partition spec names `source` is the skew shape
    for frag in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "source" not in frag, plan


def test_mrl_funnel_single_corpus_pass(spark, sf_correct):
    """The funnel's rerank must NOT rescan or join the corpus: one
    FlatMapGroups/mapInPandas scan, no Join anywhere, and only the
    window exchanges after it."""
    import re

    plan = executed_plan(_q(spark, sf_correct, "ann_mrl_funnel_topk"))
    assert "Join" not in plan, plan
    # formatted explain prints each node twice (tree + details): count
    # distinct scan node ids, not substring occurrences
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1, plan


def test_hard_negatives_corpus_not_joined(spark, sf_correct):
    plan = executed_plan(_q(spark, sf_correct, "ann_hard_negative_mining"))
    assert "Join" not in plan, plan
