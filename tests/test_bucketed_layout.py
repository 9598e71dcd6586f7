"""The bucketed-orderkey fact layout (scripts/spine_bucketed.py's A/B):

- io.table's "bucketed:<db>:<fallback>" scheme serves catalog tables when
  present and falls back to plain parquet otherwise,
- registered queries return IDENTICAL results on both layouts,
- the layout actually removes the fact exchanges: q3's final AQE plan has
  ZERO hash-partitioning Exchange on bucketed tables (asserted, not
  claimed — the r6 sf10 book measured 4.4 -> 1.2 s from exactly this).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from brooklin_spark import registry
from brooklin_spark.io import table
from brooklin_spark.operators.bucketing import register_bucketed, write_bucketed

registry.load_all()

DB = "spine_test"
N_BUCKETS = 4


@pytest.fixture(scope="module")
def bucketed_db(spark, sf_smoke):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    for name, key in [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
        df = table(spark, sf_smoke, name).repartition(N_BUCKETS, F.col(key))
        write_bucketed(df, f"{DB}.{name}", key, N_BUCKETS, sort=True)
    yield f"bucketed:{DB}:{sf_smoke}"
    for name in ("orders", "lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "q", ["q3_top_unshipped_orders", "q5_local_supplier_volume", "q10_returned_items"]
)
def test_bucketed_layout_is_result_invisible(spark, sf_smoke, bucketed_db, q):
    a = registry.QUERIES[q](spark, sf_smoke).toPandas()
    b = registry.QUERIES[q](spark, bucketed_db).toPandas()
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, ignore_index=True)
    b = b[cols].sort_values(cols, ignore_index=True)
    assert a.equals(b)


def test_bucketed_q3_plans_zero_exchange(spark, bucketed_db):
    df = registry.QUERIES["q3_top_unshipped_orders"](spark, bucketed_db)
    assert "Exchange hashpartitioning" not in _final_plan(df)


def test_bucketed_scan_is_used(spark, bucketed_db):
    # the planner only engages the bucketed scan when an operator
    # benefits — a bare scan reports it disabled, the orderkey join uses it
    o = table(spark, bucketed_db, "orders")
    li = table(spark, bucketed_db, "lineitem")
    j = o.join(li, o.o_orderkey == li.l_orderkey).groupBy().count()
    plan = _final_plan(j)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan


def test_fallback_serves_plain_parquet(spark, sf_smoke, bucketed_db):
    # customer is not in the bucketed db — the scheme must fall through
    a = table(spark, bucketed_db, "customer").count()
    b = table(spark, sf_smoke, "customer").count()
    assert a == b


def test_register_bucketed_reattaches_location(spark, sf_smoke, bucketed_db):
    # a new session loses the in-memory catalog but not the files;
    # register_bucketed re-attaches a directory with the same bucket
    # spec (here: a second EXTERNAL name over the managed table's files
    # — dropping the managed entry would delete them)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = f"{warehouse}/{DB}.db/orders"
    spark.sql(f"DROP TABLE IF EXISTS {DB}.orders_ext")
    register_bucketed(spark, f"{DB}.orders_ext", "o_orderkey", N_BUCKETS, loc)
    df = spark.table(f"{DB}.orders_ext")
    assert df.count() == table(spark, sf_smoke, "orders").count()
    li = table(spark, bucketed_db, "lineitem")
    j = df.join(li, df.o_orderkey == li.l_orderkey).groupBy().count()
    plan = _final_plan(j)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan
    spark.sql(f"DROP TABLE {DB}.orders_ext")


def test_register_bucketed_rejects_wrong_spec(spark, bucketed_db):
    # re-attaching files under a bucket spec they were not written with
    # must fail loudly — a silent mismatch makes zero-Exchange joins wrong
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = f"{warehouse}/{DB}.db/orders"
    spark.sql(f"DROP TABLE IF EXISTS {DB}.orders_bad")
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        register_bucketed(spark, f"{DB}.orders_bad", "o_orderkey", N_BUCKETS * 2, loc)
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        register_bucketed(spark, f"{DB}.orders_bad", "o_custkey", N_BUCKETS, loc)
    assert not spark.catalog.tableExists(f"{DB}.orders_bad")


def test_register_bucketed_requires_recorded_spec(spark, tmp_path, sf_smoke):
    # a directory with no recorded spec cannot be validated -> refuse
    table(spark, sf_smoke, "orders").write.parquet(str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="no _bucket_spec.json"):
        register_bucketed(
            spark, "never_created", "o_orderkey", N_BUCKETS, str(tmp_path / "plain")
        )


def test_scratch_names_are_collision_safe_and_gc_reclaims(spark, sf_smoke):
    import os

    from brooklin_spark.checkpoint import gc_dead_scratch, scratch_name

    corpus = os.path.join(sf_smoke, "lineitem.parquet")
    mine = scratch_name("pr_grouped_scratch", corpus)
    assert mine.endswith(f"_{os.getpid()}")
    # same corpus + same process -> stable; different corpus -> different
    assert mine == scratch_name("pr_grouped_scratch", corpus)
    other = scratch_name(
        "pr_grouped_scratch", os.path.join(sf_smoke, "orders.parquet")
    )
    assert other != mine
    # a dead-pid orphan is reclaimed, the live-pid table survives
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    dead = "pr_grouped_scratch_deadbeef_999999999"
    os.makedirs(os.path.join(warehouse, dead), exist_ok=True)
    spark.range(1).write.mode("overwrite").saveAsTable(mine)
    gc_dead_scratch(spark, "pr_grouped_scratch")
    assert not os.path.exists(os.path.join(warehouse, dead))
    assert spark.catalog.tableExists(mine)
    from brooklin_spark.checkpoint import drop_scratch_table

    drop_scratch_table(spark, mine)
    assert not spark.catalog.tableExists(mine)


def test_drop_scratch_table_resolves_db_qualified_location(spark):
    # the managed location of a db-qualified table is <wh>/<db>.db/<name>,
    # not <wh>/<name> — drop must remove the real directory so a later
    # CREATE cannot fail with LOCATION_ALREADY_EXISTS
    import os

    from brooklin_spark.checkpoint import drop_scratch_table

    spark.sql("CREATE DATABASE IF NOT EXISTS scratch_db_test")
    spark.range(3).write.mode("overwrite").saveAsTable("scratch_db_test.t1")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "scratch_db_test.db", "t1")
    assert os.path.isdir(loc)
    drop_scratch_table(spark, "scratch_db_test.t1")
    assert not os.path.isdir(loc)
    # orphan fallback: files with no catalog entry, db-qualified name
    os.makedirs(loc, exist_ok=True)
    drop_scratch_table(spark, "scratch_db_test.t1")
    assert not os.path.isdir(loc)


def test_pagerank_spill_path_is_value_identical(spark, sf_smoke, monkeypatch):
    """The beyond-JVM-memory columnar-spill path (ck-bucketed grouped
    adjacency scratch table) must produce EXACTLY the in-memory
    partitioned-checkpoint path's ranks — the switch changes storage,
    never values (measured identical at sf10; pinned here at smoke SF)."""
    import brooklin_spark.queries.dedup as dd

    fn = registry.QUERIES["graph_pagerank_influence"]
    a = fn(spark, sf_smoke).toPandas()
    monkeypatch.setattr(dd, "_PR_SPILL_LI_ROWS", 1)  # force the spill path
    b = fn(spark, sf_smoke).toPandas()
    a = a.sort_values("node", ignore_index=True)
    b = b.sort_values("node", ignore_index=True)
    assert a.equals(b) and len(a) > 0


def test_kcenter_spill_state_is_value_identical(spark, sf_smoke, monkeypatch):
    """The r10 columnar-spill switch for kcenter's incremental running-max
    state (alternating scratch tables past _KC_SPILL_EMB_ROWS) must produce
    EXACTLY the localCheckpoint path's centers, and must leave no scratch
    tables behind — the switch changes storage, never values."""
    import brooklin_spark.queries.similarity as qs

    fn = registry.QUERIES["embedding_kcenter_coreset"]
    a = fn(spark, sf_smoke).toPandas().sort_values("rank", ignore_index=True)
    monkeypatch.setattr(qs, "_KC_SPILL_EMB_ROWS", 0)
    b = fn(spark, sf_smoke).toPandas().sort_values("rank", ignore_index=True)
    assert a.equals(b) and len(a) > 0
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("kc_state_")
    ]
    assert not leftover, f"kcenter spill scratch not cleaned: {leftover}"


def test_q5_spine_twin_autoroute(spark, sf_smoke):
    """q5's layout-aware fallback (r10): with a provenance-stamped custkey
    twin present the query scans the bucketed catalog tables; with the
    stamp's mtime invalidated (or no twin) it scans plain parquet. Results
    identical either way."""
    import os
    import shutil

    from brooklin_spark.operators.bucketing import (
        SPEC_FILE,
        spine_twin,
        stamp_source,
        table_location,
        write_bucketed,
    )

    db = "spinecust_" + os.path.basename(os.path.normpath(sf_smoke)).replace(".", "_")
    assert spine_twin(spark, sf_smoke) is None  # no twin yet
    fn = registry.QUERIES["q5_local_supplier_volume"]
    plain = fn(spark, sf_smoke)
    assert db not in plain._jdf.queryExecution().analyzed().toString()
    a = plain.toPandas().sort_values("n_name", ignore_index=True)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    locs = []
    try:
        for name, key in [
            ("customer", "c_custkey"),
            ("orders", "o_custkey"),
            ("lineitem", "l_orderkey"),
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
            write_bucketed(
                table(spark, sf_smoke, name).repartition(4, F.col(key)),
                f"{db}.{name}",
                key,
                4,
            )
            loc = table_location(spark, f"{db}.{name}")
            locs.append(loc)
            # without the provenance stamp the twin must NOT be routed
            assert spine_twin(spark, sf_smoke) is None
            stamp_source(loc, os.path.join(sf_smoke, f"{name}.parquet"))
        assert spine_twin(spark, sf_smoke) == f"bucketed:{db}:{sf_smoke}"
        routed = fn(spark, sf_smoke)
        assert db in routed._jdf.queryExecution().analyzed().toString()
        b = routed.toPandas().sort_values("n_name", ignore_index=True)
        assert a.equals(b) and len(a) > 0
        # stale-source guard: a wrong mtime in one stamp kills the route
        import json

        spec_path = os.path.join(locs[0], SPEC_FILE)
        spec = json.load(open(spec_path))
        spec["source"]["stamp"][1] = 0  # file_stamp: (ino, mtime_ns, size)
        json.dump(spec, open(spec_path, "w"))
        assert spine_twin(spark, sf_smoke) is None
    finally:
        for name in ("customer", "orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        for loc in locs:
            shutil.rmtree(loc, ignore_errors=True)
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
