"""CDC materialization sink: MERGE semantics (last-scn wins, DELETE removes)
against the batch cdc_apply_upserts oracle query, plus incremental
multi-batch merges and snapshot-pointer atomicity."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from brooklin_spark import registry
from brooklin_spark.manager import PipelineManager
from brooklin_spark.model import PipelineSpec
from brooklin_spark.sinks.materialize import current_version, merge_batch, read_state

registry.load_all()


def _envelope_rows(spark, rows):
    """rows: (key, value, op_code, scn)"""
    return spark.createDataFrame(
        [
            (k, v.encode() if v is not None else None, op, scn, scn)
            for k, v, op, scn in rows
        ],
        "key string, value binary, op_code string, scn long, offset long",
    ).select(F.col("key").cast("binary").alias("key"), "value", "op_code", "scn", "offset")


def test_merge_batches_upsert_and_delete(spark, tmp_path):
    root = str(tmp_path / "state")
    os.makedirs(root)
    merge_batch(
        _envelope_rows(spark, [("a", "v1", "INSERT", 1), ("b", "v1", "INSERT", 2)]),
        root, spark,
    )
    st = {r.k: r.value for r in read_state(spark, root).collect()}
    assert st == {"a": b"v1", "b": b"v1"}
    # batch 2: update a, delete b, insert c; an EARLIER-scn update of c must lose
    merge_batch(
        _envelope_rows(
            spark,
            [("a", "v2", "UPDATE", 10), ("b", None, "DELETE", 11),
             ("c", "new", "INSERT", 12), ("c", "stale", "UPDATE", 5)],
        ),
        root, spark,
    )
    st = {r.k: r.value for r in read_state(spark, root).collect()}
    assert st == {"a": b"v2", "c": b"new"}
    assert current_version(root) == 2


def test_delete_tombstone_survives_late_redelivery(spark, tmp_path):
    """A winning DELETE must persist as a tombstone across batches: a
    lower-scn change for that key arriving in a LATER micro-batch
    (at-least-once re-delivery / cross-partition scn skew) may not
    resurrect the deleted row (ADVICE r1 #2)."""
    root = str(tmp_path / "state")
    os.makedirs(root)
    merge_batch(
        _envelope_rows(spark, [("a", "v1", "INSERT", 1), ("b", "v1", "INSERT", 2)]),
        root, spark,
    )
    merge_batch(_envelope_rows(spark, [("b", None, "DELETE", 20)]), root, spark)
    assert {r.k for r in read_state(spark, root).collect()} == {"a"}
    # late re-delivery of an OLD update for b in a later batch
    merge_batch(_envelope_rows(spark, [("b", "stale", "UPDATE", 5)]), root, spark)
    st = {r.k: r.value for r in read_state(spark, root).collect()}
    assert st == {"a": b"v1"}, "deleted key must stay deleted"
    # a genuinely NEWER insert for b revives the key past the tombstone
    merge_batch(_envelope_rows(spark, [("b", "reborn", "INSERT", 30)]), root, spark)
    st = {r.k: r.value for r in read_state(spark, root).collect()}
    assert st == {"a": b"v1", "b": b"reborn"}


def test_empty_batch_publishes_nothing(spark, tmp_path):
    """An empty batch neither creates a state nor publishes a snapshot, so
    no version leaves time-travel retention; a caller that counted the
    rows passes ``rows`` instead of the merge probing for one."""
    from brooklin_spark.sinks.materialize import read_raw_state, read_state_at

    root = str(tmp_path / "state")
    empty = _envelope_rows(spark, [("a", "v", "INSERT", 1)]).limit(0)
    merge_batch(empty, root, spark)
    assert current_version(root) is None

    merge_batch(_envelope_rows(spark, [("a", "v0", "INSERT", 1)]), root, spark)
    merge_batch(
        _envelope_rows(spark, [("a", "v1", "INSERT", 2), ("b", None, "DELETE", 3)]),
        root, spark,
    )

    def raw() -> list:
        return sorted(read_raw_state(spark, root).collect())

    before = raw()
    merge_batch(empty, root, spark)
    merge_batch(empty, root, spark, rows=0)
    assert current_version(root) == 2 and raw() == before
    assert [bytes(r.value) for r in read_state_at(spark, root, 1).collect()] == [b"v0"]

    merge_batch(_envelope_rows(spark, [("c", "v2", "INSERT", 4)]), root, spark, rows=1)
    assert {r.k for r in read_state(spark, root).collect()} == {"a", "c"}


def test_bootstrap_events_materialize_matches_batch_query(spark, tmp_path, sf_smoke):
    """Pipeline: parquet events bootstrap → materialize transport; final
    state table == the oracle-checked cdc_apply_upserts query."""
    root = str(tmp_path / "state")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="cdcmat",
            connector="parquet",
            transport="materialize",
            source_uri=f"parquet://{sf_smoke}/events.parquet",
            dest_uri=f"parquet://{root}",
        )
    )
    state = read_state(spark, root)
    got = {
        int(r.k): (bytes(r.value).decode(), r.scn) for r in state.collect()
    }
    want = {
        r.user_id: (r.final_value, r.final_scn)
        for r in registry.QUERIES["cdc_apply_upserts"](spark, sf_smoke).collect()
    }
    assert got == want and len(got) > 0
    mgr.delete("cdcmat")


def test_streaming_materialize_from_rate(spark, tmp_path):
    """Streaming wiring: rate source → materialize transport; state table
    appears, snapshot version advances, metrics reduce sees the query."""
    root = str(tmp_path / "state")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="ratemat",
            connector="rate",
            transport="materialize",
            source_uri="rate://500",
            dest_uri=f"parquet://{root}",
        )
    )
    import time

    deadline = time.time() + 30
    n = 0
    while time.time() < deadline and n == 0:
        time.sleep(0.5)
        mgr.process_available("ratemat")
        st = read_state(spark, root)
        n = st.count() if st is not None else 0
    assert current_version(root) >= 1
    assert n > 0
    m = mgr.metrics_summary()
    assert m["active_queries"] >= 1 and m["recent_input_rows"] > 0
    mgr.delete("ratemat")


def test_materialize_restart_continues_incrementally(spark, tmp_path):
    """Crash/restart: restore() resumes the pipeline from its checkpoint;
    committed batches are not re-applied (version stable), new data still
    merges (version advances, state grows)."""
    import os

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("k1\nk2\n")
    root = str(tmp_path / "state")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="restmat",
            connector="file",
            transport="materialize",
            source_uri=f"file://{src}",
            dest_uri=f"parquet://{root}",
        )
    )
    mgr.process_available("restmat")
    v1 = current_version(root)
    n1 = read_state(spark, root).count()
    assert v1 >= 1 and n1 == 2

    mgr.query_of("restmat").stop()  # simulate crash
    mgr2 = PipelineManager(spark, str(tmp_path / "mgr"))
    assert mgr2.restore() == 1
    mgr2.process_available("restmat")
    # nothing new: committed batches are not replayed
    assert current_version(root) == v1
    assert read_state(spark, root).count() == n1
    with open(os.path.join(src, "b.txt"), "w") as f:
        f.write("k3\n")
    mgr2.process_available("restmat")
    assert current_version(root) == v1 + 1
    assert read_state(spark, root).count() == 3
    mgr2.delete("restmat")


def test_time_travel_and_vacuum(spark, tmp_path):
    """read_state_at serves retained snapshots; vacuum bounds retention
    and never drops the current pointer target."""
    from brooklin_spark.sinks.materialize import (
        read_state_at,
        vacuum,
        versions,
    )

    root = str(tmp_path / "tt")
    merge_batch(_envelope_rows(spark, [("a", "v1", "INSERT", 1)]), root, spark)
    merge_batch(_envelope_rows(spark, [("a", "v2", "UPDATE", 2)]), root, spark)
    assert versions(root) == [1, 2]
    old = {r.k: bytes(r.value) for r in read_state_at(spark, root, 1).collect()}
    new = {r.k: bytes(r.value) for r in read_state_at(spark, root, 2).collect()}
    assert old == {"a": b"v1"} and new == {"a": b"v2"}
    merge_batch(_envelope_rows(spark, [("b", "x", "INSERT", 3)]), root, spark)
    # default keep_versions=2: v1 is gone, v2/v3 remain
    assert versions(root) == [2, 3]
    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_state_at(spark, root, 1)
    removed = vacuum(root, keep_last=1)
    assert removed == [2] and versions(root) == [3]
    assert {r.k for r in read_state_at(spark, root, 3).collect()} == {"a", "b"}


def test_compact_drops_expired_tombstones_only(spark, tmp_path):
    """Tombstones at/below the re-delivery horizon are garbage-collected;
    those above it survive and STILL suppress a late lower-scn change."""
    from brooklin_spark.sinks.materialize import compact, read_raw_state

    root = str(tmp_path / "state")
    os.makedirs(root)
    merge_batch(
        _envelope_rows(
            spark,
            [
                ("a", "v1", "INSERT", 1),
                ("b", "v1", "INSERT", 2),
                ("a", None, "DELETE", 5),   # old tombstone (<= horizon)
                ("b", None, "DELETE", 50),  # young tombstone (> horizon)
            ],
        ),
        root, spark,
    )
    v = compact(root, spark, tombstone_horizon_scn=10)
    assert current_version(root) == v
    raw = {r.k: r.op_code for r in read_raw_state(spark, root).collect()}
    assert "a" not in raw                 # expired tombstone gone
    assert raw["b"] == "DELETE"           # young tombstone retained
    # late re-delivery below the young tombstone's scn must still lose
    merge_batch(_envelope_rows(spark, [("b", "stale", "UPDATE", 20)]), root, spark)
    st = {r.k: r.value for r in read_state(spark, root).collect()}
    assert "b" not in st


def test_compact_bin_packs_files_and_preserves_reader_view(spark, tmp_path):
    from brooklin_spark.sinks.materialize import compact

    root = str(tmp_path / "state")
    os.makedirs(root)
    # several merges -> multi-file snapshot lineage
    for i in range(6):
        merge_batch(
            _envelope_rows(spark, [(f"k{i}", f"v{i}", "INSERT", i + 1)]),
            root, spark,
        )
    before = {r.k: r.value for r in read_state(spark, root).collect()}
    v = compact(root, spark, target_files=1)
    vdir = os.path.join(root, f"v{v}")
    parts = [f for f in os.listdir(vdir) if f.startswith("part-")]
    assert len(parts) == 1, parts
    after = {r.k: r.value for r in read_state(spark, root).collect()}
    assert after == before
