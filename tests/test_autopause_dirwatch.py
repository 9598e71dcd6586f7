"""Round-2 control-plane additions:

- auto-pause on send error + timed auto-resume with zero loss
  (PausedSourcePartitionMetadata.java:28-33,81;
  AbstractKafkaBasedConnectorTask.java:309-368 parity)
- directory mirroring transport driven by the dirwatch change connector
  (DirectoryChangeProcessor + DirectoryTransportProvider parity)
- Dummy/Broken connector fixtures (datastream-testcommon parity)
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from brooklin_spark.manager import PipelineManager
from brooklin_spark.model import PipelineSpec
from brooklin_spark.sinks import registry as sinks


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _delivered(spark, name: str) -> int:
    """Rows delivered to the memory destination (0 before any successful
    send — the split sink registers the view on first delivery)."""
    if not spark.catalog.tableExists(name):
        return 0
    return spark.sql(f"SELECT * FROM {name}").count()


def test_auto_pause_and_timed_auto_resume_no_loss(spark, tmp_path):
    """A partition whose sends fail auto-pauses (rows held, not lost);
    after the configured duration it auto-resumes and the held rows are
    re-delivered."""
    src = str(tmp_path / "in")
    _write(src + "/a.txt", "a1\n")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    spec = PipelineSpec(
        name="ap",
        connector="file",
        transport="broken",
        source_uri=f"file://{src}",
        metadata={
            "memory.table": "ap",
            "system.auto.pause.on.error": "true",
            "system.auto.pause.duration.ms": "800",
        },
    )
    mgr.create(spec)
    # find the partition the file hashes to, then break exactly that one
    part = (
        spark.read.format("text")
        .load(src)
        .select(
            F.pmod(F.crc32(F.col("_metadata.file_path").cast("binary")), F.lit(32))
            .cast("int")
            .alias("p")
        )
        .first()
        .p
    )
    sinks.BROKEN_FAIL_PARTITIONS.add(part)
    try:
        mgr.process_available("ap")
        # send failed → partition auto-paused with a resume-at timestamp
        auto = mgr.auto_paused_partitions("ap")
        assert list(auto) == [part]
        assert _delivered(spark, "ap") == 0  # held, not delivered
        # new data ON THE PAUSED PARTITION diverts straight to the holding
        # pen (pick a filename that crc32-hashes to the same partition —
        # Spark reports paths as file:/abs/path)
        import zlib

        bname = next(
            f"b{i}.txt"
            for i in range(1000)
            if zlib.crc32(f"file:{src}/b{i}.txt".encode()) % 32 == part
        )
        _write(f"{src}/{bname}", "a2\n")
        mgr.process_available("ap")
        assert _delivered(spark, "ap") == 0
    finally:
        sinks.BROKEN_FAIL_PARTITIONS.discard(part)
    # transport healthy again; pause expires → poll re-admits + re-delivers
    # (deadline loop: a slow batch may have hit the still-broken transport
    # after expiry, legitimately RE-pausing for another duration)
    deadline = time.time() + 15
    resumed: list = []
    while time.time() < deadline and not resumed:
        time.sleep(0.3)
        resumed = mgr.poll_auto_resume("ap")
    assert resumed == [part]
    assert mgr.auto_paused_partitions("ap") == {}
    vals = sorted(
        bytes(r.value).decode()
        for r in spark.sql("SELECT value FROM ap").collect()
    )
    assert vals == ["a1", "a2"], "held rows must re-deliver on auto-resume"
    mgr.delete("ap")


def test_directory_mirroring_create_modify_delete(spark, tmp_path):
    """dirwatch → directory transport mirrors create/modify/delete into the
    destination dir; initial contents are NOT replayed (reference
    semantics, DirectoryTransportProvider.java:30-34)."""
    src = str(tmp_path / "srcdir")
    dest = str(tmp_path / "destdir")
    os.makedirs(src)
    _write(src + "/pre.txt", "pre-existing\n")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="mirror",
            connector="dirwatch",
            transport="directory",
            source_uri=f"dir://{src}",
            dest_uri=f"dir://{dest}",
            metadata={"dirwatch.state.path": str(tmp_path / "state" / "mirror.json")},
        )
    )
    # initial snapshot emits nothing (no initial copy)
    assert not os.path.exists(os.path.join(dest, "pre.txt"))

    _write(src + "/a.txt", "v1")
    mgr.poll("mirror")
    assert open(os.path.join(dest, "a.txt")).read() == "v1"

    time.sleep(0.02)
    _write(src + "/a.txt", "v2-modified")
    os.utime(os.path.join(src, "a.txt"))
    mgr.poll("mirror")
    assert open(os.path.join(dest, "a.txt")).read() == "v2-modified"

    os.remove(os.path.join(src, "a.txt"))
    mgr.poll("mirror")
    assert not os.path.exists(os.path.join(dest, "a.txt"))
    # pre-existing file was never mirrored and never deleted at the source
    assert os.path.exists(os.path.join(src, "pre.txt"))
    mgr.delete("mirror")


def test_dummy_connector_fixture(spark, tmp_path):
    """DummyConnector parity: wrong config rejected, valid config creates a
    no-op pipeline."""
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    bad = PipelineSpec(
        name="dummybad", connector="dummy", transport="memory",
        source_uri="dummy://DummySource", metadata={"memory.table": "dummybad"},
    )
    with pytest.raises(ValueError, match="dummyProperty"):
        mgr.create(bad)
    with pytest.raises(KeyError):
        mgr.get("dummybad")  # rejected → nothing stored

    good = PipelineSpec(
        name="dummyok", connector="dummy", transport="memory",
        source_uri="dummy://DummySource",
        metadata={"memory.table": "dummyok", "dummyProperty": "dummyValue"},
    )
    mgr.create(good)
    assert spark.sql("SELECT * FROM dummyok").count() == 0
    mgr.delete("dummyok")


def test_broken_connector_fixture_rejects_create(spark, tmp_path):
    """BrokenConnector parity: create fails AND leaves no half-created
    catalog entry (the reference rejects the datastream)."""
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    spec = PipelineSpec(
        name="brk", connector="broken", transport="memory",
        source_uri="broken://x", metadata={},
    )
    with pytest.raises(RuntimeError, match="BrokenConnector"):
        mgr.create(spec)
    with pytest.raises(KeyError):
        mgr.get("brk")
    assert mgr.list() == []


def test_auto_pause_state_survives_manager_restart(spark, tmp_path):
    """Auto-pause state is durable: the resume-at timestamp lives in the
    persisted spec and the held rows in the on-disk holding pen, so a
    restarted manager (crash recovery) still auto-resumes and re-delivers
    — the reference keeps this in ZK for the same reason."""
    src = str(tmp_path / "in")
    _write(src + "/a.txt", "r1\n")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="apr",
            connector="file",
            transport="broken",
            source_uri=f"file://{src}",
            metadata={
                "memory.table": "apr",
                "system.auto.pause.on.error": "true",
                "system.auto.pause.duration.ms": "500",
            },
        )
    )
    part = (
        spark.read.format("text")
        .load(src)
        .select(
            F.pmod(F.crc32(F.col("_metadata.file_path").cast("binary")), F.lit(32))
            .cast("int")
            .alias("p")
        )
        .first()
        .p
    )
    sinks.BROKEN_FAIL_PARTITIONS.add(part)
    try:
        mgr.process_available("apr")
        assert list(mgr.auto_paused_partitions("apr")) == [part]
    finally:
        sinks.BROKEN_FAIL_PARTITIONS.discard(part)
    # crash: stop the query, build a FRESH manager over the same workdir
    mgr.query_of("apr").stop()
    mgr2 = PipelineManager(spark, str(tmp_path / "mgr"))
    assert mgr2.restore() == 1
    assert list(mgr2.auto_paused_partitions("apr")) == [part]  # durable
    deadline = time.time() + 15
    resumed: list = []
    while time.time() < deadline and not resumed:
        time.sleep(0.3)
        resumed = mgr2.poll_auto_resume("apr")
    assert resumed == [part]
    vals = [
        bytes(r.value).decode()
        for r in spark.sql("SELECT value FROM apr").collect()
    ]
    assert vals == ["r1"], "held row re-delivered after restart + expiry"
    mgr2.delete("apr")


def test_subthreshold_send_failure_pen_flushes_on_poll(spark, tmp_path):
    """With auto.pause.error.threshold > 1, a single transient send failure
    diverts rows to the holding pen WITHOUT tripping an auto-pause; the pen
    must still flush on the next poll (ADVICE r2 #3: the expired-only early
    return stranded sub-threshold rows forever)."""
    src = str(tmp_path / "in")
    _write(src + "/a.txt", "s1\n")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="sth",
            connector="file",
            transport="broken",
            source_uri=f"file://{src}",
            metadata={
                "memory.table": "sth",
                "system.auto.pause.on.error": "true",
                "system.auto.pause.error.threshold": "3",
                "system.auto.pause.duration.ms": "600000",
            },
        )
    )
    part = (
        spark.read.format("text")
        .load(src)
        .select(
            F.pmod(F.crc32(F.col("_metadata.file_path").cast("binary")), F.lit(32))
            .cast("int")
            .alias("p")
        )
        .first()
        .p
    )
    sinks.BROKEN_FAIL_PARTITIONS.add(part)
    try:
        mgr.process_available("sth")
        # ONE failure < threshold 3: no auto-pause, rows held in the pen
        assert mgr.auto_paused_partitions("sth") == {}
        assert _delivered(spark, "sth") == 0
    finally:
        sinks.BROKEN_FAIL_PARTITIONS.discard(part)
    # transport healthy again; nothing expired — the poll must STILL flush
    resumed = mgr.poll_auto_resume("sth")
    assert resumed == []
    vals = [
        bytes(r.value).decode()
        for r in spark.sql("SELECT value FROM sth").collect()
    ]
    assert vals == ["s1\n"] or vals == ["s1"], "pen flushed without an expiry"
    mgr.delete("sth")


def test_bounded_bootstrap_auto_pauses_a_failing_partition(spark, tmp_path):
    """The bounded bootstrap delivers like a streaming batch: a partition
    whose send fails is held and auto-paused instead of failing create, the
    auto-pause state is persisted, and the held rows re-deliver once the
    pause expires."""
    src = str(tmp_path / "table")
    spark.range(5).coalesce(1).write.parquet(src)  # one file: partition 0
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    sinks.BROKEN_FAIL_PARTITIONS.add(0)
    try:
        mgr.create(
            PipelineSpec(
                name="bootap",
                connector="parquet",
                transport="broken",
                source_uri=f"parquet://{src}",
                metadata={
                    "memory.table": "bootap",
                    "system.auto.pause.on.error": "true",
                    "system.auto.pause.duration.ms": "500",
                },
            )
        )
        assert list(mgr.auto_paused_partitions("bootap")) == [0]
        assert _delivered(spark, "bootap") == 0
    finally:
        sinks.BROKEN_FAIL_PARTITIONS.discard(0)
    deadline = time.time() + 15
    resumed: list = []
    while time.time() < deadline and not resumed:
        time.sleep(0.3)
        resumed = mgr.poll_auto_resume("bootap")
    assert resumed == [0]
    assert _delivered(spark, "bootap") == 5
    mgr.delete("bootap")


def test_dirwatch_failed_send_replays_same_diff(spark, tmp_path, monkeypatch):
    """A failed send must NOT advance the dirwatch snapshot (ADVICE r2 #2):
    the committed state file only moves after write_batch succeeds, so the
    next poll recomputes and re-delivers the same diff — at-least-once on
    the source side, matching the holding-pen contract."""
    import brooklin_spark.manager as mgr_mod

    src = str(tmp_path / "srcdir")
    dest = str(tmp_path / "destdir")
    os.makedirs(src)
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="dwf",
            connector="dirwatch",
            transport="directory",
            source_uri=f"dir://{src}",
            dest_uri=f"dir://{dest}",
            metadata={"dirwatch.state.path": str(tmp_path / "state" / "dwf.json")},
        )
    )
    _write(src + "/a.txt", "v1")
    real = mgr_mod.write_batch
    calls = {"n": 0, "rows": []}

    def flaky(df, spec, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink outage")
        calls["rows"].append(df.count())
        return real(df, spec, *a, **k)

    monkeypatch.setattr(mgr_mod, "write_batch", flaky)
    with pytest.raises(RuntimeError, match="transient sink outage"):
        mgr.poll("dwf")
    assert not os.path.exists(os.path.join(dest, "a.txt"))
    mgr.poll("dwf")  # same diff recomputed against the UNCOMMITTED snapshot
    assert open(os.path.join(dest, "a.txt")).read() == "v1"
    # and the diff is not delivered a third time: snapshot committed now,
    # so the next poll's diff is EMPTY (no duplicate file op)
    mgr.poll("dwf")
    assert calls["rows"] == [1, 0], "replay once, then an empty diff"
    mgr.delete("dwf")
