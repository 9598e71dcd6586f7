"""Tier-2 integration tests: real SparkSession, file/rate sources, memory
sinks, full pipeline lifecycle through PipelineManager (mirrors the
reference's embedded-cluster tier — SURVEY.md §5 — with Spark's local
engine replacing embedded ZK/Kafka)."""

from __future__ import annotations

import os
import time

import pytest

from brooklin_spark.manager import PipelineManager
from brooklin_spark.model import PipelineSpec, PipelineStatus


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "mgr")


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _file_spec(name: str, src_dir: str, table: str | None = None) -> PipelineSpec:
    return PipelineSpec(
        name=name,
        connector="file",
        transport="memory",
        source_uri=f"file://{src_dir}",
        metadata={"memory.table": table or name},
    )


def test_file_to_memory_end_to_end(spark, workdir, tmp_path):
    """The reference's flagship e2e: file connector → destination, assert
    delivered events (TestDatastreamServer.java:84-165 analog)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["e1", "e2", "e3"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("fpipe", src))
    mgr.process_available("fpipe")
    rows = spark.sql("SELECT CAST(value AS STRING) AS v FROM fpipe").collect()
    assert sorted(r.v for r in rows) == ["e1", "e2", "e3"]
    assert mgr.get("fpipe").status == PipelineStatus.READY
    # envelope invariants: op_code, metadata file path
    env = spark.sql("SELECT op_code, metadata['file-path'] AS p FROM fpipe").first()
    assert env.op_code == "INSERT" and env.p.endswith("a.txt")
    mgr.delete("fpipe")
    assert mgr.list() == []


def test_tail_picks_up_new_files(spark, workdir, tmp_path):
    """New file in the watched dir flows through on the next trigger
    (FileProcessor tail / DirectoryChangeProcessor watch semantics)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["x1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("tail", src))
    mgr.process_available("tail")
    _write_lines(src + "/b.txt", ["x2", "x3"])
    mgr.process_available("tail")
    n = spark.sql("SELECT count(*) AS n FROM tail").first().n
    assert n == 3
    mgr.delete("tail")


def test_pause_resume_continues_from_checkpoint(spark, workdir, tmp_path):
    """Pause stops consumption; resume continues WITHOUT re-delivering old
    events (checkpointed offsets = pause/resume parity,
    DatastreamResources.java:358-601 + ZookeeperCheckpointProvider)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["a"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("pr", src))
    mgr.process_available("pr")
    mgr.pause("pr")
    assert mgr.get("pr").status == PipelineStatus.PAUSED
    # arrives while paused
    _write_lines(src + "/b.txt", ["b"])
    mgr.resume("pr")
    mgr.process_available("pr")
    rows = spark.sql("SELECT CAST(value AS STRING) AS v FROM pr").collect()
    # checkpoint recovery: 'a' delivered exactly once (not replayed), 'b'
    # picked up after resume
    assert sorted(r.v for r in rows) == ["a", "b"]
    mgr.delete("pr")


def test_dedup_by_source_reuses_query(spark, workdir, tmp_path):
    """Same (connector, source) → second spec joins the first group instead
    of a second physical query (SourceBasedDeduper.java:142-163); the
    member is assigned the group's ACTUAL destination (the deduper reuses
    the found datastream's destination)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("d1", src))
    d2 = _file_spec("d2", src)
    d2.dest_uri = "memory://other-place"
    mgr.create(d2)
    assert mgr.query_of("d2") is None
    assert mgr.get("d2").dest_uri == mgr.get("d1").dest_uri  # dest reuse
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert diag["d1"]["group"] == ["d2"]
    assert diag["d2"]["active"] is False and diag["d2"]["status"] == "READY"
    mgr.delete("d1")
    mgr.delete("d2")


def test_dedup_group_leader_delete_promotes_member(spark, workdir, tmp_path):
    """Deleting the group leader promotes a member: the shared physical
    query keeps running under the new leader, no member is orphaned with an
    empty checkpoint (ADVICE r1 #5)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("g1", src))
    mgr.create(_file_spec("g2", src))
    mgr.create(_file_spec("g3", src))
    q = mgr.query_of("g1")
    mgr.delete("g1")
    # g2 promoted: owns the SAME query object; g3 still in its group
    assert mgr.query_of("g2") is q and q.isActive
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert "g1" not in diag and diag["g2"]["group"] == ["g3"]
    # the promoted query still consumes: new data flows to the shared dest
    _write_lines(src + "/b.txt", ["v2"])
    mgr.process_available("g2")
    vals = sorted(
        r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM g1").collect()
    )
    assert vals == ["v1", "v2"]
    mgr.delete("g2")
    mgr.delete("g3")


def test_dedup_group_member_delete_removes_from_group(spark, workdir, tmp_path):
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("m1", src))
    mgr.create(_file_spec("m2", src))
    mgr.delete("m2")  # member delete must not leave a stale group entry
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert diag["m1"]["group"] == []
    assert mgr.query_of("m1").isActive
    mgr.delete("m1")


def test_resume_on_ready_pipeline_rejected_without_side_effects(
    spark, workdir, tmp_path
):
    """resume() on an already-READY bounded pipeline must raise BEFORE any
    side effect — no duplicate bootstrap write (ADVICE r1 #3)."""
    import pytest as _pytest

    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["x1", "x2"])
    mgr = PipelineManager(spark, workdir)
    spec = PipelineSpec(
        name="bounded",
        connector="parquet",
        transport="memory",
        source_uri=f"file://{src}",
        metadata={"memory.table": "bounded"},
    )
    spec.connector = "file"
    mgr.create(spec)
    mgr.process_available("bounded")
    n0 = spark.sql("SELECT * FROM bounded").count()
    with _pytest.raises(ValueError, match="already running|illegal transition"):
        mgr.resume("bounded")
    assert spark.sql("SELECT * FROM bounded").count() == n0  # nothing re-written
    mgr.delete("bounded")


def test_duplicate_name_rejected(spark, workdir, tmp_path):
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("dup", src))
    with pytest.raises(ValueError, match="already exists"):
        mgr.create(_file_spec("dup", src))
    mgr.delete("dup")


@pytest.mark.parametrize("transport", ["parquet", "materialize"])
def test_streaming_create_without_destination_rejected(spark, workdir, tmp_path, transport):
    """A path transport with no dest_uri is rejected at create, before any
    batch runs, and leaves nothing in the catalog."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v"])
    mgr = PipelineManager(spark, workdir)
    spec = _file_spec("nodest", src)
    spec.transport = transport
    with pytest.raises(ValueError, match="needs dest_uri"):
        mgr.create(spec)
    assert mgr.list() == [] and mgr.query_of("nodest") is None


def test_illegal_transition_rejected(spark, workdir, tmp_path):
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["v"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("lt", src))
    mgr.stop("lt")
    with pytest.raises(ValueError, match="illegal transition"):
        mgr.pause("lt")  # STOPPED -> PAUSED is not legal
    mgr.delete("lt")


def test_restore_restarts_ready_pipelines(spark, workdir, tmp_path):
    """Manager restart resumes READY pipelines from their checkpoints
    (instance rejoin / task reassign analog)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["r1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("res", src))
    mgr.process_available("res")
    q = mgr.query_of("res")
    q.stop()  # simulate crash (status stays READY in catalog)
    mgr2 = PipelineManager(spark, workdir)
    assert mgr2.restore() == 1
    _write_lines(src + "/b.txt", ["r2"])
    mgr2.process_available("res")
    rows = spark.sql("SELECT CAST(value AS STRING) AS v FROM res").collect()
    # committed batch not replayed, new file delivered
    assert sorted(r.v for r in rows) == ["r1", "r2"]
    mgr2.delete("res")


def test_bounded_parquet_bootstrap(spark, workdir, sf_smoke):
    """parquet:// bounded source → memory transport (batch path): the JDBC
    chunked-snapshot-shaped bootstrap producing the same envelope."""
    mgr = PipelineManager(spark, workdir)
    spec = PipelineSpec(
        name="boot",
        connector="parquet",
        transport="memory",
        source_uri=f"parquet://{sf_smoke}/events.parquet",
        metadata={"memory.table": "boot"},
    )
    mgr.create(spec)
    n = spark.sql("SELECT count(*) AS n FROM boot").first().n
    assert n == 1000
    ops = {r.op_code for r in spark.sql("SELECT DISTINCT op_code FROM boot").collect()}
    assert ops == {"INSERT", "UPDATE", "DELETE"}
    mgr.delete("boot")


def test_rate_source_produces(spark, workdir):
    mgr = PipelineManager(spark, workdir)
    spec = PipelineSpec(
        name="rate1",
        connector="rate",
        transport="memory",
        source_uri="rate://500",
        source_partitions=2,
        metadata={"message.size": "64", "memory.table": "rate1"},
    )
    mgr.create(spec)
    deadline = time.time() + 20
    n = 0
    while time.time() < deadline:
        mgr.process_available("rate1")
        n = spark.sql("SELECT count(*) AS n FROM rate1").first().n
        if n > 0:
            break
        time.sleep(0.5)
    assert n > 0
    row = spark.sql(
        "SELECT length(CAST(value AS STRING)) AS l, op_code FROM rate1 LIMIT 1"
    ).first()
    assert row.l == 64 and row.op_code == "INSERT"
    mgr.delete("rate1")


def _name_for_partition(src_dir: str, target: int, exclude: set[int] = frozenset()) -> str:
    """Find a filename whose file-source partition (crc32(uri) % 32) hits
    (or avoids) a target — mirrors file_source.py's routing expression."""
    import zlib

    for i in range(10_000):
        name = f"gen{i}.txt"
        uri = f"file:{src_dir}/{name}"  # Spark reports file:/abs/path
        p = zlib.crc32(uri.encode()) % 32
        if (target is None or p == target) and p not in exclude:
            return name
    raise AssertionError("no filename found")


def test_pause_resume_source_partitions_holds_and_redelivers(spark, workdir, tmp_path):
    """Per-partition pause parity (DatastreamResources.java:604-682): paused
    partitions stop flowing to the destination, nothing is lost (holding
    pen), resume re-delivers the held rows."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["a1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("pp", src))
    mgr.process_available("pp")
    p_a = spark.sql("SELECT partition FROM pp").first().partition

    mgr.pause_source_partitions("pp", [p_a])
    assert mgr.paused_source_partitions("pp") == [p_a]
    held_name = _name_for_partition(src, p_a)
    live_name = _name_for_partition(src, None, exclude={p_a})
    _write_lines(f"{src}/{held_name}", ["held1"])
    _write_lines(f"{src}/{live_name}", ["live1"])
    mgr.process_available("pp")
    vals = sorted(r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM pp").collect())
    assert vals == ["a1", "live1"], vals  # held1 diverted, not delivered

    mgr.resume_source_partitions("pp")
    assert mgr.paused_source_partitions("pp") == []
    mgr.process_available("pp")
    vals = sorted(r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM pp").collect())
    assert vals == ["a1", "held1", "live1"], vals  # re-delivered on resume
    mgr.delete("pp")


def test_deadletter_predicate_diverts_bad_rows(spark, workdir, tmp_path):
    """Skip-on-error parity (EventProducer.java:320-336): rows failing the
    validity predicate are diverted to a durable dead-letter store and
    counted in diagnostics; good rows flow through."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["ok", "no", "toolong"])
    mgr = PipelineManager(spark, workdir)
    spec = _file_spec("dlq", src)
    spec.metadata["system.deadletter.predicate"] = "length(value) <= 2"
    mgr.create(spec)
    mgr.process_available("dlq")
    vals = sorted(r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM dlq").collect())
    assert vals == ["no", "ok"], vals
    dl = mgr.dead_letters("dlq")
    assert dl is not None
    assert [bytes(r.value).decode() for r in dl.collect()] == ["toolong"]
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert diag["dlq"]["dead_letters"] == 1
    mgr.delete("dlq")
    assert mgr.dead_letters("dlq") is None


def _values(df) -> list[str]:
    return sorted(bytes(r.value).decode() for r in df.select("value").collect())


def _three_output_batch(mgr: PipelineManager, spec: PipelineSpec, src: str) -> dict:
    """Create ``spec`` with a dead-letter predicate, pause partition 3, and
    land one micro-batch holding rows for all three outputs of the split
    sink. Returns the lines written, by the output they belong in."""
    spec.metadata["system.deadletter.predicate"] = "length(value) <= 2"
    mgr.create(spec)
    mgr.pause_source_partitions(spec.name, [3])
    lines = {"held": ["h1", "h2"], "dead": ["bad1", "bad2"], "delivered": ["l1", "l2"]}
    _write_lines(f"{src}/{_name_for_partition(src, 3)}", lines["held"])
    _write_lines(
        f"{src}/{_name_for_partition(src, None, exclude={3})}",
        lines["delivered"] + lines["dead"],
    )
    mgr.process_available(spec.name)
    batches = [p for p in mgr.query_of(spec.name).recentProgress if p["numInputRows"]]
    assert len(batches) == 1, batches
    return lines


def test_split_sink_three_outputs_in_one_batch(spark, workdir, tmp_path):
    """One micro-batch carrying a paused partition's rows, invalid rows and
    valid rows fans out to the holding pen, the dead-letter store and the
    transport: each output holds exactly its own rows, so the three are
    disjoint and add up to the input, and resuming the partition delivers
    the held rows."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    mgr = PipelineManager(spark, workdir)
    lines = _three_output_batch(mgr, _file_spec("tri", src), src)
    held = _values(spark.read.parquet(os.path.join(workdir, "holding", "tri")))
    dead = _values(mgr.dead_letters("tri"))
    delivered = _values(spark.table("tri"))
    assert (held, dead, delivered) == (lines["held"], lines["dead"], lines["delivered"])

    mgr.resume_source_partitions("tri")
    mgr.process_available("tri")
    assert _values(spark.table("tri")) == sorted(lines["held"] + lines["delivered"])
    assert _values(mgr.dead_letters("tri")) == lines["dead"]
    mgr.delete("tri")


def test_split_sink_side_outputs_sharing_a_directory(spark, workdir, tmp_path):
    """A holding pen and dead-letter store configured into one directory
    are appended by one job (two concurrent writers must never commit into
    the same directory), and neither output's rows are lost."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    side = str(tmp_path / "side")
    mgr = PipelineManager(spark, workdir)
    spec = _file_spec("shared", src)
    spec.metadata["system.holding.dir"] = side
    spec.metadata["system.deadletter.dir"] = side
    lines = _three_output_batch(mgr, spec, src)
    assert _values(spark.read.parquet(side)) == sorted(lines["held"] + lines["dead"])
    assert _values(spark.table("shared")) == lines["delivered"]
    mgr.delete("shared")


def _parquet_spec(name: str, src: str, out: str, **metadata: str) -> PipelineSpec:
    return PipelineSpec(
        name=name, connector="file", transport="parquet",
        source_uri=f"file://{src}", dest_uri=f"parquet://{out}", metadata=metadata,
    )


def test_split_sink_runs_one_job_per_output_in_the_query_group(spark, workdir, tmp_path):
    """CI guard on the delivery's per-batch fixed cost: a micro-batch runs
    exactly one Spark job per output, all in the query's job group
    (streaming sets it to the run id). A plain batch has one output, so a
    count() or isEmpty() on the single-output path shows as a second job;
    with held, dead-letter and delivered rows there are three, and a side
    write on a plain thread escapes the group and drops one."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    mgr = PipelineManager(spark, workdir)

    def jobs(name: str) -> list[int]:
        run_id = str(mgr.query_of(name).runId)
        return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))

    plain_src = str(tmp_path / "plain")
    _write_lines(plain_src + "/a.txt", ["p1", "p2"])
    mgr.create(_parquet_spec("plain", plain_src, str(tmp_path / "plain_out")))
    mgr.process_available("plain")
    assert len(jobs("plain")) == 1, jobs("plain")
    mgr.delete("plain")

    spec = _parquet_spec("jobs", src, str(tmp_path / "out"))
    _three_output_batch(mgr, spec, src)
    assert len(jobs("jobs")) == 3, jobs("jobs")
    mgr.delete("jobs")


def test_parquet_destination_readable_after_a_partition_pause(spark, workdir, tmp_path):
    """Pausing a partition of a running parquet pipeline must not change
    how its destination is committed: every row delivered before and after
    the pause reads back from the destination directory."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    before, after = [f"b{i}" for i in range(10)], [f"a{i}" for i in range(10)]
    _write_lines(f"{src}/{_name_for_partition(src, 5)}", before)
    mgr = PipelineManager(spark, workdir)
    mgr.create(_parquet_spec("pqpause", src, out))
    mgr.process_available("pqpause")
    mgr.pause_source_partitions("pqpause", [7])  # no file lands on it
    _write_lines(f"{src}/{_name_for_partition(src, 9)}", after)
    mgr.process_available("pqpause")
    assert _values(spark.read.parquet(out)) == sorted(before + after)
    mgr.delete("pqpause")


def test_parquet_destination_readable_after_resuming_a_created_paused_partition(
    spark, workdir, tmp_path
):
    """A parquet pipeline created with a paused partition and then resumed
    keeps a readable destination that holds the live rows, the flushed held
    rows and the rows delivered after the resume."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    held, live, new = ["h1", "h2"], ["l1", "l2"], ["n1", "n2"]
    _write_lines(f"{src}/{_name_for_partition(src, 3)}", held)
    _write_lines(f"{src}/{_name_for_partition(src, None, exclude={3})}", live)
    mgr = PipelineManager(spark, workdir)
    mgr.create(_parquet_spec("pqresume", src, out, **{"system.paused.partitions": "[3]"}))
    mgr.process_available("pqresume")
    assert _values(spark.read.parquet(out)) == live
    mgr.resume_source_partitions("pqresume")
    _write_lines(src + "/new.txt", new)
    mgr.process_available("pqresume")
    assert _values(spark.read.parquet(out)) == sorted(held + live + new)
    mgr.delete("pqresume")


def test_failed_side_write_fails_the_batch_and_replays(spark, workdir, tmp_path):
    """A dead-letter write that fails on its side thread is not swallowed:
    the query terminates with the error, the epoch stays uncommitted, and a
    restarted manager replays it — every good row reaches the transport at
    least once and every bad row is dead-lettered exactly once."""
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "in")
    good, bad = ["g1", "g2", "g3"], ["bad1", "bad2"]
    _write_lines(src + "/a.txt", ["g1", "bad1", "g2", "bad2", "g3"])
    blocker = tmp_path / "deadletter-blocker"
    blocker.write_text("a regular file where the dead-letter dir should be")
    out = tmp_path / "out"
    spec = PipelineSpec(
        name="dlfail", connector="file", transport="parquet",
        source_uri=f"file://{src}", dest_uri=f"parquet://{out}",
        metadata={
            "system.deadletter.predicate": "length(value) <= 2",
            "system.deadletter.dir": str(blocker),
        },
    )
    mgr = PipelineManager(spark, workdir)
    mgr.create(spec)
    with pytest.raises(StreamingQueryException, match="deadletter-blocker"):
        mgr.process_available("dlfail")
    assert not mgr.query_of("dlfail").isActive

    blocker.unlink()
    mgr = PipelineManager(spark, workdir)
    assert mgr.restore() == 1
    mgr.process_available("dlfail")
    assert set(_values(spark.read.parquet(str(out)))) == set(good)
    assert _values(mgr.dead_letters("dlfail")) == bad
    mgr.delete("dlfail")


def test_authorizer_spi_enforced(spark, workdir, tmp_path):
    """Authorizer SPI (api/security/Authorizer.java parity): CREATE checked
    before any state exists, DELETE/UPDATE checked per principal; denial
    raises PermissionError and leaves the catalog untouched."""
    import pytest as _pytest

    from brooklin_spark.manager import PipelineManager
    from brooklin_spark.security import owner_only

    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["x"])
    mgr = PipelineManager(spark, workdir, authorizer=owner_only)
    spec = _file_spec("authz", src)
    spec.metadata["owner"] = "alice"
    with _pytest.raises(PermissionError):
        mgr.create(spec, principal="mallory")
    assert mgr.list() == []  # denial left nothing behind
    mgr.create(spec, principal="alice")
    with _pytest.raises(PermissionError):
        mgr.pause("authz", principal="mallory")
    with _pytest.raises(PermissionError):
        mgr.delete("authz", principal="mallory")
    assert mgr.get("authz").status == PipelineStatus.READY
    mgr.pause("authz", principal="alice")
    mgr.resume("authz", principal="alice")
    mgr.delete("authz", principal="alice")
    assert mgr.list() == []


def test_many_concurrent_pipelines(spark, workdir, tmp_path):
    """Control-plane robustness: several independent pipelines run
    concurrently in one manager (the reference's multitenancy premise);
    diagnostics and the metrics reduce see all of them; deletes tear each
    down without disturbing the others."""
    names = [f"mt{i}" for i in range(5)]
    mgr = PipelineManager(spark, workdir)
    for i, name in enumerate(names):
        src = str(tmp_path / f"in{i}")
        _write_lines(src + "/a.txt", [f"{name}-r1", f"{name}-r2"])
        mgr.create(_file_spec(name, src))
    for name in names:
        mgr.process_available(name)
    for name in names:
        vals = sorted(
            bytes(r.value).decode()
            for r in spark.sql(f"SELECT value FROM {name}").collect()
        )
        assert vals == [f"{name}-r1", f"{name}-r2"]
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert len(diag) == 5 and all(d["active"] for d in diag.values())
    m = mgr.metrics_summary()
    assert m["pipelines"] == 5 and m["active_queries"] == 5
    assert m["recent_input_rows"] >= 10
    # deleting one leaves the rest running
    mgr.delete(names[0])
    assert mgr.query_of(names[1]).isActive
    assert len(mgr.list()) == 4
    for name in names[1:]:
        mgr.delete(name)
    assert mgr.list() == []


def test_rewind_replays_from_start(spark, workdir, tmp_path):
    """rewind() discards the checkpoint and replays the source from the
    start position — deliberate at-least-once re-delivery (the reference's
    offset-rewind surface)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["r1", "r2"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("rw", src))
    mgr.process_available("rw")
    assert spark.sql("SELECT * FROM rw").count() == 2
    mgr.rewind("rw")
    mgr.process_available("rw")
    # the same records re-delivered: memory sink accumulates 2 + 2
    vals = sorted(
        bytes(r.value).decode() for r in spark.sql("SELECT value FROM rw").collect()
    )
    assert vals == ["r1", "r1", "r2", "r2"]
    mgr.delete("rw")


def test_member_delete_keeps_group_destination_contents(spark, workdir, tmp_path):
    """Deleting a dedup-group MEMBER must not tear down the group's shared
    destination (ADVICE r2 #1: the member's metadata['memory.table'] points
    at the leader's table; dropping it wiped the leader's accumulated
    rows). The leader's table keeps its contents and keeps consuming."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["k1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("h1", src))
    mgr.create(_file_spec("h2", src))
    mgr.process_available("h1")
    assert spark.sql("SELECT count(*) AS n FROM h1").first().n == 1
    mgr.delete("h2")  # member delete: shared table must survive WITH rows
    assert spark.sql("SELECT count(*) AS n FROM h1").first().n == 1
    _write_lines(src + "/b.txt", ["k2"])
    mgr.process_available("h1")
    vals = sorted(
        r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM h1").collect()
    )
    assert vals == ["k1", "k2"]
    mgr.delete("h1")


def test_rewind_preserves_dedup_group(spark, workdir, tmp_path):
    """rewind() rebuilds the physical query but must carry the dedup group
    across the rebuild (ADVICE r2 #4: popping _Running and restarting with
    an empty group silently orphaned the members)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["g"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("rwg1", src))
    mgr.create(_file_spec("rwg2", src))
    mgr.rewind("rwg1")
    diag = {d["name"]: d for d in mgr.diagnostics()}
    assert diag["rwg1"]["group"] == ["rwg2"], "group survives rewind"
    # leader delete after a rewind still promotes the member
    mgr.delete("rwg1")
    assert mgr.query_of("rwg2") is not None
    mgr.delete("rwg2")


def test_promoted_leader_delete_removes_inherited_checkpoint(spark, workdir, tmp_path):
    """A promoted leader keeps running on the deleted leader's checkpoint
    dir; deleting the promoted name must remove THAT dir, not a
    freshly-derived one (ADVICE r2 #4 checkpoint-leak half)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["c"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("pl1", src))
    mgr.create(_file_spec("pl2", src))
    mgr.process_available("pl1")
    ckpt1 = os.path.join(mgr.checkpoint_root, "pl1")
    assert os.path.isdir(ckpt1)
    mgr.delete("pl1")  # pl2 promoted, still running on pl1's checkpoint
    assert os.path.isdir(ckpt1), "inherited dir still in use by the query"
    mgr.delete("pl2")
    assert not os.path.isdir(ckpt1), "inherited checkpoint removed, not leaked"


def test_group_pause_without_force_keeps_shared_query_running(spark, workdir, tmp_path):
    """Pausing ONE stream of a dedup group must not starve its siblings:
    the shared physical query keeps running while any member is READY
    (DatastreamResources.java:355-392 — non-force pause touches only the
    named stream)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["p1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("gp1", src))
    mgr.create(_file_spec("gp2", src))
    q = mgr.query_of("gp1")
    mgr.pause("gp1")  # leader paused WITHOUT force
    assert mgr.get("gp1").status == PipelineStatus.PAUSED
    assert mgr.get("gp2").status == PipelineStatus.READY
    assert q.isActive, "sibling gp2 is READY — the shared query must survive"
    # data still flows for the active member
    _write_lines(src + "/b.txt", ["p2"])
    mgr.process_available("gp1")
    assert spark.sql("SELECT count(*) n FROM gp1").first().n == 2
    mgr.resume("gp1")
    assert mgr.get("gp1").status == PipelineStatus.READY
    assert mgr.query_of("gp1") is q, "resume of a status-only pause is a no-op on the query"
    mgr.delete("gp1")
    mgr.delete("gp2")


def test_group_force_pause_and_member_resume(spark, workdir, tmp_path):
    """force=True pauses the whole group and stops the query; resuming any
    MEMBER restarts the shared physical query from its checkpoint while
    the leader stays PAUSED (the reference's task runs iff any group
    stream is READY)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["f1"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("gf1", src))
    mgr.create(_file_spec("gf2", src))
    mgr.process_available("gf1")
    mgr.pause("gf1", force=True)
    assert mgr.get("gf1").status == PipelineStatus.PAUSED
    assert mgr.get("gf2").status == PipelineStatus.PAUSED
    assert mgr.query_of("gf1") is None or not mgr.query_of("gf1").isActive
    # member resume: query restarts, leader stays paused, no replay
    mgr.resume("gf2")
    assert mgr.get("gf2").status == PipelineStatus.READY
    assert mgr.get("gf1").status == PipelineStatus.PAUSED
    assert mgr.query_of("gf1").isActive, "shared query rebuilt for the READY member"
    _write_lines(src + "/b.txt", ["f2"])
    mgr.process_available("gf1")
    vals = sorted(
        r.v for r in spark.sql("SELECT CAST(value AS STRING) v FROM gf1").collect()
    )
    assert vals == ["f1", "f2"], "checkpoint kept: no replay, new data flows"
    mgr.resume("gf1")  # leader back: status-only flip, same query
    assert mgr.get("gf1").status == PipelineStatus.READY
    mgr.delete("gf1")
    mgr.delete("gf2")


def test_update_failure_rolls_back_and_revives_old_query(spark, workdir, tmp_path):
    """An update whose new config cannot start must roll the spec back and
    revive the OLD query — never a dead pipeline marked READY (review r3)."""
    import pytest as _pytest

    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["u"])
    mgr = PipelineManager(spark, workdir)
    spec = _file_spec("rb", src)
    mgr.create(spec)
    bad = _file_spec("rb", src)
    # a non-numeric trigger cap fails build_source at query-rebuild time
    bad.metadata["max.files.per.trigger"] = "not-a-number"
    with _pytest.raises(Exception):
        mgr.update(bad)
    got = mgr.get("rb")
    assert "max.files.per.trigger" not in got.metadata, "old spec restored"
    assert got.status == PipelineStatus.READY
    assert mgr.query_of("rb") is not None and mgr.query_of("rb").isActive, (
        "old query revived after the failed update"
    )
    # still consumes
    _write_lines(src + "/b.txt", ["u2"])
    mgr.process_available("rb")
    assert spark.sql("SELECT count(*) n FROM rb").first().n == 2
    mgr.delete("rb")


def test_update_rejects_source_uri_change(spark, workdir, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["s"])
    mgr = PipelineManager(spark, workdir)
    mgr.create(_file_spec("su", src))
    other = str(tmp_path / "other")
    _write_lines(other + "/a.txt", ["x"])
    bad = _file_spec("su", other)
    with _pytest.raises(ValueError, match="source_uri"):
        mgr.update(bad)
    mgr.delete("su")


def test_dedup_member_gets_effective_default_table(spark, workdir, tmp_path):
    """When the leader never set memory.table (view defaults to its name),
    the member must still point at the leader's ACTUAL view (review r3)."""
    src = str(tmp_path / "in")
    _write_lines(src + "/a.txt", ["t"])
    mgr = PipelineManager(spark, workdir)
    lead = PipelineSpec(
        name="deft1", connector="file", transport="memory",
        source_uri=f"file://{src}", metadata={},
    )
    mgr.create(lead)
    memb = PipelineSpec(
        name="deft2", connector="file", transport="memory",
        source_uri=f"file://{src}", metadata={},
    )
    mgr.create(memb)
    assert mgr.get("deft2").metadata.get("memory.table") == "deft1"
    mgr.delete("deft2")  # member delete must not touch the leader's view
    mgr.process_available("deft1")
    assert spark.sql("SELECT count(*) n FROM deft1").first().n == 1
    mgr.delete("deft1")
