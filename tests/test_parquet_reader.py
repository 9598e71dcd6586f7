"""The one parquet reader (``io.read_parquet``) and the Spark jobs it saves.

A batch parquet read without a schema launches a footer-inference job
(``parquet at ...``). Engine-owned stores declare their schema and other
paths are inferred once per file stamp, so these tests count the jobs of a
fresh job group: a second run of a corpus query, a materialize merge, a
holding-pen flush and a ``/health`` call launch no inference job. They also
pin that the memo never serves a rewritten path, that the declared schemas
are the ones parquet reads back, and that every connector builds the
envelope those declarations assume.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
import zlib
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from brooklin_spark import io, registry
from brooklin_spark.manager import PipelineManager
from brooklin_spark.model import ENVELOPE_SCHEMA, STORED_ENVELOPE_SCHEMA, PipelineSpec
from brooklin_spark.sinks.materialize import (
    current_version,
    merge_batch,
    read_raw_state,
    read_state,
)
from brooklin_spark.sources import build_source
from brooklin_spark.sources.registry import load_sources

registry.load_all()

_INFERENCE = "parquet at "


@contextmanager
def _job_group(spark):
    """Run the body in a fresh job group; the yielded list is filled, on
    exit, with the names of the jobs the group launched."""
    sc = spark.sparkContext
    group = f"reader-{uuid.uuid4().hex}"
    names: list[str] = []
    sc.setJobGroup(group, group)
    try:
        yield names
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store is filled by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        names.extend(store.job(j).name() for j in ids)


def _inference_jobs(names: list[str]) -> list[str]:
    return [n for n in names if n.startswith(_INFERENCE)]


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _file_partition(path: str) -> int:
    """The file source's partition of ``path`` (crc32 of its URI % 32)."""
    return zlib.crc32(f"file:{path}".encode()) % 32


def _strip_nullability(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _strip_nullability(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_nullability(dt.keyType), _strip_nullability(dt.valueType), True
        )
    return dt


# --------------------------------------------------------------- the memo


def test_memo_skips_inference_and_keeps_frames_distinct(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    io.read_parquet(spark, path)  # first read infers
    with _job_group(spark) as jobs:
        x, y = io.read_parquet(spark, path), io.read_parquet(spark, path)
    assert jobs == []
    # fresh readers, fresh attribute ids: a self-join resolves
    pairs = x.alias("x").join(y.alias("y"), F.col("x.a") == F.col("y.a"))
    assert pairs.count() == 3


def test_memo_reinfers_a_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "c": [3.0, 4.0]}), path)
    df = io.read_parquet(spark, path)
    assert df.columns == ["a", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 3.0), (2, 4.0)]


def test_file_stamp_sees_files_added_to_a_directory(spark, tmp_path):
    d = tmp_path / "parts"
    spark.range(3).withColumn("p", F.lit(1)).write.partitionBy("p").parquet(str(d))
    before = io.file_stamp(str(d))
    spark.range(3).withColumn("p", F.lit(2)).write.mode("append").partitionBy(
        "p"
    ).parquet(str(d))
    assert io.file_stamp(str(d)) != before
    # a file added inside a partition dir shows only through that dir's
    # mtime, which the kernel advances once per clock tick
    before = io.file_stamp(str(d))
    time.sleep(0.05)
    part = next((d / "p=1").glob("*.parquet"))
    shutil.copy(part, d / "p=1" / "copy.parquet")
    assert io.file_stamp(str(d)) != before
    copied = pq.ParquetFile(part).metadata.num_rows
    assert io.read_parquet(spark, str(d)).count() == 6 + copied


def test_memo_key_holds_the_inference_confs(spark, tmp_path):
    path = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"s": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(io.read_parquet(spark, path).dtypes)["s"] == "binary"
        spark.conf.set(key, "true")
        assert dict(io.read_parquet(spark, path).dtypes)["s"] == "string"
    finally:
        spark.conf.set(key, before)


def test_fact_row_memo_sees_a_table_rewritten_in_place(spark, tmp_path):
    from brooklin_spark.queries.dedup import _fact_rows

    sf = str(tmp_path)
    path = os.path.join(sf, "lineitem.parquet")
    pq.write_table(pa.table({"l_orderkey": [1, 2, 3]}), path)
    assert _fact_rows(spark, sf, "lineitem") == 3
    pq.write_table(pa.table({"l_orderkey": [1, 2, 3, 4, 5]}), path)
    assert _fact_rows(spark, sf, "lineitem") == 5


# ------------------------------------------------- declared engine schemas


@pytest.mark.parametrize("value_type", ["binary", "string"])
def test_snapshot_sidecar_is_the_schema_parquet_reads_back(spark, tmp_path, value_type):
    """Envelope batches carry a binary value; streaming_cdc_materialize
    merges string props. Either way the declared read matches inference."""
    root = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(b"a", "v", "INSERT", 1, 1)],
        "key binary, value string, op_code string, scn long, offset long",
    ).withColumn("value", F.col("value").cast(value_type))
    merge_batch(batch, root, spark)
    merge_batch(batch.withColumn("scn", F.lit(2)), root, spark)
    path = os.path.join(root, f"v{current_version(root)}")
    assert read_raw_state(spark, root).schema == spark.read.parquet(path).schema
    assert dict(read_raw_state(spark, root).dtypes)["value"] == value_type


def test_stored_envelope_schema_is_what_the_holding_pen_reads_back(spark, tmp_path):
    d = str(tmp_path / "pen")
    spark.createDataFrame([], ENVELOPE_SCHEMA).write.parquet(d)
    assert spark.read.parquet(d).schema == STORED_ENVELOPE_SCHEMA


def _offline_specs(tmp_path, sf_dir: str) -> dict[str, PipelineSpec]:
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("x\n")
    watched = tmp_path / "watched"
    watched.mkdir()
    return {
        "file": PipelineSpec("f", "file", "noop", f"file://{src}"),
        "directory": PipelineSpec("d", "directory", "noop", f"dir://{src}"),
        "parquet": PipelineSpec(
            "p", "parquet", "noop", f"parquet://{sf_dir}/events.parquet"
        ),
        "dirwatch": PipelineSpec(
            "w", "dirwatch", "noop", f"dir://{watched}",
            metadata={"dirwatch.state.path": str(tmp_path / "snap.json")},
        ),
        "dummy": PipelineSpec(
            "x", "dummy", "noop", "dummy://DummySource",
            metadata={"dummyProperty": "dummyValue"},
        ),
        "rate": PipelineSpec("r", "rate", "noop", "rate://5"),
    }


#: connectors that cannot build a frame in this test environment
_NEEDS_BROKER = {"kafka", "kafkaMirror"}


@pytest.mark.parametrize("connector", sorted(load_sources()))
def test_every_connector_builds_the_envelope(spark, tmp_path, sf_smoke, connector):
    """The holding pen and the dead letters declare STORED_ENVELOPE_SCHEMA
    for their reads, which holds only if every connector's frame has the
    envelope's field names and types (nullability aside)."""
    if connector in _NEEDS_BROKER:
        pytest.skip(f"{connector} needs a Kafka broker to build its frame")
    if connector == "broken":
        with pytest.raises(RuntimeError):
            build_source(spark, PipelineSpec("b", "broken", "noop", "broken://x"))
        return
    specs = _offline_specs(tmp_path, sf_smoke)
    assert connector in specs, f"add an offline spec for connector {connector!r}"
    df = build_source(spark, specs[connector])
    assert _strip_nullability(df.schema) == _strip_nullability(ENVELOPE_SCHEMA)


def test_generic_parquet_bootstrap_builds_the_envelope(spark, sf_smoke):
    spec = PipelineSpec("g", "parquet", "noop", f"parquet://{sf_smoke}/nation.parquet")
    df = build_source(spark, spec)
    assert _strip_nullability(df.schema) == _strip_nullability(ENVELOPE_SCHEMA)


# ------------------------------------------------------------ job counts


def test_second_q5_run_launches_no_inference_job(spark, sf_smoke):
    q5 = registry.QUERIES["q5_local_supplier_volume"]
    q5(spark, sf_smoke).collect()
    with _job_group(spark) as jobs:
        q5(spark, sf_smoke).collect()
    assert _inference_jobs(jobs) == []
    # 14 at the parent: the six table() reads each inferred a footer
    assert len(jobs) == 8, jobs


def test_merge_into_existing_state_launches_no_inference_job(spark, tmp_path):
    root = str(tmp_path / "state")

    def batch(k: str, scn: int):
        return spark.createDataFrame(
            [(k.encode(), b"v", "INSERT", scn, scn)],
            "key binary, value binary, op_code string, scn long, offset long",
        )

    merge_batch(batch("a", 1), root, spark)
    with _job_group(spark) as jobs:
        merge_batch(batch("b", 2), root, spark)
    assert _inference_jobs(jobs) == [], jobs
    assert {r.k for r in read_state(spark, root).collect()} == {"a", "b"}


def test_resume_flush_launches_no_inference_job(spark, tmp_path):
    """The lifecycle path resume_source_partitions → _flush_holding →
    merge_batch reads the holding pen and the state with declared schemas.
    The flush counts the rows it delivers from the pen's files, so the
    merge is only its write jobs (no ``isEmpty`` probe, no query restart),
    and resuming a partition with nothing held launches no job at all."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    root = str(tmp_path / "state")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    spec = PipelineSpec(
        name="flush", connector="file", transport="materialize",
        source_uri=f"file://{src}", dest_uri=f"parquet://{root}",
    )
    mgr.create(spec)
    _write_lines(f"{src}/first.txt", ["s1"])
    mgr.process_available("flush")  # the state exists before the flush
    held = f"{src}/held.txt"
    mgr.pause_source_partitions("flush", [_file_partition(held)])
    _write_lines(held, ["h1", "h2"])
    mgr.process_available("flush")
    assert {bytes(r.value) for r in read_state(spark, root).collect()} == {b"s1"}
    empty = (_file_partition(held) + 1) % 32
    mgr.pause_source_partitions("flush", [empty])
    with _job_group(spark) as jobs:
        mgr.resume_source_partitions("flush", [empty])
    assert jobs == [], jobs
    with _job_group(spark) as jobs:
        mgr.resume_source_partitions("flush")
    assert _inference_jobs(jobs) == [], jobs
    assert [n for n in jobs if n.startswith("isEmpty")] == [], jobs
    # the merge's two write jobs; 3 at the parent, with the isEmpty probe
    assert len(jobs) == 2, jobs
    assert {bytes(r.value) for r in read_state(spark, root).collect()} == {
        b"s1", b"h1", b"h2",
    }
    mgr.delete("flush")


def test_health_counts_dead_letters_without_a_job(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    spec = PipelineSpec(
        name="dlh", connector="file", transport="memory",
        source_uri=f"file://{src}",
        metadata={
            "memory.table": "dlh",
            "system.deadletter.predicate": "length(value) <= 2",
        },
    )
    mgr.create(spec)
    _write_lines(f"{src}/a.txt", ["ok", "bad1", "bad2"])
    mgr.process_available("dlh")
    _write_lines(f"{src}/b.txt", ["no", "bad3"])
    mgr.process_available("dlh")
    with _job_group(spark) as jobs:
        diag = {d["name"]: d for d in mgr.diagnostics()}
    assert jobs == []
    assert diag["dlh"]["dead_letters"] == 3
    assert mgr.dead_letters("dlh").count() == 3
    mgr.delete("dlh")
