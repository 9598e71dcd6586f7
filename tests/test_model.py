"""Tier-1 unit tests: spec validation, lifecycle state machine, envelope
schema shape (mirrors the reference's pure unit tier, SURVEY.md §5)."""

from __future__ import annotations

import pytest

from brooklin_spark.model import (
    ENVELOPE_SCHEMA,
    KNOWN_TRANSPORTS,
    PipelineSpec,
    PipelineStatus,
    can_transition,
)


def _spec(**kw) -> PipelineSpec:
    base = dict(
        name="p1",
        connector="file",
        transport="memory",
        source_uri="file:///tmp/in.txt",
    )
    base.update(kw)
    return PipelineSpec(**base)


def test_valid_spec_passes():
    _spec().validate()


@pytest.mark.parametrize(
    "kw",
    [
        {"name": "bad name"},
        {"name": ""},
        {"connector": "nope"},
        {"transport": "nope"},
        {"source_uri": "not-a-uri"},
        {"metadata": {"system.start.position": "not json"}},
        {"metadata": {"system.start.position": '["list"]'}},
        {"metadata": {"system.start.position": '{"0": "x"}'}},
    ],
)
def test_invalid_specs_rejected(kw):
    with pytest.raises(ValueError):
        _spec(**kw).validate()


def test_start_position_json_ok():
    _spec(metadata={"system.start.position": '{"0": 23, "1": 100}'}).validate()


def test_lifecycle_matrix():
    S = PipelineStatus
    assert can_transition(S.INITIALIZING, S.READY)
    assert can_transition(S.READY, S.PAUSED)
    assert can_transition(S.PAUSED, S.READY)
    assert can_transition(S.READY, S.STOPPING)
    assert can_transition(S.STOPPING, S.STOPPED)
    assert can_transition(S.STOPPED, S.READY)
    assert not can_transition(S.INITIALIZING, S.PAUSED)
    assert not can_transition(S.PAUSED, S.STOPPED)
    assert not can_transition(S.DELETING, S.READY)


def test_envelope_schema_fields():
    names = [f.name for f in ENVELOPE_SCHEMA.fields]
    assert names == [
        "topic", "partition", "offset", "key", "value", "previous_value",
        "op_code", "scn", "event_ts", "source_ts", "headers", "metadata",
    ]


def test_spec_json_roundtrip():
    s = _spec(metadata={"a": "b"}, status=PipelineStatus.READY)
    assert PipelineSpec.from_json(s.to_json()) == s


def test_source_identity_dedup_key():
    a = _spec(name="a")
    b = _spec(name="b")
    assert a.source_identity() == b.source_identity()
    c = _spec(name="c", source_uri="file:///tmp/other.txt")
    assert a.source_identity() != c.source_identity()


def test_broadcast_to_partitions(spark):
    """Control-message broadcast: every record lands on every destination
    partition (TransportProvider.broadcast semantics)."""
    from pyspark.sql import functions as F

    from brooklin_spark.functions.envelope import broadcast_to_partitions

    df = spark.createDataFrame([("ctl-1",), ("ctl-2",)], "payload string").withColumn(
        "partition", F.lit(0)
    )
    out = broadcast_to_partitions(df, 4)
    rows = [(r.payload, r.partition) for r in out.collect()]
    assert sorted(rows) == sorted((p, i) for p in ("ctl-1", "ctl-2") for i in range(4))


def test_kafka_provisioning_gated_noop(spark, tmp_path):
    """Without a kafka client lib the provisioning hook must be a clean
    no-op (spec still created, start deferred)."""
    from brooklin_spark.manager import PipelineManager
    from brooklin_spark.model import PipelineSpec

    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    spec = PipelineSpec(
        name="kprov",
        connector="kafka",
        transport="kafka",
        source_uri="kafka://broker:9092/in",
        dest_uri="kafka://broker:9092/out",
        dest_partitions=8,
    )
    mgr.create(spec, start=False)
    assert mgr.get("kprov").name == "kprov"
    mgr.delete("kprov")


def test_task_count_estimator():
    """Mirrors TestLoadBasedTaskCountEstimator: defaults-only partitions fit
    one task; heavy inflow scales up; cap applies."""
    from brooklin_spark.planning import PartitionThroughput, estimate_task_count

    assert estimate_task_count([]) == 0
    light = [PartitionThroughput(f"t-{i}") for i in range(10)]  # 50 KB/s total
    assert estimate_task_count(light) == 1
    # 100 partitions × 500 KB/s = 50000 KB/s; capacity 4 MB/s @ 90% = 3686 KB/s
    heavy = [PartitionThroughput(f"t-{i}", bytes_in_kb_per_sec=500) for i in range(100)]
    assert estimate_task_count(heavy) == 14
    assert estimate_task_count(heavy, max_tasks=8) == 8


def test_advise_bucket_count_matches_measured_rule():
    """The r7 sf10/sf100 measurements: ~1.4 GB at sf10 must land on a
    count whose bucket files are tens of MB (32 was measured right);
    ~14 GB at sf100 must NOT stay at 32 (430 MB buckets inverted q5) —
    the rule lands at 256, the measured fix."""
    from brooklin_spark.planning import advise_bucket_count

    sf10 = advise_bucket_count(int(1.4e9), cluster_cores=32)
    assert sf10 == 32, sf10
    sf100 = advise_bucket_count(int(14e9), cluster_cores=32)
    assert sf100 == 256, sf100
    # parallelism floor: tiny table on a big cluster still gets >= cores
    assert advise_bucket_count(10_000_000, cluster_cores=128) == 128
    # power-of-two invariant
    n = advise_bucket_count(int(5e12), cluster_cores=1000)
    assert n & (n - 1) == 0 and n >= 1000


def test_advise_shuffle_partitions_full_waves():
    from brooklin_spark.planning import advise_shuffle_partitions

    assert advise_shuffle_partitions(0, 32) == 32
    n = advise_shuffle_partitions(int(100e9), 32)
    assert n % 32 == 0 and n >= 100e9 / (128 * 1024 * 1024)


def test_every_known_transport_has_a_batch_writer():
    """``write_batch`` is the only per-transport code, so a transport the
    spec validation accepts but no writer handles would fail only at the
    first micro-batch instead of at create."""
    from brooklin_spark.sinks.registry import WRITERS

    assert set(WRITERS) == KNOWN_TRANSPORTS
