"""MetricsStore listener + observe() counters (brooklin_spark/metrics.py):
the DynamicMetricsManager / EventProducer metrics analog."""

from __future__ import annotations

import tempfile
import time

import pytest
from pyspark.sql import functions as F

from brooklin_spark import metrics


@pytest.fixture()
def store(spark):
    s = metrics.install(spark)
    yield s
    metrics.uninstall(spark, s)


def _wait(cond, timeout=30.0):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if cond():
            return True
        time.sleep(0.2)
    return False


def test_listener_captures_progress_and_observed_counters(spark, sf_smoke, store):
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    )
    observed = metrics.observe_counters(
        src, extra={"value_sum": F.sum("value")}
    )
    ck = tempfile.mkdtemp(prefix="bk-metrics-")
    q = (
        observed.writeStream.format("noop")
        .queryName("metrics_probe")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        assert _wait(
            lambda: store.totals("metrics_probe").get("rows", 0) > 0
        ), "no progress captured"
    finally:
        q.stop()
    totals = store.totals("metrics_probe")
    # observe() counters ride the data path: engine-counted input rows and
    # the observed n_rows must agree exactly
    assert totals["observed_rows"] == totals["rows"] > 0
    recent = store.recent("metrics_probe")
    assert recent and "brooklin" in recent[-1]["observed"] or any(
        b["observed"] for b in recent
    )
    got_batches_with_rows = [b for b in recent if b["numInputRows"]]
    assert got_batches_with_rows
    b = got_batches_with_rows[-1]
    assert b["observed"]["brooklin"]["n_rows"] == b["numInputRows"]
    assert "value_sum" in b["observed"]["brooklin"]


def test_summary_reduces_across_queries(spark, store):
    src = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
    qs = []
    for i in range(2):
        ck = tempfile.mkdtemp(prefix=f"bk-metrics-{i}-")
        qs.append(
            metrics.observe_counters(src)
            .writeStream.format("noop")
            .queryName(f"metrics_multi_{i}")
            .option("checkpointLocation", ck)
            .start()
        )
    try:
        assert _wait(
            lambda: store.summary()["queries"] >= 2
            and store.summary()["input_rows"] > 0
        )
    finally:
        for q in qs:
            q.stop()
    s = store.summary()
    assert s["queries"] >= 2 and s["batches"] > 0
    assert s["batch_ms_max"] >= s["batch_ms_p95"] >= s["batch_ms_p50"] >= 0
    assert s["observed_rows"] == s["input_rows"]


def test_history_is_bounded(spark):
    st = metrics.MetricsStore(window=4)

    class _P:
        def __init__(self, i):
            self.name = "bounded_q"
            self.id = "id"
            self.batchId = i
            self.numInputRows = 1
            self.processedRowsPerSecond = 1.0
            self.durationMs = {"triggerExecution": i}
            self.observedMetrics = {}

    class _E:
        def __init__(self, i):
            self.progress = _P(i)

    for i in range(10):
        st.onQueryProgress(_E(i))
    recent = st.recent("bounded_q")
    assert len(recent) == 4 and recent[0]["batchId"] == 6
    assert st.totals("bounded_q")["rows"] == 10  # totals keep counting


def test_manager_pipeline_reports_observed_rows(spark, tmp_path):
    """A managed pipeline carries data-path counters: the manager's
    MetricsStore must see observed n_rows == delivered rows, and the
    /metrics-backing summary must reflect them."""
    import os

    from brooklin_spark.manager import PipelineManager
    from brooklin_spark.model import PipelineSpec

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("m1\nm2\nm3\nm4\n")
    mgr = PipelineManager(spark, str(tmp_path / "mgr"))
    mgr.create(
        PipelineSpec(
            name="obs_pipe",
            connector="file",
            transport="memory",
            source_uri=f"file://{src}",
            metadata={"memory.table": "obs_pipe"},
        )
    )
    try:
        mgr.process_available("obs_pipe")
        delivered = spark.sql("SELECT count(*) n FROM obs_pipe").collect()[0].n
        assert delivered == 4
        # listener events are ASYNC on the engine's bus — poll, don't race
        assert _wait(
            lambda: mgr.metrics.totals("obs_pipe").get("observed_rows") == delivered
        ), mgr.metrics.totals("obs_pipe")
        assert mgr.metrics_summary()["listener"]["observed_rows"] >= delivered
    finally:
        mgr.delete("obs_pipe")
