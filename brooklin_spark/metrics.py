"""Observability: the DynamicMetricsManager / EventProducer metrics analog.

Reference semantics being mirrored: EventProducer.java:454-675 maintains
meters and histograms per task (events-produced rate, bytes, send
latency); DynamicMetricsManager (datastream-common/.../metrics/
DynamicMetricsManager.java) registers and aggregates them per
connector/task; DiagnosticsAware reduce merges per-host snapshots.

Spark-first mapping — no second scan, no polling loop:

- ``MetricsStore`` is a ``StreamingQueryListener``: every micro-batch's
  StreamingQueryProgress is pushed to it by the engine (started/progress/
  terminated), and it keeps a BOUNDED per-query history plus running
  totals, so the store's memory is O(queries * window), independent of
  stream length.
- ``observe_counters`` rides user-defined aggregates on the data path
  itself (``DataFrame.observe``): the counters are computed map-side
  inside the existing job and arrive in ``progress.observedMetrics`` —
  the EventProducer counter semantics at zero extra passes.
- ``MetricsStore.summary()`` is the cluster-level reduce
  (ServerComponentHealthAggregator analog): totals + latency percentiles
  across all queries.
"""

from __future__ import annotations

import threading
from collections import deque
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


class MetricsStore(StreamingQueryListener):
    """Engine-pushed per-query metrics with bounded history."""

    def __init__(self, window: int = 256):
        self.window = window
        self._lock = threading.Lock()
        self._progress: dict[str, deque] = {}
        self._totals: dict[str, dict[str, float]] = {}

    # ---------------------------------------------------- listener callbacks
    # start, idle and termination carry nothing the snapshots keep; the
    # listener interface requires the callbacks
    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        name = str(p.name or p.id)
        batch = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "durationMs": dict(p.durationMs or {}),
            "observed": {
                k: row.asDict() for k, row in (p.observedMetrics or {}).items()
            },
        }
        with self._lock:
            self._progress.setdefault(name, deque(maxlen=self.window)).append(batch)
            t = self._totals.setdefault(
                name, {"rows": 0.0, "batches": 0.0, "observed_rows": 0.0}
            )
            t["rows"] += p.numInputRows or 0
            t["batches"] += 1
            for row in batch["observed"].values():
                if "n_rows" in row and row["n_rows"] is not None:
                    t["observed_rows"] += row["n_rows"]

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    # ------------------------------------------------------------ snapshots
    def totals(self, name: str) -> dict[str, float]:
        with self._lock:
            return dict(self._totals.get(name, {}))

    def recent(self, name: str) -> list[dict[str, Any]]:
        with self._lock:
            return list(self._progress.get(name, ()))

    def summary(self) -> dict[str, Any]:
        """Cluster-level reduce: totals + batch-duration percentiles
        across every observed query (the scatter-gather merge
        KafkaConnectorDiagUtils.reduce performs host-side)."""
        with self._lock:
            rows = sum(t["rows"] for t in self._totals.values())
            observed = sum(t["observed_rows"] for t in self._totals.values())
            batches = int(sum(t["batches"] for t in self._totals.values()))
            durations = sorted(
                b["durationMs"].get("triggerExecution", 0)
                for q in self._progress.values()
                for b in q
            )

        def pct(p: float) -> float:
            if not durations:
                return 0.0
            i = min(len(durations) - 1, int(p * (len(durations) - 1)))
            return float(durations[i])

        return {
            "queries": len(self._progress),
            "batches": batches,
            "input_rows": int(rows),
            "observed_rows": int(observed),
            "batch_ms_p50": pct(0.5),
            "batch_ms_p95": pct(0.95),
            "batch_ms_max": durations[-1] if durations else 0.0,
        }


def install(spark, window: int = 256) -> MetricsStore:
    """Register a fresh MetricsStore on the session's stream manager."""
    store = MetricsStore(window=window)
    spark.streams.addListener(store)
    return store


def shared(spark, window: int = 256) -> MetricsStore:
    """One store per SparkSession: listeners survive for the session's
    lifetime and the engine fans every event out to ALL of them, so a
    fresh listener per manager would accumulate across manager instances
    (and lag the listener bus). Managers share the session's store."""
    st = getattr(spark, "_brooklin_metrics_store", None)
    if st is None:
        st = install(spark, window)
        spark._brooklin_metrics_store = st
    return st


def uninstall(spark, store: MetricsStore) -> None:
    spark.streams.removeListener(store)


def observe_counters(
    df: DataFrame,
    name: str = "brooklin",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Attach EventProducer-style data-path counters: row count plus any
    caller aggregates, computed inside the existing job (map-side
    accumulation, no extra scan) and delivered per micro-batch through
    progress.observedMetrics[name]."""
    cols = [F.count(F.lit(1)).alias("n_rows")]
    for alias, col in (extra or {}).items():
        cols.append(col.alias(alias))
    return df.observe(name, *cols)
