"""Plumbing shared by the workloads: the Spark session's lifetime, run
statistics, the span recorder and the reader of Spark's status store.

Nothing here changes the engine. Spans are taken around the benchmark's own
calls into each layer; engine-side numbers come from Spark's progress
reports and status store.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import shutil
import statistics
import subprocess
import time

#: batch-duration keys of StreamingQueryProgress.durationMs, by layer name
PROGRESS_LAYERS = {
    "sources.latest_offset_ms": "latestOffset",
    "spark.get_batch_ms": "getBatch",
    "spark.query_planning_ms": "queryPlanning",
    "spark.wal_commit_ms": "walCommit",
    "spark.commit_offsets_ms": "commitOffsets",
    "manager.add_batch_ms": "addBatch",
}


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of ``values``."""
    values = sorted(values)
    if not values:
        return 0.0
    return float(values[max(0, math.ceil(q * len(values)) - 1)])


class Spans:
    """In-memory spans (name, start, end, parent) around layer calls.

    Disabled, ``span`` records nothing, so the untraced run pays only a
    context-manager entry per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append((name, t0, time.perf_counter(), parent))

    def as_json(self) -> list[dict]:
        return [
            {"name": n, "start": t0, "end": t1, "parent": p}
            for n, t0, t1, p in self.records
        ]


class Engine:
    """The run's Spark session and the JVM behind it.

    ``start`` builds the engine's own session (``brooklin_spark.session``)
    with the run's warehouse and temp dirs; ``restart`` stops it and builds
    a fresh one in the same JVM. ``close`` stops every streaming query,
    uninstalls the program's shared ``MetricsStore`` listener, stops the
    session and waits for the JVM to exit.
    """

    def __init__(self, workdir: str):
        self.workdir = workdir
        self.spark = None
        self._jvm_proc = None

    def start(self):
        from brooklin_spark.session import get_spark

        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                # keep the JVM's temp files (and no hsperfdata) in the run dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        if self._jvm_proc is None:
            self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def restart(self):
        self._stop_session()
        return self.start()

    def jvm_peak_rss_gb(self) -> float:
        """VmHWM of the JVM child (peak resident set), in GB."""
        if self._jvm_proc is None:
            return 0.0
        try:
            with open(f"/proc/{self._jvm_proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024 / 1024
        except OSError:
            pass
        return 0.0

    def _stop_session(self) -> None:
        from brooklin_spark import metrics

        spark = self.spark
        if spark is None:
            return
        for q in spark.streams.active:
            q.stop()
        store = getattr(spark, "_brooklin_metrics_store", None)
        if store is not None:
            metrics.uninstall(spark, store)
            spark._brooklin_metrics_store = None
        spark.stop()
        self.spark = None

    def close(self) -> None:
        try:
            self._stop_session()
        finally:
            proc = self._jvm_proc
            if proc is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                if gateway is not None:
                    gateway.shutdown()
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def release_blocks(spark) -> None:
    """Free cached plans and checkpointed blocks between timed calls (the
    same hygiene bench.py applies between reps), outside any timed region."""
    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def job_profile(spark, group: str, wall_s: float, wait_s: float = 5.0) -> dict:
    """Jobs, stages, shuffle bytes and driver gap of one Spark job group.

    Job and stage ids come from ``statusTracker``; job spans and per-stage
    shuffle bytes come from the status store, which the listener bus fills
    asynchronously, so this waits (up to ``wait_s``) for every job of the
    group to show a completion time. The driver gap is ``wall_s`` minus the
    union of the job spans.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    spans = []
    deadline = time.monotonic() + wait_s
    for jid in job_ids:
        while True:
            jd = store.job(jid)
            if jd.completionTime().isDefined() or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        if jd.completionTime().isDefined():
            spans.append(
                (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
            )
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    jvm = sc._jvm
    shuffle = 0
    stages_run = 0
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        st = it.next()
        if st.stageId() in stage_ids and st.status().toString() == "COMPLETE":
            stages_run += 1
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
    covered_ms = 0
    end = None
    for s, e in sorted(spans):
        if end is None or s > end:
            covered_ms += e - s
            end = e
        elif e > end:
            covered_ms += e - end
            end = e
    return {
        "jobs": len(job_ids),
        "stages": stages_run,
        "shuffle_bytes": shuffle,
        "driver_gap_s": max(0.0, wall_s - covered_ms / 1e3),
    }
