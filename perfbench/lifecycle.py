"""lifecycle workload: the control plane, driven over HTTP.

One REST client (one connection at a time, closed loop) runs a cycle against
a ``file`` -> ``materialize`` pipeline while two other READY pipelines stay
idle, so that ``/health`` and ``/metrics`` gather over several:

    create -> drain -> pauseSourcePartitions (one partition) -> a file lands
    on the paused partition and one on an active partition -> drain ->
    resumeSourcePartitions (holding-pen flush) -> pause -> resume ->
    GET /health + GET /metrics -> rewind -> drain -> delete

Drains call ``PipelineManager.process_available`` directly. ``pass_s`` is
the median cycle; the operation latencies are the REST calls. Checks run
outside the timed part of each cycle: every held row reaches the
materialized state after the resume, and the state after the rewind equals
the state before it.
"""

from __future__ import annotations

import json
import os
import random
import time
import urllib.request
import zlib

from perfbench.common import fresh_dir, median, pct

CYCLE_FILES = 2
CYCLE_EVENTS_PER_FILE = 200
LATE_EVENTS_PER_FILE = 100
IDLE_PIPELINES = 2
WARM_CYCLES = 1
MIN_CYCLES = 2
#: the file source's partition of a record: pmod(crc32(file path), 32),
#: where the path is the Hadoop form ``file:/abs/path``
SOURCE_PARTITIONS = 32

REST_OPS = (
    "create", "pause_partitions", "resume_partitions", "pause", "resume",
    "diagnostics", "metrics_summary", "rewind", "delete",
)
LAYERS = {
    **{f"manager.{op}_ms": "ms" for op in REST_OPS if op != "metrics_summary"},
    "manager.drain_ms": "ms",
    "metrics.summary_ms": "ms",
    "manager.query_starts_per_cycle": "count",
    "manager.held_rows": "count",
    "sinks.merge_ms": "ms",
    "rest.overhead_ms": "ms",
}


def _partition(path: str) -> int:
    return zlib.crc32(f"file:{path}".encode()) % SOURCE_PARTITIONS


def _starts_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Starts(StreamingQueryListener):
        def __init__(self):
            self.count = 0

        def onQueryStarted(self, event):
            self.count += 1

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Starts()


class _Calls:
    """The two ways to drive one cycle: over HTTP, or directly."""

    def __init__(self, manager, client=None, address=None):
        self.m = manager
        self.c = client
        self.address = address

    def _get(self, path):
        with urllib.request.urlopen(self.address + path, timeout=30) as resp:
            return json.loads(resp.read())

    def create(self, spec):
        if self.c:
            return self.c.create_datastream(json.loads(spec.to_json()))
        return self.m.create(spec)

    def pause_partitions(self, name, parts):
        if self.c:
            return self.c.pause_source_partitions(name, parts)
        return self.m.pause_source_partitions(name, parts)

    def resume_partitions(self, name, parts):
        if self.c:
            return self.c.resume_source_partitions(name, parts)
        return self.m.resume_source_partitions(name, parts)

    def pause(self, name):
        return self.c.pause(name) if self.c else self.m.pause(name)

    def resume(self, name):
        return self.c.resume(name) if self.c else self.m.resume(name)

    def diagnostics(self):
        return self.c.health() if self.c else self.m.diagnostics()

    def metrics_summary(self):
        return self._get("/metrics") if self.c else self.m.metrics_summary()

    def rewind(self, name):
        return self.c.rewind(name) if self.c else self.m.rewind(name)

    def delete(self, name):
        return self.c.delete_datastream(name) if self.c else self.m.delete(name)


class Lifecycle:
    def __init__(self, ctx):
        self.ctx = ctx
        self.manager = None
        self.server = None
        self.n = 0

    def setup(self, spark, rep: int) -> None:
        from brooklin_spark.manager import PipelineManager
        from brooklin_spark.rest import DatastreamRestServer
        from brooklin_spark.rest_client import DatastreamRestClient

        self.dir = fresh_dir(os.path.join(self.ctx.workdir, f"rep{rep}"))
        self.staging = fresh_dir(os.path.join(self.dir, "staging"))
        self.rng = random.Random(self.ctx.seed)
        self.manager = PipelineManager(spark, os.path.join(self.dir, "manager"))
        self.server = DatastreamRestServer(self.manager).start()
        client = DatastreamRestClient(self.server.address)
        self.rest = _Calls(self.manager, client, self.server.address)
        self.direct = _Calls(self.manager)
        for _ in range(IDLE_PIPELINES):
            self.rest.create(self._spec("idle")[0])

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.manager is not None:
            for spec in self.manager.list():
                self.manager.delete(spec.name)
            self.manager = None

    # -------------------------------------------------------------- inputs
    def _spec(self, prefix: str):
        from brooklin_spark.model import PipelineSpec

        self.n += 1
        name = f"{prefix}{self.n}"
        src = fresh_dir(os.path.join(self.dir, "src", name))
        spec = PipelineSpec(
            name=name, connector="file", transport="materialize",
            source_uri=f"file://{src}",
            dest_uri=f"parquet://{os.path.join(self.dir, 'state', name)}",
        )
        return spec, src

    def _write(self, src: str, fname: str, n: int) -> list[str]:
        lines = [
            json.dumps({"src": os.path.basename(src), "file": fname, "seq": i,
                        "user": self.rng.randrange(10000),
                        "amount": round(self.rng.random() * 500, 2)},
                       separators=(",", ":"))
            for i in range(n)
        ]
        tmp = os.path.join(self.staging, fname)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(src, fname))
        return lines

    def _file_on(self, src: str, stem: str, want) -> str:
        """First name ``<stem><k>.jsonl`` whose source partition passes
        ``want``."""
        k = 0
        while not want(_partition(os.path.join(src, f"{stem}{k}.jsonl"))):
            k += 1
        return f"{stem}{k}.jsonl"

    # --------------------------------------------------------------- cycle
    @staticmethod
    def _state(spec) -> set:
        """(value, scn) of every live row of the materialized state."""
        import pyarrow.parquet as pq

        from brooklin_spark.sinks.materialize import current_version

        root = spec.dest_uri.removeprefix("parquet://")
        v = current_version(root)
        if v is None:
            return set()
        rows = pq.read_table(
            os.path.join(root, f"v{v}"), columns=["value", "op_code", "scn"]
        ).to_pylist()
        return {(r["value"].decode(), r["scn"]) for r in rows if r["op_code"] != "DELETE"}

    def _held_rows(self, spec) -> int:
        import pyarrow.parquet as pq

        hd = self.manager._holding_dir(spec)
        if not os.path.isdir(hd):
            return 0
        return sum(
            pq.ParquetFile(os.path.join(hd, f)).metadata.num_rows
            for f in os.listdir(hd) if f.endswith(".parquet")
        )

    def _cycle(self, calls: _Calls) -> dict:
        """One cycle; returns its wall time without the checks, the per-op
        times, the failures and the held-row count."""
        ctx = self.ctx
        ops: list[tuple[str, float]] = []
        failed = 0
        checks_s = 0.0

        def op(kind, fn, *args):
            nonlocal failed
            t0 = time.perf_counter()
            try:
                with ctx.spans.span(f"manager.{kind}"):
                    fn(*args)
            except Exception as e:  # an errored or timed-out call counts
                failed += 1
                ctx.log(f"lifecycle: {kind} failed: {e!r}")
            ops.append((kind, (time.perf_counter() - t0) * 1e3))

        t_start = time.perf_counter()
        spec, src = self._spec("lc")
        lines = []
        for i in range(CYCLE_FILES):
            lines += self._write(src, f"f{i}.jsonl", CYCLE_EVENTS_PER_FILE)
        held_name = self._file_on(src, "held", lambda p: True)
        paused = _partition(os.path.join(src, held_name))
        active_name = self._file_on(src, "active", lambda p: p != paused)
        drain = self.manager.process_available

        op("create", calls.create, spec)
        op("drain", drain, spec.name)
        op("pause_partitions", calls.pause_partitions, spec.name, [paused])
        held = self._write(src, held_name, LATE_EVENTS_PER_FILE)
        lines += held + self._write(src, active_name, LATE_EVENTS_PER_FILE)
        op("drain", drain, spec.name)

        t0 = time.perf_counter()
        held_rows = self._held_rows(spec)
        if held_rows != len(held):
            failed += 1
            ctx.log(f"lifecycle: {spec.name} held {held_rows} rows, expected {len(held)}")
        checks_s += time.perf_counter() - t0

        op("resume_partitions", calls.resume_partitions, spec.name, [paused])

        t0 = time.perf_counter()
        before = self._state(spec)
        if {v for v, _ in before} != set(lines):
            failed += 1
            ctx.log(f"lifecycle: {spec.name} state after resume lacks held rows")
        checks_s += time.perf_counter() - t0

        op("pause", calls.pause, spec.name)
        op("resume", calls.resume, spec.name)
        op("diagnostics", calls.diagnostics)
        op("metrics_summary", calls.metrics_summary)
        op("rewind", calls.rewind, spec.name)
        op("drain", drain, spec.name)

        t0 = time.perf_counter()
        if self._state(spec) != before:
            failed += 1
            ctx.log(f"lifecycle: {spec.name} state after rewind differs")
        merges = [
            b["durationMs"].get("addBatch", 0)
            for b in self.manager.metrics.recent(spec.name) if b["numInputRows"]
        ]
        checks_s += time.perf_counter() - t0

        op("delete", calls.delete, spec.name)
        return {
            "wall_s": time.perf_counter() - t_start - checks_s,
            "ops": ops, "failed": failed, "held_rows": held_rows, "merges": merges,
        }

    def run(self, spark) -> dict:
        ctx = self.ctx
        # JIT, codegen, first listings; untimed, but their checks count
        warm = [self._cycle(self.rest) for _ in range(WARM_CYCLES)]
        ctx.phase("warm-up cycles done")

        starts = _starts_listener() if ctx.trace else None
        if starts is not None:
            spark.streams.addListener(starts)
        try:
            cycles = []
            deadline = time.perf_counter() + ctx.seconds
            while len(cycles) < MIN_CYCLES or time.perf_counter() < deadline:
                cycles.append(self._cycle(self.rest))
        finally:
            if starts is not None:
                spark.streams.removeListener(starts)

        ctx.phase(f"{len(cycles)} timed cycles done")
        rest_ms = [ms for c in cycles for kind, ms in c["ops"] if kind != "drain"]
        attempted = sum(kind != "drain" for c in warm + cycles for kind, _ in c["ops"])
        failed = sum(c["failed"] for c in warm + cycles)
        layers = {}
        if ctx.trace:
            direct = self._cycle(self.direct)
            direct_ms = [ms for kind, ms in direct["ops"] if kind != "drain"]
            by_op: dict[str, list[float]] = {}
            for c in cycles:
                for kind, ms in c["ops"]:
                    by_op.setdefault(kind, []).append(ms)
            layers = {
                ("metrics.summary_ms" if k == "metrics_summary" else f"manager.{k}_ms"):
                    median(v)
                for k, v in by_op.items()
            }
            layers.update({
                "manager.query_starts_per_cycle": starts.count / len(cycles),
                "manager.held_rows": median(c["held_rows"] for c in cycles),
                "sinks.merge_ms": median(m for c in cycles for m in c["merges"]),
                "rest.overhead_ms": median(rest_ms) - median(direct_ms),
            })
            attempted += len(direct_ms)
            failed += direct["failed"]
        cycle_s = [c["wall_s"] for c in cycles]
        return {
            "attempted": attempted,
            "failed": failed,
            "pass_s": median(cycle_s),
            "op_ms": rest_ms,
            "layers": layers,
            "report": {
                "cycle_s": (median(cycle_s), "s"),
                "op_ms_p90": (pct(rest_ms, 0.9), "ms"),
                "cycles": (len(cycles), "count"),
            },
        }
