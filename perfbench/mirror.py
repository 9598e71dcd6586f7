"""mirror workload: one production-shaped datastream, bootstrap then tail.

``file`` connector -> ``framedBytes`` payload serde + ``json`` envelope serde
-> ``parquet`` transport, with ``system.deadletter.predicate`` set so that the
malformed (empty) lines, about 1%, go to the dead-letter store through the
manager's split sink.

Live phase: an open-loop generator thread writes one file every
``LIVE_PERIOD_S`` for half the run's seconds. Before it, ``LIVE_WARM_FILES``
unsampled files are written and drained, which warms the JIT and codegen
caches without leaving a backlog. Each event is stamped with its file's due
time. One latency sample per file: the write time of the
last sink part file holding the file's events minus the file's due time.
Per-batch layers dominate it.

Drain phase: a backlog written during set-up is drained by a fresh pipeline
(create -> ``process_available``), repeated until the other half of the
run's seconds is spent; ``pass_s`` is the median drain. Per-record layers
dominate it.

With tracing on, four more drains of the backlog each add one layer (noop
sink -> serdes -> parquet -> dead-letter split); their differences are the
layers' self times.
"""

from __future__ import annotations

import base64
import json
import os
import random
import threading
import time
from collections import Counter

from perfbench.common import PROGRESS_LAYERS, fresh_dir, median, pct

BACKLOG_FILES = 24
BACKLOG_EVENTS_PER_FILE = 2500
#: 10 files/s of 200 events: 2k events/s, about a tenth of drain capacity.
#: A micro-batch takes at most 16 files, so faster file rates outrun it.
LIVE_PERIOD_S = 0.1
LIVE_EVENTS_PER_FILE = 200
LIVE_WARM_FILES = 10
MIN_DRAINS = 3
MALFORMED_SHARE = 0.01
VALID = "length(value) > 0"
KINDS = ("click", "view", "purchase", "signup", "error")

LAYERS = {
    **{name: "ms" for name in PROGRESS_LAYERS},
    "mirror.batches": "count",
    "mirror.rows_per_batch": "count",
    "sinks.files_written": "count",
    "sinks.bytes_per_krow": "B",
    "sources.scan_s": "s",
    "functions.serde_s": "s",
    "sinks.write_s": "s",
    "manager.split_s": "s",
    "manager.dead_letter_rows": "count",
    "metrics.observed_rows": "count",
    "mirror.duplicates": "count",
    "mirror.generator_late_ms_p90": "ms",
}

#: the traced drains: (transport, serdes on, dead-letter split on)
_LAYER_DRAINS = (
    ("noop", False, False),
    ("noop", True, False),
    ("parquet", True, False),
    ("parquet", True, True),
)


class _Input:
    """Generated lines of one source directory, by event id."""

    def __init__(self):
        self.lines: dict[int, str] = {}
        self.malformed = 0

    @property
    def events(self) -> int:
        return len(self.lines)


def _write_file(rng, inp: _Input, staging: str, dest: str, first_id: int,
                n: int, file_no: int, due_ms: int) -> None:
    """Write ``n`` events (and the malformed lines drawn among them) into
    ``dest`` atomically: the source only ever lists complete files."""
    out = []
    for eid in range(first_id, first_id + n):
        if rng.random() < MALFORMED_SHARE:
            out.append("")
            inp.malformed += 1
        line = json.dumps(
            {"id": eid, "file": file_no, "due": due_ms, "user": rng.randrange(10000),
             "kind": rng.choice(KINDS), "amount": round(rng.random() * 500, 2)},
            separators=(",", ":"),
        )
        inp.lines[eid] = line
        out.append(line)
    tmp = os.path.join(staging, os.path.basename(dest))
    with open(tmp, "w") as f:
        f.write("\n".join(out) + "\n")
    os.rename(tmp, dest)


def _part_files(out_dir: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(out_dir) for f in files if f.endswith(".parquet")
    ]


def _decode(value: bytes) -> str:
    """Sink value -> original line: unframe the json envelope, then the
    framedBytes payload inside it."""
    from brooklin_spark.functions.serde import FRAME_PREFIX_LEN

    event = json.loads(value[FRAME_PREFIX_LEN:])
    return base64.b64decode(event["payload"])[FRAME_PREFIX_LEN:].decode()


class Mirror:
    def __init__(self, ctx):
        self.ctx = ctx
        self.manager = None
        self.n_pipelines = 0

    def setup(self, spark, rep: int) -> None:
        from brooklin_spark.manager import PipelineManager

        self.dir = fresh_dir(os.path.join(self.ctx.workdir, f"rep{rep}"))
        self.staging = fresh_dir(os.path.join(self.dir, "staging"))
        self.backlog_dir = fresh_dir(os.path.join(self.dir, "backlog"))
        rng = random.Random(self.ctx.seed)
        self.backlog = _Input()
        for i in range(BACKLOG_FILES):
            _write_file(rng, self.backlog, self.staging,
                        os.path.join(self.backlog_dir, f"b{i:05d}.jsonl"),
                        i * BACKLOG_EVENTS_PER_FILE, BACKLOG_EVENTS_PER_FILE, i, 0)
        self.manager = PipelineManager(spark, os.path.join(self.dir, "manager"))

    def close(self) -> None:
        if self.manager is not None:
            for spec in self.manager.list():
                self.manager.delete(spec.name)
            self.manager = None

    # ----------------------------------------------------------- pipelines
    def _spec(self, src: str, transport="parquet", serdes=True, split=True):
        from brooklin_spark.model import PipelineSpec

        self.n_pipelines += 1
        name = f"mirror{self.n_pipelines}"
        return PipelineSpec(
            name=name,
            connector="file",
            transport=transport,
            source_uri=f"file://{src}",
            dest_uri=f"parquet://{os.path.join(self.dir, 'out', name)}",
            payload_serde="framedBytes" if serdes else None,
            envelope_serde="json" if serdes else None,
            metadata={"system.deadletter.predicate": VALID} if split else {},
        )

    def _drain(self, spec) -> float:
        spans = self.ctx.spans
        t0 = time.perf_counter()
        with spans.span("manager.create"):
            self.manager.create(spec)
        with spans.span("manager.drain"):
            self.manager.process_available(spec.name)
        return time.perf_counter() - t0

    def _check(self, spec, inp: _Input) -> dict:
        """Decode every delivered value, outside any timed region.

        Returns the failures (events missing, values that do not decode to
        their generated line, dead letters off the malformed count), the
        duplicates, and the write time of the latest sink part file holding
        each generator file's events.
        """
        import pyarrow.parquet as pq

        seen: Counter = Counter()
        written: dict[int, float] = {}
        undecodable = 0
        out_dir = spec.dest_uri.removeprefix("parquet://")
        for part in _part_files(out_dir):
            mtime = os.stat(part).st_mtime_ns / 1e9
            for value in pq.read_table(part, columns=["value"]).column("value").to_pylist():
                try:
                    line = _decode(value)
                    event = json.loads(line)
                    ok = inp.lines.get(event["id"]) == line
                except (ValueError, KeyError, TypeError):
                    ok = False
                if not ok:
                    undecodable += 1
                    continue
                seen[event["id"]] += 1
                written[event["file"]] = max(written.get(event["file"], 0.0), mtime)
        dl = self.manager.dead_letters(spec.name)
        dl_rows = dl.count() if dl is not None else 0
        missing = inp.events - len(seen)
        failed = missing + undecodable + abs(dl_rows - inp.malformed)
        if failed:
            self.ctx.log(
                f"mirror: {spec.name} missing={missing} undecodable={undecodable} "
                f"dead_letters={dl_rows} expected={inp.malformed}"
            )
        return {
            "failed": failed, "duplicates": sum(seen.values()) - len(seen),
            "dead_letters": dl_rows, "written": written,
        }

    # ------------------------------------------------------------- phases
    def _live(self, seconds: float) -> dict:
        src = fresh_dir(os.path.join(self.dir, "live"))
        spec = self._spec(src)
        self.manager.create(spec)
        n_warm = LIVE_WARM_FILES
        n_files = n_warm + max(1, int(seconds / LIVE_PERIOD_S))
        store = self.manager.metrics
        inp = _Input()
        dues: list[float] = []
        late_ms: list[float] = []
        rng = random.Random(self.ctx.seed + 1)

        def generate(first: int, last: int):
            start = time.time() + LIVE_PERIOD_S
            for i in range(first, last):
                due = start + (i - first) * LIVE_PERIOD_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                _write_file(rng, inp, self.staging, os.path.join(src, f"l{i:05d}.jsonl"),
                            i * LIVE_EVENTS_PER_FILE, LIVE_EVENTS_PER_FILE, i,
                            int(due * 1e3))
                late_ms.append((time.time() - due) * 1e3)
                dues.append(due)

        generate(0, n_warm)
        self.manager.process_available(spec.name)
        warm_batches = len(store.recent(spec.name))
        gen = threading.Thread(target=generate, args=(n_warm, n_files),
                               name="perfbench-generator")
        gen.start()
        gen.join()
        self.manager.process_available(spec.name)
        self.ctx.phase(f"live: {n_files} files generated and drained")

        check = self._check(spec, inp)
        written = check["written"]
        check["failed"] += n_files - len(written)
        latency_ms = [
            (written[i] - dues[i]) * 1e3 for i in range(n_warm, n_files) if i in written
        ]

        deadline = time.monotonic() + 10
        lines = inp.events + inp.malformed
        while (store.totals(spec.name).get("observed_rows", 0) < lines
               and time.monotonic() < deadline):
            time.sleep(0.05)
        observed = store.totals(spec.name).get("observed_rows", 0)
        if observed < lines:
            self.ctx.log(f"mirror: metrics observed {observed} of {lines} lines")
            check["failed"] += lines - int(observed)
        batches = [
            b for b in store.recent(spec.name)[warm_batches:] if b["numInputRows"]
        ]
        part_files = _part_files(spec.dest_uri.removeprefix("parquet://"))
        size = sum(os.path.getsize(p) for p in part_files)
        layers = {
            name: median(b["durationMs"].get(key, 0) for b in batches)
            for name, key in PROGRESS_LAYERS.items()
        }
        layers.update({
            "mirror.batches": len(batches),
            "mirror.rows_per_batch": median(b["numInputRows"] for b in batches),
            "sinks.files_written": len(part_files),
            "sinks.bytes_per_krow": size / (inp.events / 1e3),
            "manager.dead_letter_rows": check["dead_letters"],
            "metrics.observed_rows": observed,
            "mirror.generator_late_ms_p90": pct(late_ms[n_warm:], 0.9),
        })
        self.manager.delete(spec.name)
        return {
            "latency_ms": latency_ms, "late_ms": late_ms[n_warm:], "events": inp.events,
            "check": check, "layers": layers,
        }

    def _layer_drains(self) -> dict:
        """Self time of each layer: the difference between consecutive
        drains of the same backlog, each adding one layer."""
        times = []
        for transport, serdes, split in _LAYER_DRAINS:
            spec = self._spec(self.backlog_dir, transport, serdes, split)
            times.append(self._drain(spec))
            self.manager.delete(spec.name)
        return {
            "sources.scan_s": times[0],
            "functions.serde_s": times[1] - times[0],
            "sinks.write_s": times[2] - times[1],
            "manager.split_s": times[3] - times[2],
        }

    def run(self, spark) -> dict:
        ctx = self.ctx
        live = self._live(ctx.seconds / 2)
        ctx.phase("live phase done")
        failed = live["check"]["failed"]
        duplicates = live["check"]["duplicates"]

        drains: list[float] = []
        deadline = time.perf_counter() + ctx.seconds / 2
        while len(drains) < MIN_DRAINS or time.perf_counter() < deadline:
            spec = self._spec(self.backlog_dir)
            drains.append(self._drain(spec))
            check = self._check(spec, self.backlog)
            failed += check["failed"]
            duplicates += check["duplicates"]
            self.manager.delete(spec.name)

        ctx.phase(f"{len(drains)} timed drains done")
        layers = {}
        if ctx.trace:
            layers = {**live["layers"], **self._layer_drains()}
            layers["mirror.duplicates"] = duplicates
        backlog_events = self.backlog.events
        return {
            "attempted": backlog_events * len(drains) + live["events"],
            "failed": failed,
            "pass_s": median(drains),
            "op_ms": live["latency_ms"],
            "layers": layers,
            "report": {
                "drain_rows_per_s": (backlog_events / median(drains), "rows/s"),
                "deliver_ms_p50": (median(live["latency_ms"]), "ms"),
                "deliver_ms_p90": (pct(live["latency_ms"], 0.9), "ms"),
                "deliver_samples": (len(live["latency_ms"]), "count"),
                "generator_late_ms_max": (max(live["late_ms"]), "ms"),
                "drains": (len(drains), "count"),
                "duplicates": (duplicates, "count"),
            },
        }
