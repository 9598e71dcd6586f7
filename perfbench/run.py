#!/usr/bin/env python3
"""Benchmark launcher for brooklin-spark.

    python3 perfbench/run.py --workload mirror --seed 1 --seconds 12 --trace 0

Workloads (see ``perfbench/README.md``): ``mirror`` (file -> serdes ->
parquet datastream: backlog drain, then live tail), ``lifecycle`` (REST
control-plane cycle) and ``analytics`` (registered queries vs DuckDB).

The launcher pins the environment before Spark starts: all CPUs of this
process (``SPARK_GRAFT_CPUS``), a 4g driver heap, and a fresh work dir under
the checkout for Spark's local dirs, temp files, warehouse, checkpoints and
inputs, removed when the run ends. After a first set-up that launches the
JVM, it sets the engine up three more times (session plus the workload's own
set-up) and reports their median as ``setup_s``. The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). A copy with the spans goes to
``perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
DRIVER_MEM = "4g"
WORKLOADS = ("mirror", "lifecycle", "analytics")


class Context:
    def __init__(self, args, workdir: str):
        from perfbench.common import Spans

        self.root = ROOT
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.spans = Spans(self.trace)
        self._t0 = time.perf_counter()

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def phase(self, msg: str) -> None:
        """Progress line with the run's elapsed seconds, to standard error."""
        self.log(f"perfbench [{time.perf_counter() - self._t0:6.1f}s] {msg}")


def _pin_env(workdir: str) -> None:
    local = os.path.join(workdir, "local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _workload(ctx):
    if ctx.workload == "mirror":
        from perfbench.mirror import Mirror

        return Mirror(ctx)
    if ctx.workload == "lifecycle":
        from perfbench.lifecycle import Lifecycle

        return Lifecycle(ctx)
    from perfbench.analytics import Analytics

    return Analytics(ctx)


def all_layers() -> dict[str, str]:
    """Every per-layer metric with its unit. A workload reports 0 for the
    layers it does not exercise."""
    from perfbench import analytics, lifecycle, mirror

    return {
        "jvm.peak_rss_gb": "GB",
        "spark.session_start_s": "s",
        "trace.pass_s": "s",
        **mirror.LAYERS,
        **lifecycle.LAYERS,
        **analytics.LAYERS,
    }


def measure(ctx) -> dict:
    from perfbench.common import Engine, median, pct

    engine = Engine(ctx.workdir)
    wl = _workload(ctx)
    try:
        # set-up 0 launches the JVM and is reported apart from setup_s
        setup_s = []
        for rep in range(SETUPS + 1):
            if rep:
                wl.close()
            t0 = time.perf_counter()
            spark = engine.restart() if rep else engine.start()
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
            ctx.phase(f"set-up {rep} of {SETUPS}: {setup_s[-1]:.2f}s")
        out = wl.run(spark)
        out["jvm.peak_rss_gb"] = engine.jvm_peak_rss_gb()
    finally:
        try:
            wl.close()
        finally:
            engine.close()
            ctx.phase("engine closed")
    op_ms = out["op_ms"]
    out["e2e"] = {
        "setup_s": (median(setup_s[1:]), "s"),
        "pass_s": (out["pass_s"], "s"),
        "op_ms_p50": (median(op_ms), "ms"),
        "op_ms_p90": (pct(op_ms, 0.9), "ms"),
    }
    out["report"]["setup_s"] = (median(setup_s[1:]), "s")
    out["report"]["failed_ratio"] = (out["failed"] / out["attempted"], "ratio")
    out["report"]["op_samples"] = (len(op_ms), "count")
    out["setup_runs_s"] = setup_s
    return out


def _layer_metrics(out: dict) -> dict:
    units = all_layers()
    values = {name: 0.0 for name in units}
    values.update(out["layers"])
    values["jvm.peak_rss_gb"] = out["jvm.peak_rss_gb"]
    values["spark.session_start_s"] = out["setup_runs_s"][0]
    values["trace.pass_s"] = out["pass_s"]
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def _trace_overhead(ctx, out: dict) -> float | None:
    """Traced pass_s over the latest untraced pass_s of this workload and
    seed in this checkout, minus one."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "perfbench", "runs", f"{ctx.workload}-s{ctx.seed}-t0-*.json")),
        key=os.path.getmtime,
    )
    if not files:
        return None
    with open(files[-1]) as f:
        base = json.load(f)["metrics"]["pass_s"]["value"]
    return out["pass_s"] / base - 1.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "brooklin_spark")):
        print(f"perfbench: no brooklin_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        _pin_env(workdir)
        ctx = Context(args, workdir)
        out = measure(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    if ctx.trace:
        metrics = _layer_metrics(out)
        overhead = _trace_overhead(ctx, out)
        if overhead is not None:
            out["report"]["trace_overhead"] = (overhead, "ratio")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["e2e"].items()}
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    runs = os.path.join(ROOT, "perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump({**result, "report": out["report"], "setup_runs_s": out["setup_runs_s"],
                   "spans": ctx.spans.as_json()}, f, indent=1)
    report = {k: {"value": v, "unit": u} for k, (v, u) in out["report"].items()}
    print(f"perfbench {args.workload}: " + json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
