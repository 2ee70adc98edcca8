"""Benchmark of the CDC ingest engine: one closed-loop client per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver thread issues each operation
after the previous one completes, on Spark ``local[<cpus>]``. A run
starts the session, builds the workload's inputs and tables from
``--seed`` (``build_reps`` times; the last build is the one measured),
warms every measured path once, measures for ``--seconds`` (and at
least ``min_ops`` operations), then checks the outputs against an
independent oracle, untimed. ``setup_s`` is the session start plus the
median build plus the warm-up.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it, prefixed
``detail:``, carries the workload's own metrics, tail percentiles,
session sizing and window evidence. Scratch data lives under
``.perfbench_work/`` in the working directory and is removed at exit
unless the workload sets ``rm_work = False``; the span trace and the
detail record stay in ``.perfbench_work/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from stats import tail

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (metric, unit) printed with --trace 0; must match BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("work_per_s", "1/s"),
    ("driver_rss_mb", "MB"),
]


#: name suffix -> unit of the workload metrics on the ``detail:`` line
DETAIL_UNITS = [
    ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
    ("_bytes_per_row", "bytes/row"), ("_pct", "percentile"),
    ("_rate", "fraction"),
]


def _with_units(metrics: dict) -> dict:
    out = {}
    for name, value in metrics.items():
        unit = next((u for sfx, u in DETAIL_UNITS if name.endswith(sfx)), "count")
        out[name] = {"value": value, "unit": unit}
    return out


class Ctx:
    """What a workload sees: the session, its scratch directory, the
    tracer, and the sample and check ledgers."""

    def __init__(self, spark, seed: int, work: str, tracer, trace: bool):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.trace = trace
        self.samples: dict[str, list[float]] = {}
        self.work_units = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: per-layer values the workload measures itself
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)

    def timed(self, name: str):
        return _Timed(self, name)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failed check counts against
        ``error_rate``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def force(self, df) -> None:
        """Execute a DataFrame completely, discarding rows."""
        df.write.format("noop").mode("overwrite").save()


class _Timed:
    def __init__(self, ctx: Ctx, name: str):
        self.ctx, self.name = ctx, name

    def __enter__(self):
        self.span = self.ctx.tracer.span(self.name)
        self.span.__enter__()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dt = time.perf_counter() - self.t0
        self.span.__exit__(*exc)
        if exc[0] is None:
            self.ctx.sample(self.name, dt)
        return False


#: workload name -> (module, class)
WORKLOADS = {
    "bulk_cow_stream": ("w_bulk", "BulkCowStream"),
    "trickle_mor_rw": ("w_trickle", "TrickleMorRW"),
    "universe_epochs": ("w_universe", "UniverseEpochs"),
    "query_suite": ("w_query", "QuerySuite"),
}


def _isolate(work: str) -> None:
    """Keep every file the run, Spark, the JVM and DuckDB write under
    the scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts
    ).strip()


def _stop(spark) -> None:
    """Stop the session, then close the JVM gateway and wait for the
    JVM (and the Python workers it forked) to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import host
    import layers
    from spans import Tracer

    sizing = host.size_session()
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    window = host.Window()
    mod, cls = WORKLOADS[workload]
    cls = getattr(importlib.import_module(mod), cls)

    from encode_ingest_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{workload}", cores=sizing["cores"],
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    start_s = time.perf_counter() - t
    try:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        tracer = Tracer(dag.numTotalJobs)
        if trace:
            layers.install(tracer)
        ctx = Ctx(spark, seed, work, tracer, trace)
        wl = cls(ctx)
        min_ops = getattr(wl, "min_ops", 1)

        build_s = []
        for _ in range(wl.build_reps):
            t = time.perf_counter()
            wl.build()
            build_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t

        ctx.samples.clear()
        ctx.work_units = 0.0
        host.reset_peak_rss()
        lat: list[float] = []
        t0 = time.perf_counter()
        while len(lat) < min_ops or time.perf_counter() - t0 < seconds:
            tracer.enabled = False
            wl.prepare()
            tracer.enabled = trace
            t = time.perf_counter()
            try:
                with tracer.span("bench.op"):
                    wl.op()
                ctx.check(True, "op")
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                ctx.check(False, f"op {len(lat)} raised")
            lat.append(time.perf_counter() - t)
        t1 = time.perf_counter()
        tracer.enabled = False
        rss = host.peak_rss_mb()

        t = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t
        detail = wl.detail()
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
        stopped = time.perf_counter()
    evidence = window.close()

    op_s = sum(lat)
    e2e = {
        "setup_s": start_s + statistics.median(build_s) + warm_s,
        "op_p50_ms": 1000.0 * statistics.median(lat),
        "work_per_s": ctx.work_units / op_s,
        "driver_rss_mb": rss,
    }
    p_tail, pct = tail(lat)
    detail.update(
        error_rate=ctx.failed / ctx.attempted,
        driver_rss_mb=rss,
        setup_s=e2e["setup_s"],
    )
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "ops": len(lat), "op_s": lat, "op_tail_ms": None if p_tail is None
        else 1000.0 * p_tail, "op_tail_pct": pct,
        "session_start_s": start_s, "build_s": build_s, "warm_s": warm_s,
        "measured_s": t1 - t0, "verify_s": verify_s,
        "stop_s": stopped - t_stop, "process_s": time.perf_counter() - T_PROCESS,
        "metrics": detail, "samples_s": ctx.samples,
        "session": sizing, "window": evidence, "failures": ctx.failures,
    }
    if trace:
        ctx.layer["session.start_s"] = start_s
        metrics = layers.readout(tracer, t0, t1, len(lat), ctx.layer)
        units = dict(layers.PER_LAYER)
        tracer.dump(os.path.join(out_dir, f"spans-{workload}-{seed}.json"), t0)
        record["untraced_overhead_note"] = (
            "trace.overhead_pct is tracer bookkeeping time over the traced "
            "wall; compare op_p50_ms against a --trace 0 run for the rest")
    else:
        metrics = e2e
        units = dict(END_TO_END)
    with open(os.path.join(out_dir, f"detail-{workload}-{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if getattr(wl, "rm_work", True):
        shutil.rmtree(work, ignore_errors=True)
    return {
        "detail": {
            "metrics": _with_units(record["metrics"]),
            **{k: record[k] for k in ("op_tail_ms", "op_tail_pct", "ops",
                                      "session", "window")},
        },
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import encode_ingest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("detail: " + json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
