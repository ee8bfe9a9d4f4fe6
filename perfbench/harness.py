"""What every workload shares: the Spark session's start and stop, the
warm-up and the timed window, failure accounting and the result line.

A workload module provides ``setup(ctx)`` (generate and write inputs,
return a state object), ``run(ctx, state, tag)`` (one timed operation,
returning an :class:`Outcome`), ``check(ctx, state, outcome)`` (output
checks, as ``(name, ok, detail)`` triples), ``targets(state)`` (the
functions a traced run wraps) and ``layers(ctx, state, untraced,
traced)`` (the per-layer metrics of a traced run).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any

from . import metrics, stats
from .tracing import Tracer, instrument

PACKAGE = "bbc_news_data_pipeline_spark"


@dataclass
class Outcome:
    """One timed operation: a whole batch job over the workload's input."""

    latency_s: float
    docs: int
    attempted: int
    failed: list[str]
    store: str
    extra: dict[str, Any] = field(default_factory=dict)
    steal: float = 0.0  # share of CPU time the host took while it ran

    @property
    def ok(self) -> bool:
        return not self.failed


@dataclass
class Ctx:
    root: str
    work: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    spark: Any = None
    get_spark_s: float = 0.0
    tracer: Tracer | None = None


def configure_env(root: str, work: str) -> None:
    """Keep every file Spark, its JVMs and its workers write inside
    ``work`` (no JVM perf-data files in /tmp either), and put the program
    on the Python workers' import path."""
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def start_spark(ctx: Ctx) -> None:
    from bbc_news_data_pipeline_spark import get_spark

    t0 = time.time()
    # A fixed 3 GB heap (initial = max): the JVM never resizes it, so
    # run time and peak RSS do not depend on when a resize happened.
    ctx.spark = get_spark(
        "perfbench",
        driver_memory="3g",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xms3g",
            "spark.sql.warehouse.dir": f"{ctx.work}/warehouse",
        },
    )
    ctx.get_spark_s = time.time() - t0


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, end the JVM and wait until every process this
    one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while (left := stats.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_once(ctx: Ctx, wl, state, tag: str) -> Outcome:
    before = stats.cpu_jiffies()
    out = wl.run(ctx, state, tag)
    out.steal = stats.steal_share(before, stats.cpu_jiffies())
    return out


def timed_window(ctx: Ctx, wl, state) -> list[Outcome]:
    """Run the workload back to back for ``ctx.seconds``: always once,
    then again while the next run is expected to end inside the window."""
    runs: list[Outcome] = []
    t0 = time.time()
    while True:
        runs.append(run_once(ctx, wl, state, f"r{len(runs)}"))
        if time.time() - t0 + runs[-1].latency_s > ctx.seconds:
            return runs


def summarize(runs: list[Outcome]) -> dict[str, float]:
    """docs_per_s and batch latency over the timed runs. A failed run
    processed no documents: it counts 0 toward throughput, so a run that
    stops early on a failure never reads as a fast one."""
    rates = [r.docs / r.latency_s if r.ok else 0.0 for r in runs]
    lat = [r.latency_s for r in runs]
    tail = stats.tail(lat)
    return {
        "docs_per_s": stats.median(rates),
        "batch_latency_p50_s": stats.median(lat),
        "batch_latency_tail_s": tail["value"],
        "_tail": tail,
    }


def execute(ctx: Ctx, wl) -> dict:
    """Set up, warm up, measure, check; return the result record."""
    t0 = time.time()
    start_spark(ctx)
    state = wl.setup(ctx)
    warm = run_once(ctx, wl, state, "warmup")
    setup_s = time.time() - t0

    runs = timed_window(ctx, wl, state)
    ops = [warm, *runs]
    checks = wl.check(ctx, state, runs[-1])
    traced = None
    if ctx.trace:
        ctx.tracer = Tracer(run=f"{ctx.workload}-seed{ctx.seed}-traced")
        with instrument(ctx.tracer, wl.targets(state), PACKAGE):
            with ctx.tracer.span(f"{ctx.workload}.run"):
                traced = wl.run(ctx, state, "traced")
        ctx.tracer.release()
        ops.append(traced)
    peak = stats.peak_rss_mb()

    attempted = sum(r.attempted for r in ops) + len(checks)
    failures = [f for r in ops for f in r.failed] + [
        f"check {name}: {detail}" for name, ok, detail in checks if not ok
    ]
    summary = summarize(runs)
    record = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "input": state.props,
        "setup_s": setup_s,
        "warmup_s": warm.latency_s,
        "runs_s": [round(r.latency_s, 4) for r in runs],
        "steal": [round(r.steal, 4) for r in [warm, *runs]],
        "tail": summary.pop("_tail"),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "failures": failures,
        "attempted": attempted,
        "failed_frac": len(failures) / attempted,
        "peak_rss_mb": peak,
    }
    if ctx.trace:
        layer = dict.fromkeys(metrics.LAYER_NAMES, 0.0)
        layer.update(wl.layers(ctx, state, runs, traced))
        layer["session.get_spark_s"] = ctx.get_spark_s
        layer["bench.failed_frac"] = record["failed_frac"]
        layer["bench.tracing_overhead_s"] = traced.latency_s - summary["batch_latency_p50_s"]
        record["layers"] = layer
        os.makedirs(f"{ctx.root}/.perfbench/spans", exist_ok=True)
        record["spans"] = f".perfbench/spans/{ctx.workload}-seed{ctx.seed}.jsonl"
        ctx.tracer.dump(f"{ctx.root}/{record['spans']}")
        values = layer
    else:
        values = {"setup_s": setup_s, **summary, "peak_rss_mb": peak["total"]}
    record["metrics"] = metrics.as_metrics(values)
    return record


def main(workload: str, seed: int, seconds: float, trace: bool, root: str, wl) -> int:
    work = f"{root}/.perfbench/{workload}-seed{seed}-{os.getpid()}"
    configure_env(root, work)
    ctx = Ctx(root=root, work=work, workload=workload, seed=seed, seconds=seconds, trace=trace)
    try:
        record = execute(ctx, wl)
    finally:
        stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: v for k, v in record.items() if k != "metrics"}), flush=True)
    result = {
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": record["metrics"],
    }
    print(json.dumps(result), flush=True)
    return 0
