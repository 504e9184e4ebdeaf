#!/usr/bin/env python3
"""Benchmark of loongcollector_spark on seeded inputs.

    python3 perfbench/run.py --workload pipeline-agg --seed 1 --seconds 14 --trace 0

Run from the repository root. Workloads (see workloads.py and BENCHMARK.json):
``pipeline-agg`` and ``pipeline-write``. The load is a closed loop with one
client: one process submits one pass after another to a ``local[nproc]``
session with ``nproc`` shuffle partitions.

A run generates (or reuses) the seeded input, starts Spark, runs one cold
pass (its end marks ``setup_s``), the workload's warm-up passes, then timed
passes for ``--seconds`` and at least three. Every pass is checked against
the DuckDB oracle after the passes; a pass that raised or differed counts as
failed.
``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times each layer
instead: layer self time is the noop-write time of the pipeline prefix that
ends at the layer minus the prefix before it.

Human-readable lines come first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. A full report
(passes, per-layer table, spans, environment) is written under
``perfbench/.work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import procfs
from spans import Tracer
from workloads import WORKLOADS, Ctx, job_group, noop_write, plan_kb

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

MIN_TIMED_PASSES = 3
DRIVER_MEM = "3g"
# The whole heap is committed and touched at JVM start, so peak RSS does not
# depend on when G1 decides to grow the heap; it moves with memory outside
# the heap (Python workers, Arrow buffers, metaspace, code cache).
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"


@dataclass
class Pass:
    index: int
    kind: str  # cold | warmup | timed | traced | untraced
    wall_s: float = 0.0
    cpu: dict = field(default_factory=dict)
    out: Any = None
    error: str | None = None
    trace: dict = field(default_factory=dict)

    def report(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k != "out"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full", help="toy: self-test size")
    ap.add_argument("--fail-pass", type=int, default=None, help="make pass N raise (self-test)")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_inputs(wl, seed: int, scale: str) -> tuple[Path, dict]:
    """Seeded input + oracle answers, generated in a child process so that
    DuckDB's memory never shows in the measured process tree."""
    from gen import input_dir  # numpy/pyarrow: imported here, not before setup_s starts

    n_events, n_vectors = wl.sizes[scale]
    cache = WORK / "cache"
    inputs = input_dir(cache, seed, n_events, n_vectors, cores())
    if not (inputs / "oracle.json").exists():
        cmd = [sys.executable, str(BENCH / "gen.py"), "--cache", str(cache), "--seed", str(seed)]
        cmd += ["--events", str(n_events), "--vectors", str(n_vectors), "--parts", str(cores())]
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    return inputs, json.loads((inputs / "oracle.json").read_text())


def pin_environment() -> dict:
    """Environment for the Spark JVM and its Python workers; all scratch
    files stay under perfbench/.work."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_HEAP_OPTS}",
    }


def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cores(),
        "master": f"local[{cores()}]",
        "shuffle_partitions": cores(),
        "driver_memory": DRIVER_MEM,
        "jvm_heap_opts": JVM_HEAP_OPTS,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    children = [p for p in procfs.tree() if p.pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    procfs.wait_gone(children)


class Runner:
    def __init__(self, ctx, wl, fail_pass: int | None):
        self.ctx, self.wl, self.fail_pass = ctx, wl, fail_pass
        self.passes: list[Pass] = []

    def run_pass(self, kind: str, tracer=None) -> Pass:
        p = Pass(len(self.passes), kind)
        self.passes.append(p)
        cpu0 = procfs.cpu_split(procfs.tree())
        t0 = time.monotonic()
        try:
            if p.index == self.fail_pass:
                raise RuntimeError(f"injected failure in pass {p.index}")
            if tracer is None:
                p.out = self.wl.act(self.ctx, self.wl.build(self.ctx))
            else:
                p.out = self._traced(p, tracer)
        except Exception:
            p.error = traceback.format_exc()
            print(f"pass {p.index} ({kind}) raised:\n{p.error}", file=sys.stderr)
        p.wall_s = time.monotonic() - t0
        cpu1 = procfs.cpu_split(procfs.tree())
        p.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return p

    def _traced(self, p: Pass, tracer):
        with job_group(self.ctx.spark, f"{tracer.trace_id}-{p.index}") as jobs:
            with tracer.span("pass", index=p.index):
                with tracer.span("driver.build") as build:
                    df = self.wl.build(self.ctx, tracer)
                with tracer.span("driver.plan") as plan:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("action") as action:
                    out = self.wl.act(self.ctx, df)
        p.trace = {
            "build_s": build.duration,
            "plan_s": plan.duration,
            "action_s": action.duration,
            "plan_kb": plan_kb(df),
            "jobs": jobs["jobs"],
        }
        return out

    def check_all(self) -> None:
        """Compare every pass's output with the oracle (outside the timed
        passes); a check that raises fails its pass too."""
        for p in self.passes:
            if p.error is not None:
                continue
            try:
                p.error = self.wl.check(self.ctx, p.out)
            except Exception:
                p.error = traceback.format_exc()
            if p.error:
                print(f"pass {p.index} ({p.kind}) wrong: {p.error}", file=sys.stderr)

    def of(self, *kinds: str) -> list[Pass]:
        return [p for p in self.passes if p.kind in kinds]


def median_of(passes: list[Pass], key) -> float:
    return statistics.median(key(p) for p in passes)


def measure(runner: Runner, seconds: float, t_start: float) -> dict:
    """Cold pass, warm-up, then the timed window; end-to-end metrics."""
    runner.run_pass("cold")
    setup_s = time.monotonic() - t_start
    for _ in range(runner.wl.warmup_passes):
        runner.run_pass("warmup")
    with procfs.PeakRss() as rss:
        t0 = time.monotonic()
        while len(runner.of("timed")) < MIN_TIMED_PASSES or time.monotonic() - t0 < seconds:
            runner.run_pass("timed")
    runner.check_all()
    timed = runner.of("timed")
    ok = [p for p in timed if p.error is None] or timed
    wall = median_of(ok, lambda p: p.wall_s)
    return {
        "wall_s": wall,
        "rows_per_s": runner.wl.input_rows(runner.ctx) / wall,
        "cpu_s": median_of(ok, lambda p: p.cpu["total"]),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }


def time_prefixes(runner: Runner, tracer) -> dict:
    """Noop-write seconds of each pipeline prefix, with its row count (and
    lookup misses) observed inside the same action. Each prefix is written
    once, which keeps a traced run under two minutes on 4 cores."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    out = {}
    for name, make in runner.wl.prefixes(runner.ctx).items():
        df = make()
        obs = Observation(name)
        aggs = [F.count(F.lit(1)).alias("rows")]
        if "team_tag" in df.columns:
            miss = F.sum(F.when(F.col("team_tag").isNull(), 1).otherwise(0))
            aggs.append(miss.alias("miss"))
        with tracer.span(f"prefix.{name}") as sp:
            noop_write(df.observe(obs, *aggs))
        out[name] = {"s": sp.duration, **obs.get}
    return out


def measure_layers(runner: Runner, spec: dict, tracer) -> tuple[dict, dict]:
    """Per-layer metrics; returns (metrics, extra report fields). One full
    pass of each kind, traced and untraced, for the same time limit as
    ``time_prefixes``."""
    runner.run_pass("cold")
    for _ in range(runner.wl.warmup_passes):
        runner.run_pass("warmup")
    runner.run_pass("traced", tracer)
    runner.run_pass("untraced")
    runner.check_all()
    traced = [p for p in runner.of("traced") if p.error is None]
    untraced = [p for p in runner.of("untraced") if p.error is None]
    names = [m["name"] for m in spec["per_layer"]]
    metrics = dict.fromkeys(names, 0.0)
    extra: dict = {"layers_measured": list(runner.wl.layers)}
    # layer measurement is one more attempt: it fails if it raises or if an
    # output it checks differs from the oracle
    layers = Pass(len(runner.passes), "layers")
    runner.passes.append(layers)
    try:
        full = {k: median_of(traced, lambda p: p.trace[k]) for k in traced[0].trace}
        metrics.update(
            {
                "driver.build_s": full["build_s"],
                "driver.plan_s": full["plan_s"],
                "driver.plan_kb": full["plan_kb"],
                "driver.jobs": full["jobs"],
                "proc.jvm_cpu_s": median_of(traced, lambda p: p.cpu["jvm"]),
                "proc.pyworker_cpu_s": median_of(traced, lambda p: p.cpu["pyworker"]),
                "trace.overhead_s": median_of(traced, lambda p: p.wall_s)
                - median_of(untraced, lambda p: p.wall_s),
            }
        )
        extra["tracing_overhead_s"] = metrics["trace.overhead_s"]
        pre = time_prefixes(runner, tracer)
        extra["prefixes"] = pre
        metrics.update(runner.wl.layer_metrics(runner.ctx, pre, full, tracer))
    except Exception:
        layers.error = traceback.format_exc()
        print(f"layer measurement raised:\n{layers.error}", file=sys.stderr)
    unknown = set(metrics) - set(names)
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return metrics, extra


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, str(ROOT))
    try:
        import loongcollector_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[args.workload]
    inputs, oracle = prepare_inputs(wl, args.seed, args.scale)
    conf = pin_environment()

    t_start = time.monotonic()  # setup_s counts from here: imports, JVM, cold pass
    from loongcollector_spark.session import get_spark

    n = cores()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, inputs, oracle, WORK / "out" / f"{os.getpid()}")
    runner = Runner(ctx, wl, args.fail_pass)
    tracer = Tracer()
    try:
        if args.trace:
            metrics, extra = measure_layers(runner, spec, tracer)
            declared = spec["per_layer"]
        else:
            metrics, extra = measure(runner, args.seconds, t_start), {}
            declared = spec["end_to_end"]
    finally:
        stop_spark(spark)
        shutil.rmtree(ctx.work, ignore_errors=True)
    failed = sum(p.error is not None for p in runner.passes)
    attempted = len(runner.passes)
    units = {m["name"]: m["unit"] for m in declared}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    env = environment()
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "input_rows": wl.input_rows(ctx),
        "environment": env,
        "error_rate": failed / attempted,
        "result": result,
        "passes": [p.report() for p in runner.passes],
        **extra,
        **(tracer.to_json() if args.trace else {}),
    }
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stamp = f"{int(time.time())}-{os.getpid()}"
    out = runs / f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    out.write_text(json.dumps(report, indent=1, default=str))

    counts = {k: len(runner.of(k)) for k in ("cold", "warmup", "timed", "traced", "untraced")}
    print(
        f"{wl.name} seed={args.seed} input_rows={report['input_rows']} "
        f"local[{env['nproc']}] spark={env['spark']} pyarrow={env['pyarrow']} "
        f"numpy={env['numpy']} passes={ {k: v for k, v in counts.items() if v} }"
    )
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {_fmt(m['value']):>12s} {m['unit']}")
    print(f"  {'error_rate':28s} {_fmt(failed / attempted):>12s} ratio ({failed}/{attempted})")
    if args.trace:
        print(f"  tracing overhead: {_fmt(extra.get('tracing_overhead_s', float('nan')))} s")
        absent = sorted(set(units) - set(wl.layers) - {"trace.overhead_s"})
        print(f"  layers this workload does not run read 0: {absent}")
    print(f"  report: {out.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
