"""The benchmark's workloads.

Each workload says how big its seeded input is, what one pass runs (``build``
makes the DataFrame, ``act`` runs the action and returns its output), how a
pass's output is checked against the DuckDB oracle, and how the traced run
splits a pass into layers.

SemDeDup is not a workload of its own: its passes are driver-bound (about 15
small Spark jobs over a ~0.6 MB plan) and their time moved by more than a
quarter between runs of the same code, so it is timed as the similarity
layer inside the traced pipeline-agg run.

Every call into the program goes through its public functions: ``flagship``,
``plans.checkpoint``, ``dataops.similarity``, ``tokens`` and ``metrics``.
"""

from __future__ import annotations

import shutil
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field
from itertools import count
from pathlib import Path
from typing import Any, Callable

SINKS = ["sink_a", "sink_b", "sink_default"]

# SemDeDup codebook. ``dataops.queries.q_semdedup`` uses k=8, and its
# per-centroid CASE chain doubles in plan size with every centroid: one k=8
# pass takes ~47 s on 4 cores, more than a whole benchmark run may take.
# k=4 keeps the same two-iteration Lloyd unroll and a ~0.4 MB plan, so the
# pass stays driver-bound.
SEMDEDUP_K = 4
SEMDEDUP_ITERS = 2
SEMDEDUP_PLANTED = 50  # vec_id < 50 get an exact copy at vec_id + 100000


@dataclass
class Ctx:
    spark: Any
    inputs: Path
    oracle: dict
    work: Path
    _seq: Callable[[], int] = field(default_factory=lambda: count().__next__)

    def fresh_dir(self, stem: str) -> Path:
        path = self.work / f"{stem}-{self._seq()}"
        shutil.rmtree(path, ignore_errors=True)
        return path

    def sequences(self):
        return self.spark.read.parquet(str(self.inputs / "sequences"))


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_kb(df) -> float:
    return len(df._jdf.queryExecution().executedPlan().toString()) / 1024


@contextmanager
def job_group(spark, group: str):
    """Run the body under a Spark job group; the yielded dict's ``jobs`` is
    the number of Spark jobs the body started."""
    sc = spark.sparkContext
    counted = {"jobs": 0}
    sc.setJobGroup(group, group)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        counted["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def sink_write(df, target: Path, fail_after: int | None = None) -> list[str]:
    """Per-sink resumable write of a routed frame under ``target``; returns
    the sinks written."""
    from loongcollector_spark.plans import checkpoint

    manifest = checkpoint.Manifest(str(target / "manifest"))
    data = str(target / "data")
    return checkpoint.resumable_sink_write(df, SINKS, data, manifest, fail_after=fail_after)


def _mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*.parquet")) / 2**20


class Workload:
    name: str
    # scale -> (events rows, embedding vectors) generated for this workload
    sizes: dict[str, tuple[int, int]]
    # passes after the cold one that are run and discarded before timing
    warmup_passes: int = 2
    # per-layer metrics this workload measures; the rest read 0
    layers: tuple[str, ...]

    def input_rows(self, ctx: Ctx) -> int:
        raise NotImplementedError

    def build(self, ctx: Ctx, tracer=None):
        """The pass's DataFrame; ``tracer`` (traced run only) records spans
        around the layer calls made while building."""
        raise NotImplementedError

    def act(self, ctx: Ctx, df):
        raise NotImplementedError

    def check(self, ctx: Ctx, out) -> str | None:
        """None when ``out`` equals the oracle, else what differed."""
        raise NotImplementedError

    def prefixes(self, ctx: Ctx) -> dict[str, Callable[[], Any]]:
        """Named DataFrame builders whose noop-write times the traced run
        subtracts pairwise to get layer self times."""
        return {}

    def layer_metrics(self, ctx: Ctx, pre: dict, full: dict, tracer) -> dict[str, float]:
        """Per-layer metrics from the prefix times ``pre`` and the medians of
        the traced full passes ``full``."""
        raise NotImplementedError


class PipelineAgg(Workload):
    """The headline job, per-sink aggregates over the sequences table. Its
    traced run also times SemDeDup over the seeded embeddings, to measure
    the similarity layer."""

    name = "pipeline-agg"
    sizes = {"full": (200_000, 200), "toy": (1_000, 50)}
    layers = (
        "driver.build_s", "driver.plan_s", "driver.plan_kb", "driver.jobs",
        "scan.s", "scan.rows", "scan.mb",
        "tokens.decode_arrow_s", "tokens.decode_jvm_s",
        "parse.s", "parse.fused_s", "parse.rows_in", "parse.rows_out", "parse.keep_ratio",
        "enrich.s", "enrich.miss_rows",
        "routing.s", "routing.rows_out", "routing.fanout",
        "aggregate.s",
        "similarity.kmeans_s", "similarity.build_s", "similarity.plan_s",
        "similarity.exec_s", "similarity.plan_kb", "similarity.jobs",
        "proc.jvm_cpu_s", "proc.pyworker_cpu_s",
    )  # fmt: skip

    def input_rows(self, ctx):
        return ctx.oracle["events_rows"]

    def build(self, ctx, tracer=None):
        from loongcollector_spark import flagship

        return flagship.pipeline_aggregates_from(ctx.spark, ctx.sequences())

    def act(self, ctx, df):
        return [list(r) for r in df.collect()]

    def check(self, ctx, out):
        want = ctx.oracle["pipeline_aggregates"]
        return None if out == want else f"sink aggregates {out} != oracle {want}"

    def prefixes(self, ctx):
        import pyspark.sql.functions as F

        from loongcollector_spark import flagship
        from loongcollector_spark.tokens import decode_tokens, decode_tokens_arrow

        spark, seq = ctx.spark, ctx.sequences
        return {
            "scan": seq,
            "decode_arrow": lambda: decode_tokens_arrow(
                seq(), "tokens", "content", drop_tokens=True
            ),
            "decode_jvm": lambda: seq()
            .withColumn("content", decode_tokens(F.col("tokens")))
            .drop("tokens"),
            "parse": lambda: flagship.parsed_events_from(seq()),
            "parse_fused": lambda: flagship.fused_parsed_events(seq()),
            "enrich": lambda: flagship.enriched_from(spark, seq()),
            "route": lambda: flagship.routed_from(spark, seq(), partition=False),
            "aggregate": lambda: self.build(ctx),
        }

    def layer_metrics(self, ctx, pre, full, tracer):
        t = {k: v["s"] for k, v in pre.items()}
        rows_in, rows_parsed = pre["scan"]["rows"], pre["parse"]["rows"]
        out = {
            "scan.s": t["scan"],
            "scan.rows": rows_in,
            "scan.mb": _mb(ctx.inputs / "sequences"),
            "tokens.decode_arrow_s": t["decode_arrow"] - t["scan"],
            "tokens.decode_jvm_s": t["decode_jvm"] - t["scan"],
            "parse.s": t["parse"] - t["decode_arrow"],
            "parse.fused_s": t["parse_fused"] - t["decode_arrow"],
            "parse.rows_in": rows_in,
            "parse.rows_out": rows_parsed,
            "parse.keep_ratio": rows_parsed / rows_in,
            "enrich.s": t["enrich"] - t["parse"],
            "enrich.miss_rows": pre["enrich"]["miss"],
            "routing.s": t["route"] - t["enrich"],
            "routing.rows_out": pre["route"]["rows"],
            "routing.fanout": pre["route"]["rows"] / pre["enrich"]["rows"],
            "aggregate.s": t["aggregate"] - t["route"],
        }
        out.update(semdedup_layers(ctx, tracer, passes=2))
        return out


class PipelineWrite(PipelineAgg):
    """The same decode, parse and route layers ending in a write: the routed
    rows, repartitioned by (source, route_key), go through the per-sink
    resumable checkpoint writer into a fresh directory. Each pass's output
    is read back and its per-sink row counts checked against the oracle.
    The writer re-runs the upstream once per sink, so even at an eighth of
    pipeline-agg's input a pass takes ~7 s on 4 cores; one warm-up pass
    keeps a run near a minute."""

    name = "pipeline-write"
    sizes = {"full": (25_000, 0), "toy": (1_000, 0)}
    warmup_passes = 1
    layers = (
        "driver.build_s", "driver.plan_s", "driver.plan_kb", "driver.jobs",
        "aggregate.repartition_s", "aggregate.partition_skew",
        "checkpoint.write_s", "checkpoint.jobs", "checkpoint.mb_written",
        "checkpoint.resume_s", "checkpoint.units_rewritten",
        "proc.jvm_cpu_s", "proc.pyworker_cpu_s",
    )  # fmt: skip

    def build(self, ctx, tracer=None):
        """The pre-write frame: routed rows repartitioned by (source, route_key)."""
        from loongcollector_spark import flagship

        return flagship.routed_from(ctx.spark, ctx.sequences())

    def act(self, ctx, df):
        target = ctx.fresh_dir("pass")
        sink_write(df, target)
        return target

    def check(self, ctx, out):
        try:
            return self._check_written(ctx, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _check_written(self, ctx, target: Path) -> str | None:
        from loongcollector_spark.plans import checkpoint

        back = checkpoint.read_all_units(ctx.spark, str(target / "data"))
        got = {r[0]: r[1] for r in back.groupBy("unit").count().collect()}
        want = ctx.oracle["routed_per_sink"]
        return None if got == want else f"{target.name}: per-sink rows {got} != oracle {want}"

    def prefixes(self, ctx):
        from loongcollector_spark import flagship

        return {
            "route": lambda: flagship.routed_from(ctx.spark, ctx.sequences(), partition=False),
            "route_partitioned": lambda: self.build(ctx),
        }

    def layer_metrics(self, ctx, pre, full, tracer):
        from loongcollector_spark.metrics import partition_metrics

        t = {k: v["s"] for k, v in pre.items()}
        with tracer.span("aggregate.partition_metrics"):
            parts = partition_metrics(self.build(ctx)).collect()
        rows = [r["events"] for r in parts if r["events"] > 0]
        out = {
            "aggregate.repartition_s": t["route_partitioned"] - t["route"],
            "aggregate.partition_skew": max(rows) / statistics.median(rows),
        }
        out.update(self._checkpoint_metrics(ctx, t["route_partitioned"], tracer))
        return out

    def _checkpoint_metrics(self, ctx, routed_s: float, tracer) -> dict[str, float]:
        """One per-sink resumable write of the routed frame, then a write
        killed after its first unit and resumed on a fresh plan. Both outputs
        are read back and checked against the oracle."""
        out = {}
        full_dir, resume_dir = ctx.fresh_dir("write"), ctx.fresh_dir("resume")
        try:
            df = self.build(ctx)
            with job_group(ctx.spark, f"{tracer.trace_id}-write") as jobs:
                with tracer.span("checkpoint.write") as sp:
                    sink_write(df, full_dir)
            out["checkpoint.write_s"] = sp.duration - routed_s
            out["checkpoint.jobs"] = jobs["jobs"]
            out["checkpoint.mb_written"] = _mb(full_dir / "data")
            try:
                sink_write(self.build(ctx), resume_dir, fail_after=1)
            except RuntimeError:
                pass
            df = self.build(ctx)
            with tracer.span("checkpoint.resume") as sp:
                rewritten = sink_write(df, resume_dir)
            out["checkpoint.resume_s"] = sp.duration
            out["checkpoint.units_rewritten"] = len(rewritten)
            for target in (full_dir, resume_dir):
                if err := self._check_written(ctx, target):
                    raise RuntimeError(err)
        finally:
            shutil.rmtree(full_dir, ignore_errors=True)
            shutil.rmtree(resume_dir, ignore_errors=True)
        return out


def semdedup_frame(ctx: Ctx, tracer):
    """SemDeDup over the seeded embeddings plus the planted copies: k-means
    codebook, then cell-scoped duplicate removal. Returns the (vec_id, cell,
    keep) frame and the spans of the two calls."""
    import pyspark.sql.functions as F

    from loongcollector_spark.dataops import similarity

    base = ctx.spark.read.parquet(str(ctx.inputs / "embeddings.parquet"))
    base = base.select("vec_id", "embedding")
    aug = base.unionByName(
        base.where(F.col("vec_id") < SEMDEDUP_PLANTED).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    with tracer.span("similarity.kmeans") as kmeans:
        cents = similarity.kmeans_centroids(aug, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, round_to=6)
    with tracer.span("similarity.semdedup") as build:
        out = similarity.semdedup(aug, cents, threshold=0.99)
    df = out.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("keep").cast("int").alias("keep"),
    )
    return df, kmeans, build


def semdedup_layers(ctx: Ctx, tracer, passes: int) -> dict[str, float]:
    """The similarity layer: one cold SemDeDup call, then ``passes`` calls
    whose codebook training, frame building, planning and action are timed
    apart (medians; the cold call is not counted). Every call's output is
    checked against the oracle; a difference raises."""
    want = ctx.oracle["semdedup"]
    calls = []
    for i in range(passes + 1):
        with job_group(ctx.spark, f"{tracer.trace_id}-semdedup-{i}") as jobs:
            with tracer.span("similarity.pass", index=i):
                df, kmeans, build = semdedup_frame(ctx, tracer)
                with tracer.span("similarity.plan") as plan:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("similarity.exec") as action:
                    out = sorted([list(r) for r in df.collect()])
        if out != want:
            diff = sum(a != b for a, b in zip(out, want)) + abs(len(out) - len(want))
            raise RuntimeError(f"semdedup call {i}: {diff} of {len(want)} rows differ")
        calls.append(
            {
                "kmeans_s": kmeans.duration,
                "build_s": build.duration,
                "plan_s": plan.duration,
                "exec_s": action.duration,
                "plan_kb": plan_kb(df),
                "jobs": jobs["jobs"],
            }
        )
    warm = calls[1:]
    return {f"similarity.{k}": statistics.median(c[k] for c in warm) for k in warm[0]}


WORKLOADS: dict[str, Workload] = {w.name: w for w in (PipelineAgg(), PipelineWrite())}
