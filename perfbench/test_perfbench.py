"""Self-test of the benchmark at toy size (1k sequences, 50 embeddings).

    python3 -m pytest perfbench/test_perfbench.py -q

Each benchmark run starts its own Spark JVM, so the whole file takes a few
minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path
from unittest import mock

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(ROOT))

import gen  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--seed", "3", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    return result


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_benchmark_json_matches_workloads():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    names = {m["name"] for m in SPEC["per_layer"]}
    for wl in WORKLOADS.values():
        assert set(wl.layers) <= names
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_with_units(workload):
    proc = run_bench("--workload", workload, "--trace", "0", "--scale", "toy")
    result = result_of(proc)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "error_rate" in proc.stdout


def test_injected_failure_raises_error_rate_without_aborting():
    # the first pass after the cold pass and the warm-up
    first_timed = 1 + WORKLOADS["pipeline-write"].warmup_passes
    proc = run_bench(
        "--workload", "pipeline-write", "--trace", "0", "--scale", "toy",
        "--fail-pass", str(first_timed),
    )  # fmt: skip
    result = result_of(proc)
    assert not result["correct"]
    assert result["failed"] == 1
    assert result["attempted"] >= first_timed + run.MIN_TIMED_PASSES
    assert_metrics(result, SPEC["end_to_end"])
    assert f"ratio (1/{result['attempted']})" in proc.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_layer(workload):
    proc = run_bench("--workload", workload, "--trace", "1", "--scale", "toy")
    result = result_of(proc)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["per_layer"])
    report_line = next(x for x in proc.stdout.splitlines() if x.strip().startswith("report:"))
    report = json.loads((ROOT / report_line.split(":", 1)[1].strip()).read_text())
    assert "tracing_overhead_s" in report and report["spans"]
    measured = {k for k, v in result["metrics"].items() if v["value"] != 0}
    # counts and times that cannot be zero when the layer ran
    must_run = {"driver.build_s", "driver.plan_kb", "driver.jobs", "proc.jvm_cpu_s"}
    assert must_run <= measured
    assert set(WORKLOADS[workload].layers) <= set(report["layers_measured"])


def test_generated_sequences_match_spark_synth(tmp_path):
    """The DuckDB-built sequences table equals synth.sequences_df's rows."""
    from loongcollector_spark.session import get_spark
    from loongcollector_spark.synth import sequences_df

    inputs, oracle = gen.ensure_inputs(tmp_path, seed=5, n_events=500, parts=2)
    assert oracle["events_rows"] == 500
    with mock.patch.dict(os.environ):  # pin_environment sets PYTHONPATH etc.
        conf = run.pin_environment()
        spark = get_spark("perfbench-test", "local[2]", shuffle_partitions=2, extra_conf=conf)
        try:
            want = sequences_df(spark, str(inputs)).collect()
            got = spark.read.parquet(str(inputs / "sequences")).collect()
        finally:
            run.stop_spark(spark)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    mix = {s: sum(r["source"] == s for r in got) for s in ("nginx", "app-json", "csvlog")}
    assert mix == {"nginx": 400, "app-json": 50, "csvlog": 50}


def test_same_seed_same_inputs(tmp_path):
    a = gen.events_table(7, 300), gen.embeddings_table(7, 60)
    b = gen.events_table(7, 300), gen.embeddings_table(7, 60)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not gen.events_table(8, 300).equals(a[0])


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = run_bench("--workload", "pipeline-agg", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_process_tree_cpu_and_reaping():
    child = subprocess.Popen([sys.executable, "-c", "sum(range(3 * 10**7))"])
    try:
        procs = procfs.tree()
        assert child.pid in {p.pid for p in procs}
        assert procfs.rss_mb(procs) > 0
    finally:
        child.wait(timeout=60)
    assert procfs.wait_gone([p for p in procs if p.pid == child.pid], timeout_s=5) == []
    # the reaped child's CPU moved into this process's cutime
    assert procfs.cpu_split(procfs.tree())["total"] > 0


def test_rss_skips_a_jvm_child_before_exec():
    def proc(pid, ppid, comm, mb):
        return procfs.Proc(pid, ppid, comm, "S", 0, 0.0, mb * 2**20)

    tree = [proc(1, 0, "python3", 100), proc(2, 1, "java", 3000), proc(3, 2, "python3", 50)]
    assert procfs.rss_mb(tree) == 3150
    # a clone named after the JVM thread that spawns a command, and a worker
    # forked by the Python daemon
    spawning = [proc(4, 2, "Executor task l", 3000), proc(5, 3, "python3", 50)]
    assert procfs.rss_mb([*tree, *spawning]) == 3200
