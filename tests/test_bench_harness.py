"""Bench-harness behavior pins (no Spark): the noise-gated query retry and
the compact final-line builder — the driver-artifact defensibility machinery
(VERDICT r4 item 1) must not regress."""

import time

import pytest

import bench


def _fake_counters(monkeypatch, busy_windows):
    """Install host/tree CPU counter fakes: busy_windows[i] external busy
    CPU-seconds are added over the i-th (h0 → h1) noise window."""
    state = {"calls": 0, "busy": 0.0}

    def fake_host():
        i = state["calls"] // 2  # two host reads per window
        if state["calls"] % 2 == 1 and i < len(busy_windows):
            state["busy"] += busy_windows[i]
        state["calls"] += 1
        return (state["busy"], 0.0)

    monkeypatch.setattr(bench, "_host_cpu_s", fake_host)
    monkeypatch.setattr(bench, "_tree_cpu_s", lambda: 0.0)


def test_timeit_retries_on_noisy_window_and_keeps_faster(monkeypatch):
    _fake_counters(monkeypatch, busy_windows=[100.0, 0.0])
    bench._QUERY_NOISE.clear()
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        time.sleep(0.25 if calls["n"] <= 2 else 0.05)

    got = bench._timeit(fn, warm=0, runs=2, noise_key="q")
    entry = bench._QUERY_NOISE["q"]
    assert "retry" in entry, "ext_cores > 0.8 must trigger one retry"
    assert entry["retry"]["first_wall"] >= 0.25
    assert got < 0.25  # faster retry wall kept (recorded walls are rounded)
    assert calls["n"] == 3  # exactly one extra timed run


def test_timeit_no_retry_on_clean_window(monkeypatch):
    _fake_counters(monkeypatch, busy_windows=[0.0])
    bench._QUERY_NOISE.clear()
    got = bench._timeit(lambda: time.sleep(0.01), warm=0, runs=1, noise_key="q")
    assert "retry" not in bench._QUERY_NOISE["q"]
    assert got >= 0.01


def test_timeit_retry_respects_budget(monkeypatch):
    _fake_counters(monkeypatch, busy_windows=[100.0, 0.0])
    bench._QUERY_NOISE.clear()
    monkeypatch.setattr(bench, "_budget_left", lambda: 5.0)  # < 60 + 2*wall
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        time.sleep(0.01)

    bench._timeit(fn, warm=0, runs=1, noise_key="q")
    assert "retry" not in bench._QUERY_NOISE["q"]
    assert calls["n"] == 1


def test_compact_line_under_2kb_and_carries_retry_count():
    full = {
        "metric": "pipeline_e2e_sec", "value": 2.5, "unit": "sec",
        "sf": "0.1", "rows": 100000, "tokens": 8779910, "cpus": 32,
        "seq_per_sec": 40000.0, "tokens_per_sec": 3500000.0,
        "seq_per_sec_at_scale": 1000000.0, "tokens_per_sec_at_scale": 7e7,
        "queries": {f"q{i}": 1.0 for i in range(8)},
        "parse_bench": {"mb_per_sec": 100.0,
                        "decode_parse_all_sources": {"seq_per_sec": 400000.0}},
        "queries_noise": {
            "a": {"ext_cores": 2.0, "steal_cores": 2.0,
                  "retry": {"first_wall": 4.0, "retry_wall": 2.0,
                            "ext_cores": 0.0, "steal_cores": 0.0}},
            "b": {"ext_cores": 0.0, "steal_cores": 0.0},
        },
        "scaling": {
            "cpus_low": 4, "cpus_high": 16, "cpus_top": 32, "rows": 9600000,
            "sec_low": 33.0, "sec_high": 12.0, "sec_top": 9.7,
            "seq_per_sec_top": 985019.5, "efficiency": 0.88,
            "efficiency_flat_cycles": 0.975, "efficiency_mid_to_top": 0.667,
            "machine_ceiling": 0.901, "memory_ceiling": 0.41,
            "cpu_per_row_ratio": 1.108, "steal_cores_top_max": 1.1,
            "passes": [{"efficiency": 0.88, "clean": True,
                        "retry_32c": [{"wall": 18.0, "cpu": 460.0}]}],
        },
        "window_noise": {"wall_s": 568.0, "ext_cores": 13.8,
                         "steal_cores": 1.2},
    }
    import json

    line = json.dumps(bench._compact(full))
    assert len(line) <= 2048, f"final line must stay ≤2 KB, got {len(line)}"
    d = json.loads(line)
    assert d["queries_noise_max"] == {"ext_cores": 2.0, "steal_cores": 2.0,
                                      "retried": 1}
    assert d["scaling"]["efficiency"] == 0.88
    assert d["full_record"] == "bench_full.json"


def test_compact_carries_scaling_error_and_skip_verbatim():
    # a scaling failure degrades to {"error": ...} in main (the bench must
    # still print its final line); _compact must pass that through rather
    # than synthesize an empty pass summary
    import json

    base = {"metric": "m", "value": 1.0, "unit": "sec"}
    err = bench._compact({**base, "scaling": {"error": "RuntimeError: worker died"}})
    assert err["scaling"] == {"error": "RuntimeError: worker died"}
    skip = bench._compact({**base, "scaling": {"skipped": "budget"}})
    assert skip["scaling"] == {"skipped": "budget"}
    assert len(json.dumps(err)) <= 2048


def test_tree_cpu_sampler_keeps_vanished_subtree(monkeypatch):
    """The window ledger's positive-delta integrator: CPU of a descendant
    that dies without cutime propagation (scaling-worker JVMs) must stay
    counted, and reap-propagation (flat total) must not double-count."""
    vals = iter([10.0,  # constructor snapshot
                 60.0,  # worker burned 50 CPU-s (live)
                 60.0,  # reap propagation: total flat → +0
                 25.0,  # JVM vanished unreaped: total DROPS → ignore
                 30.0,  # main tree burns 5 more
                 30.0])  # final sample in total()
    monkeypatch.setattr(bench, "_tree_cpu_s", lambda: next(vals))
    s = bench._TreeCpuSampler.__new__(bench._TreeCpuSampler)
    s.acc = s._prev = bench._tree_cpu_s()
    import threading

    s._stop = threading.Event()
    s._stop.set()  # no background thread — drive samples by hand
    for _ in range(4):
        s._sample()
    assert s.total() == 10.0 + 50.0 + 0.0 + 0.0 + 5.0 + 0.0


def test_final_line_fits_2kb_with_huge_scaling_error():
    """A multi-KB scaling error (py4j trace) must not push the final stdout
    line past 2 KB: the fallback keeps dropping keys until it fits."""
    full = {
        "metric": "pipeline_e2e_sec", "value": 2.5, "unit": "sec",
        "queries": {f"q{i}": 1.0 for i in range(8)},
        "scaling": {"error": "Py4JJavaError: " + "x" * 10_000},
    }
    line = bench._final_line(full)
    assert len(line) <= 2048
    import json

    d = json.loads(line)
    assert (d["metric"], d["value"], d["unit"]) == ("pipeline_e2e_sec", 2.5, "sec")
    assert d["queries"] == full["queries"]  # only the oversized key went


def test_scaling_bench_terminates_probe_pools_on_error(monkeypatch):
    """An exception inside the scaling section must still terminate both
    probe pools (their workers each hold a faulted 256 MB buffer)."""
    import multiprocessing

    from loongcollector_spark import session

    pools = []

    class FakePool:
        def __init__(self, n):
            self.terminated = False
            pools.append(self)

        def map(self, fn, args):
            return [0.0] * len(args)

        def terminate(self):
            self.terminated = True

    def boom(*a, **k):
        raise RuntimeError("spark failed to start")

    monkeypatch.setattr(multiprocessing, "Pool", FakePool)
    monkeypatch.setattr(session, "get_spark", boom)
    with pytest.raises(RuntimeError, match="spark failed"):
        bench._scaling_bench("unused", cpus=8, n_rows=1)
    assert len(pools) == 2 and all(p.terminated for p in pools)


def test_scaling_bench_keeps_passes_when_worker_restart_fails(monkeypatch, tmp_path):
    """A fresh-JVM restart that fails must not discard the scaling section:
    the degraded level keeps its earlier result, the failure is recorded in
    that level's retry entry, and no further pass runs on the dead level."""
    import io
    import json
    import multiprocessing
    import subprocess

    from loongcollector_spark import session

    class FakePool:
        def __init__(self, n):
            pass

        def map(self, fn, args):
            return [0.0] * len(args)

        def terminate(self):
            pass

    class FakeSpark:
        sparkContext = type("SC", (), {"setLogLevel": lambda self, level: None})()

        def stop(self):
            pass

    class FakeWorker:
        """A READY worker whose every run reports the same wall and CPU."""

        def __init__(self, wall, cpu):
            run = json.dumps({"wall": wall, "cpu": cpu, "ext_cpu": 0.0, "steal_cpu": 0.0})
            self.stdout = io.StringIO("READY\n" + f"{run}\n" * 10)
            self.stdin = io.StringIO()

        def poll(self):
            return 0

        def wait(self, timeout=None):
            return 0

    # cpus=8 runs levels 2 and 8; level 8 burns 3x level 2's CPU-seconds, so
    # it fails the CPU gate through both in-place re-runs and gets restarted
    started = []

    def fake_popen(cmd, **kw):
        n = int(cmd[cmd.index("--cpus") + 1])
        if n in started:
            raise OSError("fresh worker failed to start")
        started.append(n)
        return FakeWorker(*{2: (4.0, 10.0), 8: (1.2, 30.0)}[n])

    monkeypatch.setattr(multiprocessing, "Pool", FakePool)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: FakeSpark())
    monkeypatch.setattr(subprocess, "Popen", fake_popen)
    monkeypatch.setattr(bench, "CACHE_ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "ensure_sequences_cache", lambda *a: str(tmp_path))
    monkeypatch.setattr(bench, "_budget_left", lambda: 1e6)
    monkeypatch.setattr(bench, "_ext_busy_cores", lambda *a: 0.0)
    monkeypatch.setenv("SPARK_GRAFT_SCALE_PASSES", "3")

    out = bench._scaling_bench("unused", cpus=8, n_rows=1)
    assert "error" not in out
    assert (out["sec_low"], out["sec_high"]) == (4.0, 1.2)
    assert len(out["passes"]) == 1  # the dead level stops later passes
    retry = out["passes"][0]["retry_8c"]
    assert len(retry) == 3 and retry[-1]["restarted_jvm"]
    assert retry[-1]["restart_error"] == "OSError: fresh worker failed to start"
