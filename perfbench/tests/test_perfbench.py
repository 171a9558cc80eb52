"""Tests of the benchmark itself (not part of the program's suite).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark: each workload runs twice at sf0.001 as a
subprocess, so the module takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import analytics, datagen, etl, eventlog, run, serve  # noqa: E402


def bench(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--sf", "0.001", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_with_planted_fault(workload):
    """Untraced tiny run: every end-to-end metric with its unit; one
    planted wrong answer shows up as a failed operation."""
    r = result(bench(workload, "--trace", "0", "--plant-faults", "1"))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.END_TO_END
    assert r["attempted"] >= 1 and r["failed"] >= 1 and r["correct"] is False
    assert r["metrics"]["ok_ratio"]["value"] < 1.0
    for name in ("setup_s", "op_p50_ms", "wall_s", "peak_mem_mb"):
        assert r["metrics"][name]["value"] > 0


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced(workload):
    """Traced tiny run: correct, and every per-layer metric with its unit."""
    proc = bench(workload, "--trace", "1")
    r = result(proc)
    assert r["correct"] is True and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.per_layer_units()
    assert r["metrics"]["spark.jobs_per_op"]["value"] > 0
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    assert detail["cpus_effective"] == detail["nproc"]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("serve", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == run.per_layer_units()


def _take(stream, n):
    return [next(stream) for _ in range(n)]


def test_request_stream_is_seeded():
    a = _take(serve.request_stream(1), 60)
    assert a == _take(serve.request_stream(1), 60)
    assert a != _take(serve.request_stream(2), 60)
    assert [r["kind"] for r in a[:5]] == ["find"] * 4 + ["agg"]
    repeats = sum(1 for i, r in enumerate(a) if r in a[:i])
    assert 0.3 < repeats / len(a) < 0.7


def test_batch_stream_is_seeded():
    def batch(seed, index):
        return etl.batch_table(seed, index, n_rows=1500, n_batch=15, n_cust=150)

    assert batch(1, 0).equals(batch(1, 0))
    assert not batch(1, 0).equals(batch(2, 0))
    assert not batch(1, 0).equals(batch(1, 1))
    keys = batch(1, 2).column("o_orderkey").to_pylist()
    assert len(set(keys)) == 15
    assert sum(k >= 1500 + 2 * 2 for k in keys) == 2      # the new keys


def _digest(directory):
    return {f: hashlib.sha256(open(os.path.join(directory, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(directory))}


def test_tables_are_seeded(tmp_path):
    names = analytics.TABLES
    datagen.write_tables(str(tmp_path / "a"), 1, 0.001, names)
    datagen.write_tables(str(tmp_path / "b"), 1, 0.001, names)
    datagen.write_tables(str(tmp_path / "c"), 2, 0.001, names)
    a, b, c = (_digest(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_event_log_parser(tmp_path):
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7},
        {"name": "data sent to Python workers", "accumulatorId": 8}], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op:0:fetch"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 5}, {"ID": 8, "Update": 100},
                                        {"ID": 9, "Update": 1}]},
         "Task Metrics": {"Executor Run Time": 12,
                          "Input Metrics": {"Records Read": 3},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.parse(str(path))
    g = eventlog.total(groups, "op:")
    assert (g.jobs, g.stages, g.tasks, g.task_ms, g.input_rows) == (1, 1, 1, 12, 3)
    assert (g.shuffle_write_bytes, g.python_rows, g.python_bytes) == (40, 5, 100)
    assert groups[""].jobs == 1


def test_gc_log_parser(tmp_path):
    from perfbench.harness import _peak_heap_after_gc_mb

    path = tmp_path / "gc.log"
    path.write_text(
        "[0.1s][info][gc] Using G1\n"
        "[1.0s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 24M->4M(256M) 3ms\n"
        "[2.0s][info][gc] GC(1) Pause Remark 900M->900M(1024M) 2ms\n"
        "[3.0s][info][gc] GC(2) Pause Young (Mixed) (G1 Evacuation Pause) 1G->612M(1G) 9ms\n"
        "[4.0s][info][gc] GC(3) Concurrent Mark Cycle 20ms\n")
    assert _peak_heap_after_gc_mb(str(path)) == 612.0
    assert _peak_heap_after_gc_mb(str(tmp_path / "missing.log")) == 0.0
