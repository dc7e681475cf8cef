"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The two smoke runs start Spark at sf0.001 and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench.trace import RECONCILE_TOL, parse_metric, reconcile, sql_layers  # noqa: E402
from perfbench.workloads import WORKLOADS, Schedule, Workload  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench_run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench_run.PER_LAYER_UNITS


def test_seed_changes_query_order_and_nothing_else():
    # Each benchmark workload runs one query, so the permutation itself
    # is checked on a three-query workload as well.
    three = Workload("three", ("q_a", "q_b", "q_c"), "")
    for workload in (*WORKLOADS.values(), three):
        orders = {}
        for seed in range(12):
            sched = Schedule(workload, seed)
            assert sched.cold_pass() == list(workload.queries)
            passes = [sched.next_pass() for _ in range(4)]
            for p in passes:
                assert sorted(p) == sorted(workload.queries)
            again = Schedule(workload, seed)
            assert [again.next_pass() for _ in range(4)] == passes
            orders[seed] = passes
        if len(workload.queries) > 1:
            assert len({json.dumps(p) for p in orders.values()}) > 1


def test_parse_metric_units():
    assert parse_metric("1.8 s") == 1800.0
    assert parse_metric("395.5 MiB") == 395.5 * 2**20
    assert parse_metric("12,950,000") == 12950000.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n191 ms (29 ms, 63 ms)") == 191.0
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1.1, 1.2, 1.2)") is None


def test_repeated_cached_subtree_counted_once():
    agg = {"nodeName": "HashAggregate", "metrics": [
        {"name": "time in aggregation build", "value": "total (min, med, max)\n191 ms (1 ms)"},
        {"name": "number of output rows", "value": "20"},
    ]}
    nodes = [
        {"nodeId": 1, **agg}, {"nodeId": 2, **agg},
        {"nodeId": 3, "nodeName": "Exchange", "metrics": []},
        {"nodeId": 4, "nodeName": "Scan parquet x", "metrics": [
            {"name": "number of output rows", "value": "40"}]},
    ]
    edges = [{"fromId": 1, "toId": 3}, {"fromId": 4, "toId": 1}]
    layers = sql_layers({"nodes": nodes, "edges": edges})
    assert layers["operators.agg_build_ms"] == 191.0
    assert layers["operators.partial_agg_rows_out"] == 20.0
    assert layers["operators.partial_agg_rows_in"] == 40.0


def test_reconcile_flags_missing_and_double_counting():
    full = {"session.jobs": 2, "session.stages": 3, "session.executor_run_ms": 900.0,
            "sources.scan_ms": 100.0, "sql_ms": 790.0}
    assert reconcile(full, 1000.0, 800.0, 4) <= RECONCILE_TOL
    assert reconcile({}, 1000.0, 800.0, 4) > RECONCILE_TOL
    assert reconcile({**full, "incomplete": 1}, 1000.0, 800.0, 4) == 1.0
    assert reconcile({**full, "session.stages": 1}, 1000.0, 800.0, 4) > RECONCILE_TOL
    assert reconcile({**full, "sql_ms": 400.0}, 1000.0, 800.0, 4) > RECONCILE_TOL
    assert reconcile({**full, "sql_ms": 1400.0}, 1000.0, 800.0, 4) > RECONCILE_TOL
    assert reconcile({**full, "sources.scan_ms": 1000.0}, 1000.0, 800.0, 4) > RECONCILE_TOL


def test_smoke_prints_every_end_to_end_metric():
    result = _result(_bench(
        "--workload", "pairs_graph", "--seed", "3", "--seconds", "1", "--trace", "0",
        "--sf", "sf0.001",
    ))
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == bench_run.END_TO_END_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_smoke_counts_an_injected_wrong_result():
    result = _result(_bench(
        "--workload", "vectors", "--seed", "3", "--seconds", "1", "--trace", "1",
        "--sf", "sf0.001", "--inject-wrong", "q_hyperplane_est",
    ))
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == bench_run.PER_LAYER_UNITS
    assert not result["correct"]
    assert result["failed"] > 0
    assert metrics["failed_frac"]["value"] > 0
    assert metrics["operators.python_rows"]["value"] > 0
    for name in ("session.executor_run_ms", "session.stages", "trace.sql_share"):
        assert metrics[name]["value"] > 0, name
    assert metrics["trace.reconcile_max_err"]["value"] <= RECONCILE_TOL


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    proc = _bench("--workload", "vectors", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_queries_have_twins(name):
    from frauddetection_spark.plans.registry import load_all

    registry = load_all()
    for q in WORKLOADS[name].queries:
        assert registry[q].oracle, q
