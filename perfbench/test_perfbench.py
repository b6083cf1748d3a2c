"""Self-test of the benchmark (about five minutes on four cores):

    python3 -m pytest perfbench/test_perfbench.py -q

Runs the benchmark end to end at the smallest fixture scale and checks that
the output parses, that every declared metric is emitted with its unit, that
exact counts repeat across passes, and that the layer wrappers see every
reader call.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

SEED = 7


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        return result, json.load(f)


def _check_result(result: dict, declared: list[dict]) -> dict[str, float]:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    return {k: m["value"] for k, m in result["metrics"].items()}


def test_declared_workloads_exist():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


def test_end_to_end_metrics():
    result, detail = _run("olap_tpch", 0)
    metrics = _check_result(result, BENCH["end_to_end"])
    assert all(v > 0 for v in metrics.values())
    assert detail["query_samples"] == detail["passes"] * len(WORKLOADS["olap_tpch"].queries)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run(workload):
    result, detail = _run(workload, 1)
    m = _check_result(result, BENCH["per_layer"])
    per_pass = detail["per_pass"]
    assert len(per_pass) >= 2
    for key in ("queries.build_jobs", "readers.schema_jobs", "plan.exchanges", "readers.load_calls"):
        assert len({p[key] for p in per_pass}) == 1, key
    # the wrappers see every load_table call however it was bound: the count
    # matches the one a profile hook made in the gate
    assert per_pass[0]["readers.load_calls"] == sum(detail["profiled_load_calls"].values())
    # q79's fit is lazy (its jobs run in the execute phase), so ml.fit_jobs is 0
    layered = ("writers.calls", "ml.fit_s", "functions.py_udf_nodes", "joins.knn_jobs")
    if workload == "reference_pipeline":
        assert all(m[k] > 0 for k in layered)
    else:
        assert all(m[k] == 0 for k in m if k.startswith(("writers.", "ml.")) or k == "functions.py_udf_nodes")
