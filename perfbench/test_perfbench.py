"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_traced_runs_repeat`` runs each workload of BENCHMARK.json twice
traced with one seed (about a minute per run): the storage call counts and
the job, stage and task counts must repeat exactly, and executor CPU time
within 10%. The other tests are quick.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

EXACT = (".calls", ".jobs", ".stages", ".tasks", ".success_ratio", "lake_files")
CPU_TOTALS = (
    "plans.executor_cpu_s",
    "pipeline.run_silver.executor_cpu_s",
    "pipeline.run_gold.executor_cpu_s",
)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail)["detail"], json.loads(result)


def test_layer_names_match_benchmark_json():
    import workloads

    assert [m["name"] for m in SPEC["per_layer"]] == workloads.layer_metric_names()
    units = workloads.layer_units()
    assert all(m["unit"] == units[m["name"]] for m in SPEC["per_layer"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = _run(SPEC["workloads"][0]["name"], 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_runs_repeat(workload):
    runs = [_result(_run(workload, 7, 1)) for _ in range(2)]
    (_, a), (_, b) = runs
    assert a["correct"] and b["correct"]
    assert list(a["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    va = {k: v["value"] for k, v in a["metrics"].items()}
    vb = {k: v["value"] for k, v in b["metrics"].items()}
    for name in va:
        if name.endswith(EXACT):
            assert va[name] == vb[name], name
    for name in CPU_TOTALS:
        assert abs(va[name] - vb[name]) <= 0.1 * max(va[name], vb[name]), name
    # the untraced run of the same seed prints the end-to-end metrics; its
    # unit wall against the traced one is the tracing overhead
    detail, plain = _result(_run(workload, 7, 0))
    assert plain["correct"]
    assert list(plain["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    traced_wall = runs[0][0]["unit_wall_s"][0]
    print(f"{workload}: tracing overhead {traced_wall - detail['unit_wall_s'][0]:+.3f} s "
          f"on a {detail['unit_wall_s'][0]:.3f} s unit")
