"""The benchmark's own tests: a smoke run of each workload plus the pure
helpers.  The smoke runs start Spark, so the module takes a few minutes:

    python3 -m pytest perfbench/tests -q
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
sys.path.insert(0, BENCH)

import layers  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT, script: str | None = None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", "0", "--seconds", "1",
           "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=400)


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def traced(request):
    proc = _run(request.param, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return request.param, lines, json.loads(lines[-1])


def test_traced_run_prints_every_metric_with_its_unit(traced):
    workload, lines, result = traced
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(PER_LAYER)
    for name, (unit, _) in PER_LAYER.items():
        assert result["metrics"][name]["unit"] == unit
    for name, (unit, _) in END_TO_END.items():
        assert any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}")
                   for ln in lines), name
    assert any(ln.startswith("fail_frac ") and ln.endswith(" ratio")
               for ln in lines)
    for job in WORKLOADS[workload]["jobs"]:
        assert any(ln.startswith(f"job.{job}.s ") for ln in lines), job


def test_trace_finds_the_expected_layers(traced):
    workload, _, result = traced
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["exec.tasks"] > 0
    if workload == "bank_etl":
        assert m["pyworker.ms"] == 0
        assert m["streaming.batches"] == 0
        assert m["sinks.files_written"] > 0
    else:
        assert m["pyworker.ms"] > 0
        assert m["streaming.batches"] > 0 and m["streaming.queries"] > 0


def test_untraced_run_reports_end_to_end_metrics():
    proc = _run("bank_etl", 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == set(END_TO_END)
    for name, (unit, _) in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """Copied without the engine beside it, the benchmark must refuse."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("bank_etl", 0, cwd=str(tmp_path),
                script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_union_clips_and_merges_overlaps():
    got = layers._union_ms([(0, 10), (5, 20), (30, 40), (-5, 2)], 0, 35)
    assert got == 25


def test_self_time_subtracts_children():
    spans = layers.Spans()
    root = spans.add("job", 0, 100, None)
    spans.add("plans.build", 0, 30, root)
    child = spans.add("exec.materialize", 30, 100, root)
    spans.add("spark.job", 40, 90, child)
    spans.add("spark.job", 60, 95, child)
    self_s = spans.self_time_s()
    assert self_s["job"] == 0
    assert self_s["exec.materialize"] == pytest.approx(0.015)
    assert self_s["spark.job"] == pytest.approx(0.085)


def test_worker_timeout_grows_with_the_window():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    assert run.worker_timeout_s(60) - run.worker_timeout_s(9) >= 3 * 51
    # input preparation and reaping a killed worker fit in what is left
    assert run.worker_timeout_s(seconds) + 30 <= 180


def test_benchmark_json_matches_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} \
        == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == {k: unit for k, (unit, _) in PER_LAYER.items()}
