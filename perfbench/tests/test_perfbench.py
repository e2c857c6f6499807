"""Self-test of the benchmark at toy size (a few minutes):

    python3 -m pytest perfbench/tests -q

Each test runs the benchmark command as the benchmark's own contract
describes it, in a throw-away checkout under pytest's temp dir that holds
the benchmark's files and links to the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _checkout(tmp_path, with_engine: bool = True) -> str:
    """A checkout-like directory: BENCHMARK.json, the benchmark's files,
    and (optionally) links to the engine package and the parity tool."""
    root = tmp_path / "checkout"
    bench = root / "perfbench"
    bench.mkdir(parents=True)
    for name in os.listdir(BENCH_DIR):
        if name.endswith((".py", ".json")):
            shutil.copy(os.path.join(BENCH_DIR, name), bench / name)
    (bench / "data").symlink_to(os.path.join(BENCH_DIR, "data"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root / "BENCHMARK.json")
    if with_engine:
        for name in ("bigdata_electricity_spark", "tools"):
            (root / name).symlink_to(os.path.join(ROOT, name))
    return str(root)


def _run(root: str, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=root, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.splitlines()


def _check_metrics(lines: list[str], specs: list[dict]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        assert any(line.startswith(f"# {m['name']} = ") and line.endswith(f" {m['unit']}")
                   for line in lines), f"{m['name']} not in the report"
    return result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed_with_its_unit(tmp_path, workload):
    code, lines = _run(_checkout(tmp_path), workload, trace=0)
    assert code == 0, lines[-20:]
    result = _check_metrics(lines, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0, lines
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    report = "\n".join(lines)
    for name in ("op_s_p90", "failed_ratio"):
        assert f"# {name}: " in report
    assert ("# rows_per_s: " in report) == (workload == "household_pipeline")


def test_every_per_layer_metric_is_printed_when_traced(tmp_path):
    code, lines = _run(_checkout(tmp_path), "registry_queries", trace=1)
    assert code == 0, lines[-20:]
    result = _check_metrics(lines, SPEC["per_layer"])
    assert result["correct"], lines
    assert result["metrics"]["plans.eager_jobs"]["value"] >= 1


def test_a_corrupted_expected_digest_is_a_counted_failure(tmp_path):
    root = _checkout(tmp_path)
    path = os.path.join(root, "perfbench", "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    rows, digest = expected["toy"]["sim_topk_arrow"]
    expected["toy"]["sim_topk_arrow"] = [rows, "0" * len(digest)]
    with open(path, "w") as fh:
        json.dump(expected, fh)

    code, lines = _run(root, "registry_queries", trace=0)
    assert code == 0, lines[-20:]
    result = json.loads(lines[-1])
    ops = [line for line in lines if line.startswith("# op ") and ": cold " in line]
    # a 1 s run is the cold pass plus one round; each runs every op once
    assert result["correct"] is False
    assert result["attempted"] == 2 * len(ops)
    assert result["failed"] == 2
    failures = [line for line in lines if line.startswith("# FAILED")]
    assert len(failures) == 2 and all("sim_topk_arrow" in f for f in failures)


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    root = _checkout(tmp_path, with_engine=False)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""
