"""Tiny-scale runs of every workload through the benchmark's command, in
both modes, checking the result line against BENCHMARK.json. Each run
starts its own Spark session (about a minute each)."""

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_result_line(workload, trace):
    code, lines = _run(ROOT, workload, trace)
    result = json.loads(lines[-1])
    assert code == 0 and result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_per_layer_list_is_the_emitted_set():
    """BENCHMARK.json's per_layer list is the one run.py generates."""
    from kgbench.run import per_layer_spec

    assert SPEC["per_layer"] == per_layer_spec()


def test_fails_without_the_library(tmp_path):
    """A directory holding only the benchmark exits non-zero, printing no
    result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
