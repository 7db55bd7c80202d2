"""End-to-end smoke run of every workload at the tiny size (``--seconds 1``).

Each run is a subprocess exactly as the benchmark is invoked; the test
checks that every oracle passes and that the printed metrics are exactly
the ones BENCHMARK.json names, each with its unit. Takes a few minutes.

    python3 -m pytest -q perfbench/tests
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd, *args, timeout=300):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


#: the workloads of BENCHMARK.json plus the two that summary.py runs on
#: request: clips_window_1c, the one-core leg of scaling_eff_1to4, and
#: audio_dedup
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["clips_window_1c", "audio_dedup"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, exit non-zero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", "clips_window", "--seed", "1", "--seconds", "1", "--trace", "0", timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
