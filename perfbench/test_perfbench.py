"""Self-tests for the benchmark (about two minutes):

    python -m pytest perfbench/test_perfbench.py -q

- a short traced run of each workload, at full input sizes, prints a
  correct result with every per-layer metric and leaves the checkout as it
  was, ignored files included, apart from its spans in ``.perfbench_out/``;
- in a directory holding only the benchmark, it fails without a result.
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

from metrics import PER_LAYER  # noqa: E402


def _run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _git_status() -> set[str]:
    """Changed, untracked and ignored paths, except the spans directory and
    Python's bytecode caches."""
    out = subprocess.run(
        ["git", "status", "--porcelain", "--ignored"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return {
        line for line in out.splitlines()
        if line != "!! .perfbench_out/" and not line.endswith("__pycache__/")
    }


@pytest.mark.parametrize("workload", ["stream_paced", "batch_headline"])
def test_short_run_is_hermetic_and_correct(workload):
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        pytest.skip("not a git checkout")
    before = _git_status()
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _git_status() == before
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in PER_LAYER}


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), "stream_paced")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
