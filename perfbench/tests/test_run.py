"""End to end: a wrong expectation is a failed op, not a crashed run,
and a directory without the engine exits non-zero without a result."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_per_layer_metrics_match_the_declaration():
    assert _declared("per_layer") == layers.METRICS


def _run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", "etl",
           "--seed", "4", "--seconds", "1", "--trace", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_corrupted_expectation_counts_as_failed_op():
    p = _run(ROOT, "--corrupt-expectation")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["attempted"] >= 8  # a warm pass and a timed pass of four ops each
    assert "failed_frac" in p.stdout
    assert {k: m["unit"] for k, m in result["metrics"].items()} == _declared("end_to_end")
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
