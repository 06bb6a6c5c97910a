"""Smoke test of the benchmark itself: each workload for two operations
on tiny inputs, traced and untraced, must print every metric that
BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q

(about three minutes on 4 cores; each case starts its own Spark JVM).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.tracing import Span, parse_metric, self_times

ROOT = Path(__file__).resolve().parent.parent
MANIFEST = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in MANIFEST["workloads"]]


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["attempted"] >= 2
    expected = MANIFEST["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "a", 0, None, 0.0, 10.0),
        Span(1, "b", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 3.0, 5.0),  # overlaps its sibling
        Span(3, "c", 0, 1, 2.0, 3.0),
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}


def test_parse_metric_reads_the_total():
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.5 s (1.1 s, 1.1 s)") == 4.5
    assert parse_metric("total (min, med, max)\n565 ms (1 ms, 2 ms)") == pytest.approx(0.565)
    assert parse_metric("total (min, med, max)\n1.5 GiB (1 B, 2 B)") == 1536.0
