"""Tiny-corpus smoke runs of every workload through the real command line.

Each run starts its own Spark JVM (about a minute each). Run from the
repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run, trace, workloads  # noqa: E402


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.DEFAULT_DOCS))
def test_traced_tiny_run(workload):
    out = result(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "1", "--docs", "400"))
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] == workloads.WORKLOADS[workload].min_ops + 1
    assert list(out["metrics"]) == [name for name, _ in trace.PER_LAYER]
    assert out["metrics"]["op.jobs"]["value"] > 0


def test_untraced_tiny_run_reports_every_end_to_end_metric():
    out = result(bench("--workload", "inmem_bulk", "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--docs", "400"))
    assert out["correct"] is True and out["attempted"] == workloads.InmemBulk.min_ops
    assert {k: v["unit"] for k, v in out["metrics"].items()} == dict(run.END_TO_END)
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_more_cores_than_the_host_has():
    proc = bench("--workload", "inmem_bulk", "--seconds", "1", "--cores", "100000")
    assert proc.returncode != 0 and "refused" in proc.stderr


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "inmem_bulk", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
