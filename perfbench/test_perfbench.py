"""The benchmark's own test: every workload at toy size, with its
checks, plus the refusal to run without the program under test.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from run import WORKLOAD_NAMES  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    key = "per_layer" if trace == "1" else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in spec[key]}
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "doc_curation", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_rank_errors():
    from common import rank_errors

    cum = np.cumsum(np.bincount([1, 2, 2, 3, 4, 4, 4, 5]))
    got = rank_errors(cum, [0.5, 0.5, 0.5, 0.1], [3, 3.5, 2.5, 0.5])
    assert np.allclose(got, [0.0, 0.0, 0.125, 0.1])
    assert np.allclose(rank_errors(cum, [0.5], [2.5], snap=True), [0.0])


def test_steal_clock():
    from common import StealClock

    with StealClock() as clock:
        t = time.perf_counter()
        while time.perf_counter() - t < 0.3:
            pass
    assert clock.wall >= 0.3
    assert 0.0 <= clock.steal_share < 1.0
    assert clock.seconds == pytest.approx(clock.wall * (1.0 - clock.steal_share))
