"""The benchmark's own tests; each runs the benchmark as a user would, from
the root of a checkout:

    python3 -m pytest flagbench -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RAMP_TOLERANCE = 0.05  # the ramp after one warm pass was 30-40%


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "flagbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )


def _newest_record(workload: str, seed: int) -> dict:
    records = glob.glob(os.path.join(
        REPO, ".bench_cache", "flagbench", "records", f"{workload}-s{seed}-t0-*.json"))
    with open(max(records, key=os.path.getmtime)) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["docs_mixed", "tiles_cold"])
def test_warm_up_is_over_when_timing_starts(workload):
    """Three seeds, each with a timed window three times the benchmark's.
    Each timed pass's coords/s is divided by its run's median; pooled over
    the runs, the median of the second halves' values is within
    RAMP_TOLERANCE of the first halves'. A ramp still running shows as the
    second halves faster; pooling the passes of three runs keeps one run's
    weather from deciding. Every run is correct with no failed pass."""
    first, second = [], []
    for seed in (5, 6, 7):
        res = _run(REPO, "--workload", workload, "--seed", str(seed),
                   "--seconds", "30", "--trace", "0")
        assert res.returncode == 0, res.stderr[-3000:]
        out = json.loads(res.stdout.strip().splitlines()[-1])
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
        cps = [p["coords_per_s"] for p in _newest_record(workload, seed)["passes"]]
        mid = statistics.median(cps)
        half = len(cps) // 2
        first += [v / mid for v in cps[:half]]
        second += [v / mid for v in cps[-half:]]
    ramp = statistics.median(second) - statistics.median(first)
    assert abs(ramp) < RAMP_TOLERANCE, (ramp, first, second)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "flagbench"), tmp_path / "flagbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), "--workload", "docs_mixed", "--seed", "1",
               "--seconds", "16", "--trace", "0")
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
