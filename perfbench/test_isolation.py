"""A benchmark run must leave bench.py's drift anchors and the checkout
as it found them.

    python3 -m pytest perfbench/test_isolation.py -q

Runs one short untraced workload (about a minute) in a subprocess.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def test_run_leaves_bench_minima_and_checkout_unchanged():
    minima = bench._committed_minima(0.1)
    bench_files = sorted(glob.glob(os.path.join(ROOT, "BENCH_*.json")))
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload",
            "stream_replay",
            "--seed",
            "7",
            "--seconds",
            "1",
            "--trace",
            "0",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"], proc.stdout[-2000:]
    assert bench._committed_minima(0.1) == minima
    assert sorted(glob.glob(os.path.join(ROOT, "BENCH_*.json"))) == bench_files
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
    with open(os.path.join(ROOT, ".perfbench_out", "stream_replay_seed7_trace0.json")) as f:
        result = json.load(f)
    assert result["seed"] == 7
    assert result["nproc"] >= 1
    assert len(result["loadavg_before"]) == len(result["loadavg_after"]) == 3
