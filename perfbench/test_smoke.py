"""Smoke test of the benchmark: every workload at minimum size, traced,
through the same code as a full run.  Takes about a minute.

Run from the repository root: python3 -m pytest perfbench -q
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_runs_every_workload():
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                           "--smoke"], cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    assert lines[-1] == {"smoke": "ok"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {w["name"] for w in json.load(f)["workloads"]}
    assert {line["smoke"] for line in lines[:-1]} == declared
    assert all(line["correct"] for line in lines[:-1])
