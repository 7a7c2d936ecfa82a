"""Smoke test of the benchmark: every workload on two seeds, all checks.

    python3 -m pytest perfbench/test_smoke.py -q     # from the repo root

Runs ``run.py --smoke`` (smoke-size inputs, one timed operation per
run, the second seed traced) and asserts that every output check passed
and that the untraced and traced runs report exactly the metrics
``BENCHMARK.json`` declares. Takes a few minutes: each run pays a Spark
warm-up.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 3


def test_smoke_every_workload_two_seeds():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke", "--seed", str(SEED)],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, lines[:-1]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = {w["name"] for w in spec["workloads"]}
    reports = [json.loads(line) for line in lines[:-1] if line.startswith("{")]
    assert {(r["workload"], r["seed"]) for r in reports} == {
        (w, s) for w in workloads for s in (SEED, SEED + 1)
    }
    for r in reports:
        assert r["problems"] == [], r
        traced = r["seed"] != SEED
        want = spec["per_layer" if traced else "end_to_end"]
        assert {k: v["unit"] for k, v in r["metrics"].items()} == {
            m["name"]: m["unit"] for m in want
        }
        assert all(isinstance(v["value"], float) for v in r["metrics"].values())
