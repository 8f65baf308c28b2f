"""Smoke test of the benchmark at tiny scale.

    python3 perfbench/smoke_test.py            # or: python3 -m pytest perfbench/smoke_test.py

Runs every workload of BENCHMARK.json once untraced and once traced with
tiny fixtures and a one-second window, and checks that the output checks
pass and that the last stdout line names exactly the metrics BENCHMARK.json
lists, each with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.02"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_metric_printed_and_outputs_checked():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            out = _run(w["name"], trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            assert {n: m["unit"] for n, m in out["metrics"].items()} == {
                m["name"]: m["unit"] for m in wanted}, (w["name"], trace)
            if trace == 0:
                assert all(m["value"] > 0 for m in out["metrics"].values()), out
            print(f"ok {w['name']} trace={trace}", flush=True)


if __name__ == "__main__":
    test_every_metric_printed_and_outputs_checked()
