"""Run one workload over several seeds and report each metric's median and
spread (interquartile range over the median).

    python3 perfbench/spread.py --workload savepoint_scan --seeds 1-10 [--trace 0]

Runs are sequential, one at a time, with BENCHMARK.json's ``run_seconds``.
Each run's result line is appended to ``.perfbench_out/spread-<workload>.jsonl``
at the repository root, and the summary is written to
``.perfbench_out/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_out", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(args.trace)]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {"workload": args.workload, "trace": args.trace, "seeds": args.seeds,
               "run_seconds": spec["run_seconds"], "wall_s": walls, "metrics": {}}
    print(f"{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        note = f"  bound {bound}  spread/bound {spread / bound:.2f}" if bound else ""
        print(f"  {name:40s} median {med:12.6g}  spread {spread:7.4f}{note}")
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                    "values": vals}
    with open(os.path.join(ROOT, ".perfbench_out", f"spread-{args.workload}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
