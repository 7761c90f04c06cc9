"""Run every workload untraced and traced and print all metrics as a table,
with the tracing overhead (traced minus untraced end-to-end time).

    python3 perfbench/report.py [--seed 1] [--seconds 10]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"] | json.loads(lines[-1])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    for w in workloads:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        print(f"\n## {w}  (seed {args.seed}, failed_share {plain['failed_share']:.4f}, "
              f"attempted {plain['attempted']}, failed {plain['failed']})")
        for name, m in (plain["metrics"] | traced["metrics"]).items():
            print(f"{name:40s} {m['value']:14.4f} {m['unit']}")
        overhead = traced["metrics"]["traced.step_s_p50"]["value"] \
            - plain["metrics"]["step_s_p50"]["value"]
        print(f"{'tracing overhead (step_s_p50)':40s} {overhead:14.4f} s")


if __name__ == "__main__":
    main()
