"""Tracing overhead: one untraced and one traced run on the same seed.

    python3 perfbench/overhead.py --workload search_longlist --seed 1 [--seconds 10]

Prints each end-to-end metric untraced, traced, and traced minus untraced.
A single pair carries the host's run-to-run noise; repeat over seeds
before reading a small difference as overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PREFIX = "traced end-to-end: "


def run(workload: str, seed: int, seconds: float, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    return out.stdout.strip().splitlines()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    a = p.parse_args()
    plain = {k: m["value"] for k, m in
             json.loads(run(a.workload, a.seed, a.seconds, 0)[-1])["metrics"].items()}
    traced = json.loads(next(line[len(PREFIX):] for line in run(a.workload, a.seed, a.seconds, 1)
                             if line.startswith(PREFIX)))
    print(f"{'metric':<28} {'untraced':>12} {'traced':>12} {'overhead':>12}")
    for k, v in plain.items():
        print(f"{k:<28} {v:>12.4g} {traced[k]:>12.4g} {traced[k] - v:>+12.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
