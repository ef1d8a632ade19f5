"""Check that the per-layer counts repeat exactly across two traced runs.

Run from the repository root:

    python3 perfbench/repeat_counts.py --workload gates --seed 1 --seconds 22

It runs ``run.py --trace 1`` twice with the same seed and prints every
count metric with both values; the exit code is 1 if any differ.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "1",
        ],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS, required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, default=22)
    args = parser.parse_args()
    first, second = (traced_run(args.workload, args.seed, args.seconds) for _ in range(2))
    differ = 0
    for name, (unit, _how) in PER_LAYER.items():
        if unit != "count":
            continue
        a, b = first[name]["value"], second[name]["value"]
        differ += a != b
        print(f"{'same' if a == b else 'DIFF'} {name} {a:g} {b:g}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
