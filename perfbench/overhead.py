"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload interactive_sql --seed 1 --seconds 12

Prints, per end-to-end metric, the untraced value, the value the traced
run measured with its spans installed, and the relative difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(args, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600
    )
    if proc.returncode != 0:
        sys.exit(f"run failed ({proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-2])["perfbench"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = run_once(args, 0)["metrics"]
    traced = run_once(args, 1)["traced_end_to_end"]
    report = {
        name: {
            "untraced": m["value"],
            "traced": traced[name]["value"],
            "overhead": traced[name]["value"] / m["value"] - 1.0,
            "unit": m["unit"],
        }
        for name, m in plain.items()
    }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
