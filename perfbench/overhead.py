#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed and print the traced end-to-end metrics minus the untraced ones.

    python3 perfbench/overhead.py --workload interactive --seed 1 [--seconds 5]

Run from the repository root. Both runs also leave their run records
under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="interactive")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", default="5")
    args = ap.parse_args()
    e2e = {}
    for trace in ("0", "1"):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", args.seconds, "--trace", trace]
        if subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL).returncode:
            print(f"run failed: {' '.join(cmd)}", file=sys.stderr)
            return 1
        path = os.path.join(ROOT, ".perfbench_out", f"run-{args.workload}-s{args.seed}-t{trace}.json")
        with open(path) as f:
            e2e[trace] = json.load(f)["e2e"]
    print(f"{'metric':16s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for k, v in e2e["0"].items():
        t = e2e["1"][k]
        print(f"{k:16s} {v:12.4f} {t:12.4f} {t - v:+12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
