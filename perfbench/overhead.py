#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same seed
and print, for each end-to-end metric, the traced minus the untraced value.

    python3 perfbench/overhead.py --workload export|live [--seed N]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metrics(workload: str, seed: int, trace: int) -> dict[str, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", "30", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True).stdout
    return {k: v["value"] for k, v in json.loads(out.strip().splitlines()[-1])["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("export", "live"))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    plain = _metrics(args.workload, args.seed, 0)
    traced = _metrics(args.workload, args.seed, 1)
    for name, value in plain.items():
        t = traced[f"traced.{name}"]
        print(f"{name:24s} untraced {value:12.3f}  traced {t:12.3f}  "
              f"overhead {t - value:+12.3f} ({(t - value) / value:+.1%})")


if __name__ == "__main__":
    main()
