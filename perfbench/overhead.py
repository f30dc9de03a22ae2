"""Tracing overhead: run one workload and seed untraced and traced, and
print each end-to-end metric of both runs and their difference (the
traced run keeps its end-to-end figures in its report).

    python3 perfbench/overhead.py --workload bulk_drain --seed 1 --seconds 18
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT,
    )
    report = os.path.join(ROOT, ".bench_out", "reports",
                          f"{workload}-seed{seed}-trace{trace}.json")
    with open(report) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=18)
    args = ap.parse_args()
    off = run(args.workload, args.seed, args.seconds, 0)
    on = run(args.workload, args.seed, args.seconds, 1)
    print(f"{'metric':22s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for name, a in off["end_to_end"].items():
        b = on["end_to_end"][name]
        print(f"{name:22s} {a:12.4f} {b:12.4f} {b - a:+12.4f} ({(b - a) / a:+.1%})")
    print(f"trace.coverage {on['layers']['trace.coverage']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
