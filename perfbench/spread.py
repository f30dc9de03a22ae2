"""Run one workload over several seeds and print, per metric, the median,
the quartiles and the inter-quartile distance as a share of the median,
the spread the bounds in BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload steady_lag --seeds 1 2 3 4 5 --seconds 18
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import iqr_share

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "failed": result["failed"],
                          "run_s": round(time.time() - t, 1)}), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        if len(vs) >= 2:
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            print(f"{name:32s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"iqr/median {iqr_share(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
