"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload NAME [--runs 10] [--seed0 1]
        [--seconds S] [--trace 0|1]

Run from the root of a checkout. Each run is one invocation of
``perfbench/run.py`` with its own seed. For every metric it prints the
median of the runs and the spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) divided by the
median. Progress goes to standard error; the last line of standard
output is the JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.seed0, args.seed0 + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect result {result}", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              file=sys.stderr)

    summary = {"workload": args.workload, "runs": args.runs, "seed0": args.seed0,
               "trace": args.trace, "run_wall_s_max": max(walls), "metrics": {}}
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        summary["metrics"][name] = {
            "median": med,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": vs,
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
