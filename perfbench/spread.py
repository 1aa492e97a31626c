"""Measure how much the end-to-end metrics spread between runs.

    python3 perfbench/spread.py WORKLOAD [--seeds 10] [--first-seed 1] [--seconds N]

Runs ``run.py --trace 0`` once per seed, one run at a time, and prints
one JSON line per run (its metrics and wall time), then one summary line:
per metric, the median and the quartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles. ``--seconds``
defaults to ``run_seconds`` from BENCHMARK.json. Exits 1 if a run fails
or reports an incorrect output.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        metrics = {k: m["value"] for k, m in result["metrics"].items()}
        print(json.dumps({"seed": seed, "correct": result["correct"], "wall_s": round(walls[-1], 1),
                          "metrics": metrics}), flush=True)
        if not result["correct"]:
            return 1
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": med, "spread": (q3 - q1) / med}
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "wall_s_total": round(sum(walls), 1), "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
