"""Check that the traced run's work counters repeat.

    python3 perfbench/repeat_check.py [--seed 1] [--seconds 4] [WORKLOAD ...]

Runs ``run.py --trace 1`` twice per workload with the same seed and
compares the counters that depend only on the program and its inputs:
per-query stages and shuffle bytes, tasks, jobs and stages per unit of
work, sink files and converted rows. Prints one JSON line per workload
listing the counters that differ and each run's tracing overhead;
exits 1 if a counter differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "sinks.files",
    "convert.rows",
    "convert.eur_passthrough",
    "drain.batches_per_publish",
)


def traced(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-2])["per_layer"]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workloads", nargs="*", default=["query_mix", "etl_cycles"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    args = p.parse_args()
    status = 0
    for w in args.workloads:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        keys = [k for k in a if k in COUNTERS or k.endswith((".stages", ".shuffle_bytes"))]
        differ = {k: [a[k], b[k]] for k in keys if a[k] != b[k]}
        status |= bool(differ)
        overhead = [a["trace.overhead_ratio"], b["trace.overhead_ratio"]]
        print(json.dumps({"workload": w, "compared": len(keys), "differ": differ,
                          "trace_overhead_ratio": overhead}))
    return status


if __name__ == "__main__":
    sys.exit(main())
