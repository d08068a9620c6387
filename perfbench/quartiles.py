#!/usr/bin/env python3
"""Runs one workload over several seeds and prints, per metric, the median,
the quartiles and the spread (interquartile distance over the median).

    python3 perfbench/quartiles.py --workload join_batch --seeds 1-10 [--trace 1]

Each seed is one `perfbench/run.py` run (a fresh JVM), so the quartiles
cover both input variation and run-to-run noise. Exits non-zero if any run
fails its checks.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    runs = []
    for s in seeds(args.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(s), "--seconds", str(args.seconds),
                              "--trace", str(args.trace)],
                             stdout=subprocess.PIPE, text=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d correct=%s %s" % (s, result["correct"], json.dumps(
            {k: round(v["value"], 4) for k, v in result["metrics"].items()})), flush=True)
        runs.append(result)

    print("%-30s %12s %12s %12s %8s" % ("metric", "median", "q1", "q3", "spread"))
    for name, first in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print("%-30s %12.4f %12.4f %12.4f %8.3f  %s" % (name, med, q1, q3, spread, first["unit"]))
    sys.exit(0 if all(r["correct"] for r in runs) else 1)


if __name__ == "__main__":
    main()
