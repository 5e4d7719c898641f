#!/usr/bin/env python3
"""Run a workload on several seeds and report how steady each metric is.

Usage (from the repository root):
  python3 perfbench/spread.py --workload orion_roundtrip --runs 10 [--first-seed 1]

For each end-to-end metric this prints the median of the runs and the
distance between the first and third quartile as a share of the median, the
figure BENCHMARK.json's `bound` is compared with (except for setup_s, whose
bound applies to the drift of its median only).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        result = json.loads(p.stdout.rstrip("\n").split("\n")[-1])
        if not result["correct"] or p.returncode != 0:
            sys.exit(f"seed {seed}: run failed or incorrect: {result}")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{n}={m['value']:.4g}"
                                            for n, m in result["metrics"].items()), flush=True)
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{args.workload} {name:<18} median {med:.4g}  spread {spread:.3f}  "
              f"bound {bounds.get(name)}  {'OK' if spread < bounds.get(name, 1) / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
