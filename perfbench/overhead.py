#!/usr/bin/env python3
"""Tracing overhead: traced wall_s / untraced wall_s, median over pairs.

    python3 perfbench/overhead.py --workload <name> --seeds 101 102 103 \
        [--seconds 16]

Run from the repository root. For each seed it runs the benchmark untraced
and then traced, alternating, so slow drift of the host falls on both
halves of a pair alike, and prints each pair's ratio and their median as
one JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def wall_s(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True, timeout=600).stdout
    record, result = (json.loads(line) for line in out.splitlines()[-2:])
    if not result["correct"]:
        sys.exit(f"seed {seed} trace {trace}: wrong output")
    return record["end_to_end"]["wall_s"]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=16)
    a = ap.parse_args()
    ratios = {}
    for seed in a.seeds:
        plain = wall_s(a.workload, seed, a.seconds, 0)
        ratios[seed] = wall_s(a.workload, seed, a.seconds, 1) / plain
    print(json.dumps({"workload": a.workload, "seconds": a.seconds, "ratios": ratios,
                      "tracing_overhead": statistics.median(ratios.values())}))


if __name__ == "__main__":
    main()
