#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with one seed and
print, per end-to-end metric, both readings and their difference.

Usage (from the repository root):

  python3 perfbench/overhead.py --workload NAME --seed N --seconds S [--size full|tiny]

The traced run reports its own end-to-end readings as `traced.<metric>`
among its per-layer metrics, so the two runs compare like for like.
"""
import argparse
import json
import subprocess
import sys


def run(opt, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", opt.workload, "--seed", str(opt.seed),
           "--seconds", str(opt.seconds), "--trace", str(trace), "--size", opt.size]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--size", default="full")
    opt = p.parse_args()
    plain, traced = run(opt, 0), run(opt, 1)
    print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, m in plain.items():
        a, b = m["value"], traced[f"traced.{name}"]["value"]
        share = f"{(b - a) / a:+.1%}" if a else "n/a"
        print(f"{name:24s} {a:12.2f} {b:12.2f} {share:>12s}  ({m['unit']})")


if __name__ == "__main__":
    main()
