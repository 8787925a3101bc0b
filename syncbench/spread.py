#!/usr/bin/env python3
"""Run one workload on several seeds and print each metric's median and
quartile spread (IQR / median), the steadiness test BENCHMARK.json's bounds
are set against.

    python3 syncbench/spread.py sync_bulk 1 2 3 4 5 6 7 8 9 10 [--trace 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    values = {}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        print("seed %d: correct=%s attempted=%s failed=%s" % (
            seed, result.get("correct"), result.get("attempted"), result.get("failed")), flush=True)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-34s median %14.4f  spread %.3f  n=%d" % (name, med, spread, len(vs)))


if __name__ == "__main__":
    main()
