#!/usr/bin/env python3
"""Steadiness check: runs one workload under several seeds and prints, per
end-to-end metric, the median and the spread (inter-quartile range over the
median, from statistics.quantiles(values, n=4)).

    python3 perfbench/steady.py --workload query_mix --runs 10 [--seconds 12]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import summary  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", "0"], cwd=os.path.dirname(HERE),
            stdout=subprocess.PIPE, text=True, check=True).stdout
        last = json.loads(out.strip().splitlines()[-1])
        if not last["correct"] or last["failed"]:
            print("seed %d: correct=%s failed=%d" % (seed, last["correct"],
                                                     last["failed"]))
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("seed %d: %s" % (seed, json.dumps(
            {k: round(m["value"], 3) for k, m in last["metrics"].items()})),
            flush=True)
    for k, vs in values.items():
        print("%-16s median %12.3f  spread %.4f" % (
            k, summary.median(vs), summary.spread(vs)))


if __name__ == "__main__":
    main()
