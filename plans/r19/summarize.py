"""Summarize the durable-tier A/B of `Probe time` runs in this directory:
per query and side, the median and min of build+exec over all warm runs,
the median and min of the cold runs, and the pairs in which the durable
side's per-JVM warm median was lower.

Usage: python3 plans/r19/summarize.py
"""
import glob, os, re, statistics as st, collections
HERE = os.path.dirname(os.path.abspath(__file__))
rows = collections.defaultdict(list)   # (side, q) -> [(pair, run, total, build, plan, exec, jobs)]
for f in sorted(glob.glob(f"{HERE}/probe_time_sf0.1_pair*_durable_*.txt")):
    m = re.search(r"pair(\d+)_durable_(\w+)\.txt", f); pair, side = int(m.group(1)), m.group(2)
    for line in open(f):
        p = line.split()
        if len(p) == 8 and (p[1] == "cold" or p[1].startswith("warm")):
            b, pl, e = float(p[2]), float(p[3]), float(p[4])
            rows[(side, p[0])].append((pair, p[1], b + e, b, pl, e, int(p[5])))
qs = sorted({q for _, q in rows}, key=lambda q: int(q[1:].split("_")[0]))
print("| query | durable on: warm median (min) | cold median (min) | warm jobs | durable off: warm median (min) | cold median (min) | warm jobs | on faster (pairs, JVM warm median) |")
print("|---|---|---|---|---|---|---|---|")
for q in qs:
    out = [q]
    med = {}
    for side in ["true", "false"]:
        r = rows[(side, q)]
        warm = [x[2] for x in r if x[1] != "cold"]
        cold = [x[2] for x in r if x[1] == "cold"]
        jobs = st.median([x[6] for x in r if x[1] != "cold"])
        out += [f"{st.median(warm):.3f} ({min(warm):.3f})", f"{st.median(cold):.3f} ({min(cold):.3f})", f"{jobs:g}"]
        med[side] = {p: st.median([x[2] for x in r if x[0] == p and x[1] != "cold"]) for p in {x[0] for x in r}}
    pairs = sorted(set(med["true"]) & set(med["false"]))
    wins = sum(med["true"][p] < med["false"][p] for p in pairs)
    out.append(f"{wins}/{len(pairs)}")
    print("| " + " | ".join(out) + " |")
n = {side: len(glob.glob(f"{HERE}/probe_time_sf0.1_pair*_durable_{side}.txt")) for side in ["true", "false"]}
print("JVMs per side:", n)
