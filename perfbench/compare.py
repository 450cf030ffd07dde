#!/usr/bin/env python3
"""Compare two sets of benchmark results like-for-like.

Usage: python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory is searched recursively for result.json files (as written to
.bench_out/ by perfbench/run.py). Results are grouped by workload and trace
mode. A pair of groups is refused when their runs differ in cores (nproc or
cpus) or scale factor; comparing across machines or scales is meaningless.
For each metric the script prints both medians with quartiles and the change
as a share of the base median, marked against the bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    groups = {}
    for f in glob.glob(os.path.join(d, "**", "result.json"), recursive=True):
        r = json.load(open(f))
        s = r["stamp"]
        groups.setdefault((s["workload"], bool(s["trace"])), []).append(r)
    return groups


def shape(runs):
    return {(r["stamp"]["nproc"], r["stamp"]["cpus"], r["stamp"]["sf"]) for r in runs}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(base_dir, new_dir):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    base, new = load(base_dir), load(new_dir)
    refused = False
    for key in sorted(set(base) & set(new)):
        b, n = base[key], new[key]
        if len(shape(b)) != 1 or shape(b) != shape(n):
            print(f"REFUSED {key[0]} trace={key[1]}: runs differ in (nproc, cpus, sf): "
                  f"{sorted(shape(b))} vs {sorted(shape(n))}")
            refused = True
            continue
        print(f"== {key[0]} trace={int(key[1])}  {len(b)} base runs, {len(n)} new runs, "
              f"(nproc, cpus, sf) = {shape(b).pop()}")
        for m in b[0]["metrics"]:
            bv = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            nv = [r["metrics"][m]["value"] for r in n if m in r["metrics"]]
            if not bv or not nv:
                continue
            bq, nq = quart(bv), quart(nv)
            rel = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            mark = ""
            if m in bounds:
                bound, better = bounds[m]
                worse = rel > bound if better == "lower" else -rel > bound
                mark = "WORSE" if worse else "ok"
            print(f"  {m:28s} base {bq[1]:10.4f} [{bq[0]:.4f}, {bq[2]:.4f}]  "
                  f"new {nq[1]:10.4f} [{nq[0]:.4f}, {nq[2]:.4f}]  {rel:+.3f} {mark}")
    sys.exit(3 if refused else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
