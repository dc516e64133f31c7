#!/usr/bin/env python3
"""Compare the per-layer metrics of two traced runs, workload by workload.

    python3 perfbench/layer_diff.py <before> <after>

Each argument is a traced run's result file or a directory of them
(perfbench/.work/results keeps one per workload and seed, named
<workload>-trace1-seed<n>-result.json). With directories, runs of the same
workload are paired; when a workload has several seeds, each side is
summarised by the median over its runs. Prints, per workload, every
per-layer metric with both values and the change.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    """{workload: {metric: (median value, unit)}} from a file or a dir."""
    files = ([path] if os.path.isfile(path) else
             sorted(glob.glob(os.path.join(path, "*-trace1-*result.json"))))
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            runs.setdefault(r["workload"], []).append(r["per_layer"])
    out = {}
    for w, rs in runs.items():
        names = rs[0].keys()
        out[w] = {n: (statistics.median(x[n]["value"] for x in rs if n in x),
                      rs[0][n]["unit"]) for n in names}
    return out


def main(before, after):
    a, b = load(before), load(after)
    common = sorted(set(a) & set(b))
    if not common:
        print("no workload traced on both sides")
        return 1
    for w in common:
        print(f"== {w}")
        print(f"{'metric':32s} {'before':>14s} {'after':>14s} {'change':>9s}")
        for n, (va, unit) in a[w].items():
            if n not in b[w]:
                continue
            vb = b[w][n][0]
            ch = f"{(vb - va) / va * 100:+8.1f}%" if va else (
                "        =" if vb == va else "      new")
            print(f"{n:32s} {va:14.4f} {vb:14.4f} {ch} {unit}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
