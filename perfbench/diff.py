#!/usr/bin/env python3
"""Diffs two sets of traced runs, layer by layer and workload by workload.

    python3 perfbench/diff.py <base> <new>

Each argument is a traced report written by ``run.py --trace 1``
(``perfbench/out/trace-<workload>-seed<n>.json``) or a directory of them.
Reports of the same workload are combined by the median of each metric.
For every workload both sides ran, prints each per-layer metric with its
base value, the new value and the ratio new / base.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "trace-*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        r = json.load(open(f))
        runs.setdefault(r["workload"], []).append(r["metrics"])
    return {w: {k: (statistics.median(m[k]["value"] for m in ms), ms[0][k]["unit"])
                for k in ms[0]}
            for w, ms in runs.items()}, {w: len(ms) for w, ms in runs.items()}


def main(base_path, new_path):
    base, nb = load(base_path)
    new, nn = load(new_path)
    for w in sorted(set(base) & set(new)):
        print(f"\n{w}  (base: {nb[w]} run(s), new: {nn[w]} run(s))")
        print(f"  {'metric':32} {'unit':>6} {'base':>14} {'new':>14} {'new/base':>9}")
        for k, (b, unit) in base[w].items():
            if k not in new[w]:
                continue
            n = new[w][k][0]
            if b == 0 and n == 0:
                continue
            ratio = f"{n / b:9.3f}" if b else "      n/a"
            print(f"  {k:32} {unit:>6} {b:14.4f} {n:14.4f} {ratio}")
    for w in sorted(set(base) ^ set(new)):
        print(f"\n{w}: only in {'base' if w in base else 'new'}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
