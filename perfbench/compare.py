#!/usr/bin/env python3
"""Compare two sets of stamped benchmark results (perfbench/.results/*.json).

Usage: python3 perfbench/compare.py BASE.json [BASE.json ...] --vs NEW.json [NEW.json ...]

Prints, per end-to-end metric, each side's median and quartiles and the
ratio of medians. Refuses to compare results of different workloads or of
different input fingerprints: the x10 input is made by graft.ScaleGen, which
is part of the program, so a change to it changes the input.
"""
import json
import statistics
import sys


def load(paths):
    return [json.load(open(p)) for p in paths]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv):
    if "--vs" not in argv:
        sys.exit(__doc__)
    i = argv.index("--vs")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        sys.exit(__doc__)
    keys = {(r["workload"], r["input"]["fingerprint"]) for r in base + new}
    if len(keys) != 1:
        sys.exit(f"refusing to compare: results span workloads/input fingerprints {sorted(keys)}")
    print(f"workload {base[0]['workload']}, input {base[0]['input']['fingerprint']}, "
          f"{len(base)} vs {len(new)} runs")
    for m in base[0]["end_to_end"]:
        b = [r["end_to_end"][m] for r in base]
        n = [r["end_to_end"][m] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        ratio = mn / mb if mb else float("nan")
        print(f"{m:14s} base {mb:.4g} [{quartiles(b)[0]:.4g}, {quartiles(b)[1]:.4g}]  "
              f"new {mn:.4g} [{quartiles(n)[0]:.4g}, {quartiles(n)[1]:.4g}]  new/base {ratio:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
