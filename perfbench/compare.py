#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds the `<workload>-seed<n>-trace<t>.json` records that
`run.py` writes (`steady.py` collects one such directory per set). For
every workload and end-to-end metric of BENCHMARK.json it prints both
sides' medians and quartiles, the change's win share over pairs, and a
verdict:

  improved       the change wins at least 9/10 of the pairs (ties count for
                 neither side) and the medians differ by more than the
                 parent's own spread (the distance between its quartiles)
  worse          the change's median is worse than the parent's by more
                 than the metric's bound (a share of the parent's median)
  unresolved     the parent's spread is wider than the bound, and not every
                 change run is better than every parent run
  within bound   otherwise

Runs pair by seed when both sides ran the same seeds, else by order. The
command exits with code 1 when any metric is worse.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {seed: record}} of the untraced runs in a directory."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], {})[r["seed"]] = r
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, bound, lower_is_better):
    def better(a, b):
        return a < b if lower_is_better else a > b
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if better(c, p))
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = q3 - q1
    worse_by = (mc - mp) if lower_is_better else (mp - mc)
    share = wins / len(pairs) if pairs else 0.0
    if share >= 0.9 and -worse_by > spread:
        v = "improved"
    elif mp and worse_by > bound * abs(mp):
        v = "worse"
    elif mp and spread > bound * abs(mp) and not all(
            better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "within bound"
    return v, share


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    regressions = 0
    fmt = "{:<20} {:<14} {:>12} {:>23} {:>12} {:>23} {:>6}  {}"
    print(fmt.format("workload", "metric", "parent med", "parent q1..q3",
                     "change med", "change q1..q3", "wins", "verdict"))
    for wl in sorted(set(a) | set(b)):
        if wl not in a or wl not in b:
            print(f"{wl}: only in one set, not compared")
            continue
        seeds = sorted(set(a[wl]) & set(b[wl]))
        if len(seeds) >= 2:
            pa, pb = [a[wl][s] for s in seeds], [b[wl][s] for s in seeds]
        else:
            pa, pb = list(a[wl].values()), list(b[wl].values())
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in pa if m["name"] in r["metrics"]]
            ys = [r["metrics"][m["name"]]["value"] for r in pb if m["name"] in r["metrics"]]
            if not xs or not ys:
                continue
            v, share = verdict(xs, ys, m["bound"], m["better"] == "lower")
            regressions += v == "worse"
            qa, qb = quartiles(xs), quartiles(ys)
            print(fmt.format(wl, m["name"], f"{statistics.median(xs):.4g}",
                             f"{qa[0]:.4g}..{qa[1]:.4g}", f"{statistics.median(ys):.4g}",
                             f"{qb[0]:.4g}..{qb[1]:.4g}", f"{share:.2f}",
                             f"{v} ({len(xs)} vs {len(ys)} runs, {m['unit']})"))
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
