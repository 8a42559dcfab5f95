#!/usr/bin/env python3
"""Steadiness check of the benchmark: run every workload of BENCHMARK.json
once per seed, then tabulate each end-to-end metric's spread.

    python3 perfbench/steady.py --set a --seeds 1-10
    python3 perfbench/steady.py --set b --seeds 11-20 --against a --table perfbench/STEADINESS.md

A set's records are kept in `perfbench/results/sets/<set>/`, where
`compare.py` can read them. The spread of a metric is the distance between
the first and third quartile of its values (`statistics.quantiles(n=4)`)
as a share of their median; the table marks it against a third of the
metric's bound. With --against, it also gives the drift of each median
from the other set's, as a share of that median, against the bound.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETS = os.path.join(BENCH, "results", "sets")


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(set_name):
    out = {}
    for f in sorted(glob.glob(os.path.join(SETS, set_name, "*-trace0.json"))):
        with open(f) as fh:
            r = json.load(fh)
        for m, v in r["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(m, []).append(v["value"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--against")
    ap.add_argument("--table")
    ap.add_argument("--skip-runs", action="store_true", help="only tabulate")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    dest = os.path.join(SETS, args.set)
    os.makedirs(dest, exist_ok=True)
    if not args.skip_runs:
        for seed in seeds_of(args.seeds):
            for w in spec["workloads"]:
                cmd = spec["command"] + ["--workload", w["name"], "--seed", str(seed),
                                         "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                last = r.stdout.strip().splitlines()[-1:] or [""]
                print(f"{w['name']} seed {seed}: exit {r.returncode} {last[0][:200]}", flush=True)
                src = os.path.join(BENCH, "results", f"{w['name']}-seed{seed}-trace0.json")
                if r.returncode == 0:
                    shutil.copy(src, dest)
    got = collect(args.set)
    ref = collect(args.against) if args.against else {}
    lines = [f"Set `{args.set}`: seeds {args.seeds}, run_seconds {spec['run_seconds']}"
             + (f", medians against set `{args.against}`" if args.against else "") + ".", "",
             "| workload | metric | unit | runs | median | q1 | q3 | spread | bound/3 | steady |"
             + (" drift | within bound |" if ref else ""),
             "|---|---|---|---|---|---|---|---|---|---|" + ("---|---|" if ref else "")]
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            xs = got.get(w["name"], {}).get(m["name"], [])
            if len(xs) < 2:
                lines.append(f"| {w['name']} | {m['name']} | {m['unit']} | {len(xs)} | – | – | – | – | – | no runs |")
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else 0.0
            steady = "n/a (set-up)" if m["name"] == "setup_s" else (
                "yes" if spread < m["bound"] / 3 else "NO")
            row = (f"| {w['name']} | {m['name']} | {m['unit']} | {len(xs)} | {med:.4g} | {q1:.4g} "
                   f"| {q3:.4g} | {spread:.3f} | {m['bound'] / 3:.3f} | {steady} |")
            ys = ref.get(w["name"], {}).get(m["name"], [])
            if ref and ys:
                mref = statistics.median(ys)
                worse = (med - mref) if m["better"] == "lower" else (mref - med)
                drift = worse / mref if mref else 0.0
                row += f" {drift:+.3f} | {'yes' if drift <= m['bound'] else 'NO'} |"
            lines.append(row)
    text = "\n".join(lines) + "\n"
    print(text)
    if args.table:
        with open(args.table, "a") as fh:
            fh.write("\n" + text)


if __name__ == "__main__":
    sys.exit(main())
