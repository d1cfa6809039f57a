#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or traced against untraced runs.

    python3 perfbench/compare.py BASE CHANGE
    python3 perfbench/compare.py --overhead RUNS

BASE, CHANGE and RUNS are directories of run records (run.py writes one
per run to .bench_build/perfbench/records) or record files. For every
workload and end-to-end metric, the first form prints each side's median
and quartiles, the number of pairs the change wins (runs paired by seed,
else in run order), the change's median as a ratio of the base median,
and a verdict against the metric's bound in BENCHMARK.json:

  regressed   the change's median is worse than the base median by more
              than the bound
  improved    the change wins at least nine pairs in ten and the medians
              differ by more than the base's quartile spread
  unresolved  the base's quartile spread is wider than the bound and not
              every change run beats every base run
  unchanged   otherwise

The --overhead form prints, per workload, the traced runs' end-to-end
medians against the untraced runs' (the cost of tracing).
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as g:
            out.append(json.load(g))
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def pairs(a, b):
    """Pairs of (base, change) records: by seed where both sides have it,
    else by position."""
    by_seed = {r["seed"]: r for r in a}
    if all(r["seed"] in by_seed for r in b) and len({r["seed"] for r in b}) == len(b):
        return [(by_seed[r["seed"]], r) for r in b]
    return list(zip(a, b))


def verdict(base, change, wins, n_pairs, better, bound):
    q1, med, q3 = quartiles(base)
    sign = 1 if better == "lower" else -1
    worse = sign * (statistics.median(change) - med) / med
    if worse > bound:
        return "regressed"
    if wins >= 0.9 * n_pairs and -worse * med > q3 - q1:
        return "improved"
    if (q3 - q1) / med > bound and not all(
            sign * (c - b) < 0 for c in change for b in base):
        return "unresolved"
    return "unchanged"


def compare(a_recs, b_recs, spec):
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    for wl in sorted({r["workload"] for r in a_recs + b_recs}):
        a = [r for r in a_recs if r["workload"] == wl and not r["trace"]]
        b = [r for r in b_recs if r["workload"] == wl and not r["trace"]]
        if not a or not b:
            print(f"{wl}: runs on one side only ({len(a)} base, {len(b)} change)")
            continue
        print(f"== {wl}: {len(a)} base runs, {len(b)} change runs")
        for name, m in metrics.items():
            av = [r["result"]["e2e"][name] for r in a]
            bv = [r["result"]["e2e"][name] for r in b]
            sign = 1 if m["better"] == "lower" else -1
            ps = pairs(a, b)
            wins = sum(1 for x, y in ps
                       if sign * (y["result"]["e2e"][name] - x["result"]["e2e"][name]) < 0)
            v = verdict(av, bv, wins, len(ps), m["better"], m["bound"])
            aq, bq = quartiles(av), quartiles(bv)
            print(f"  {name:18s} base {aq[1]:.4f} [{aq[0]:.4f}, {aq[2]:.4f}]  "
                  f"change {bq[1]:.4f} [{bq[0]:.4f}, {bq[2]:.4f}] {m['unit']}  "
                  f"ratio {bq[1] / aq[1]:.3f} of base median {aq[1]:.4f} {m['unit']}  "
                  f"wins {wins}/{len(ps)}  bound {m['bound']:.2f}  {v}")
        fa = sum(r["failed"] for r in a), sum(r["attempted"] for r in a)
        fb = sum(r["failed"] for r in b), sum(r["attempted"] for r in b)
        print(f"  {'failed':18s} base {fa[0]}/{fa[1]}  change {fb[0]}/{fb[1]}")


def overhead(recs):
    for wl in sorted({r["workload"] for r in recs}):
        t = [r for r in recs if r["workload"] == wl and r["trace"]]
        u = [r for r in recs if r["workload"] == wl and not r["trace"]]
        if not t or not u:
            continue
        print(f"== {wl}: tracing overhead, {len(t)} traced vs {len(u)} untraced runs")
        for name in sorted(u[0]["result"]["e2e"]):
            tm = statistics.median([r["result"]["e2e"][name] for r in t])
            um = statistics.median([r["result"]["e2e"][name] for r in u])
            print(f"  {name:18s} traced {tm:.4f} - untraced {um:.4f} = {tm - um:+.4f}"
                  f"  (ratio {tm / um:.3f} of untraced median {um:.4f})")


def main():
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "--overhead":
        overhead(load(args[1]))
    elif len(args) == 2:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        compare(load(args[0]), load(args[1]), spec)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
