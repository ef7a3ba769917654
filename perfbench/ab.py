#!/usr/bin/env python3
"""A/B comparer for two sets of benchmark runs.

    python3 perfbench/ab.py PARENT CHANGE [--metrics layers]

PARENT and CHANGE are run records as run.py appends them
(.bench_build/runs/<workload>.jsonl): a .jsonl file or a directory of
them. End-to-end metrics come from untraced runs, --metrics layers
from traced ones. Runs marked invalid, or with failed operations, are
left out.

For every workload and metric it prints each side's median and
quartiles and a verdict:

  gain        the change wins at least 9/10 of the pairs (ties count
              for neither) and the medians differ by more than the
              parent's interquartile spread
  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  within      neither of the above, and the parent's spread is inside
              the bound
  unresolved  the parent's own spread is wider than the bound

The wall-time numbers every run records but BENCHMARK.json does not
bound (ops_per_s, latency_ms_p50/p90, heap_mb) are compared too; they
can show a gain but never a regression.

Pairs are matched by seed; unmatched runs count only toward the
medians. Exit status is 1 when any metric regresses.
"""
import argparse
import glob
import json
import os
import statistics
import sys


# End-to-end numbers every run records beside the ones BENCHMARK.json
# bounds: compared the same way, with no regression bound.
RECORDED = [
    {"name": "ops_per_s", "better": "higher"},
    {"name": "latency_ms_p50", "better": "lower"},
    {"name": "latency_ms_p90", "better": "lower"},
    {"name": "heap_mb", "better": "lower"},
]


def load(path, trace):
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                r = json.loads(line)
                if r.get("trace") != trace or r.get("invalid") or r.get("failed", 0) != 0:
                    continue
                runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, better, bound):
    """par/chg: {seed: value}. Returns (verdict, wins, pairs)."""
    p_vals, c_vals = list(par.values()), list(chg.values())
    p1, pm, p3 = quartiles(p_vals)
    _, cm, _ = quartiles(c_vals)
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(par) & set(chg))
    wins = sum(1 for s in seeds if sign * (chg[s] - par[s]) > 0)
    if seeds and wins >= 0.9 * len(seeds) and abs(cm - pm) > (p3 - p1):
        v = "gain"
    elif bound is not None and sign * (cm - pm) < -bound * abs(pm):
        v = "regression"
    elif bound is not None and pm and (p3 - p1) / abs(pm) > bound:
        v = "unresolved"
    else:
        v = "within"
    return v, wins, len(seeds)


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of perfbench runs.")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--metrics", choices=("end_to_end", "layers"), default="end_to_end")
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()

    with open(a.spec) as fh:
        spec = json.load(fh)
    kind = "end_to_end" if a.metrics == "end_to_end" else "per_layer"
    metrics = spec[kind]
    if kind == "end_to_end":
        metrics = metrics + [m for m in RECORDED if m["name"] not in {x["name"] for x in metrics}]
    field = "metrics" if kind == "end_to_end" else "layers"
    trace = 0 if kind == "end_to_end" else 1
    par, chg = load(a.parent, trace), load(a.change, trace)
    regressed = False
    print(f"{'workload':14} {'metric':40} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'wins':>7} verdict")
    for w in sorted({r["workload"] for r in par} & {r["workload"] for r in chg}):
        for m in metrics:
            name = m["name"]
            pv = {r["seed"]: r[field][name] for r in par
                  if r["workload"] == w and r[field].get(name) is not None}
            cv = {r["seed"]: r[field][name] for r in chg
                  if r["workload"] == w and r[field].get(name) is not None}
            if not pv or not cv:
                continue
            v, wins, n = verdict(pv, cv, m["better"], m.get("bound"))
            regressed |= v == "regression"
            ps = "/".join(f"{x:.4g}" for x in quartiles(list(pv.values())))
            cs = "/".join(f"{x:.4g}" for x in quartiles(list(cv.values())))
            print(f"{w:14} {name:40} {ps:>32} {cs:>32} {wins:>3}/{n:<3} {v}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
