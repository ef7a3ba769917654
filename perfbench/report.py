#!/usr/bin/env python3
"""Per-layer report from traced benchmark runs.

    python3 perfbench/report.py [RUNS_DIR] > report.md

RUNS_DIR (default .bench_build/runs) holds the run records run.py
appends. For every workload with a traced run (--trace 1) it takes the
latest one and prints, from its spans:

  - each layer's self time (its span minus the part its child spans
    cover), summed over the run, and its share of the trigger or query
    wall time it sits under;
  - the layer microbenchmarks recorded outside the measured window;
  - the per-layer metrics;
  - the tracing overhead: the traced run's end-to-end metrics against
    the median of the untraced runs of the same workload.
"""
import collections
import json
import os
import statistics
import sys

ROOTS = ("trigger", "query")


def self_times(spans):
    """{span id: self ms}: duration minus the union of its children."""
    kids = collections.defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a0, b0 = s["start_ms"], s["end_ms"]
        iv = sorted((max(k["start_ms"], a0), min(k["end_ms"], b0)) for k in kids[s["id"]])
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = max(0.0, (b0 - a0) - covered)
    return out


def layer_table(spans):
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    wall = collections.Counter()
    self_ms = collections.Counter()
    count = collections.Counter()
    micro = collections.defaultdict(list)
    for s in spans:
        r = root_of(s)
        if r["name"] not in ROOTS:
            micro[s["name"]].append(s["end_ms"] - s["start_ms"])
            continue
        if s is r:
            wall[r["name"]] += s["end_ms"] - s["start_ms"]
        self_ms[(r["name"], s["name"])] += selfs[s["id"]]
        count[(r["name"], s["name"])] += 1
    lines = ["| under | layer | spans | self ms | share of wall |", "|---|---|---:|---:|---:|"]
    for (root, name), ms in sorted(self_ms.items(), key=lambda kv: (kv[0][0], -kv[1])):
        share = ms / wall[root] if wall[root] else 0.0
        lines.append(f"| {root} | {name} | {count[(root, name)]} | {ms:.1f} | {share:.1%} |")
    for root, ms in sorted(wall.items()):
        lines.append(f"| {root} | (wall) | {count[(root, root)]} | {ms:.1f} | 100.0% |")
    if micro:
        lines += ["", "Layer microbenchmarks, outside the measured window (median ms of the repetitions):", "",
                  "| span | reps | median ms |", "|---|---:|---:|"]
        for name, ds in sorted(micro.items()):
            lines.append(f"| {name} | {len(ds)} | {statistics.median(ds):.1f} |")
    return lines


def main():
    runs_dir = sys.argv[1] if len(sys.argv) > 1 else ".bench_build/runs"
    records = []
    for f in sorted(os.listdir(runs_dir)):
        if f.endswith(".jsonl"):
            with open(os.path.join(runs_dir, f)) as fh:
                records += [json.loads(line) for line in fh if line.strip()]
    for w in sorted({r["workload"] for r in records}):
        traced = [r for r in records if r["workload"] == w and r["trace"] == 1]
        plain = [r for r in records if r["workload"] == w and r["trace"] == 0 and not r["invalid"]]
        if not traced:
            continue
        t = traced[-1]
        print(f"## {w} (seed {t['seed']}, {t['seconds']} s window)\n")
        spans_path = t.get("spans")
        if spans_path and os.path.isfile(spans_path):
            with open(spans_path) as fh:
                print("\n".join(layer_table(json.load(fh))))
        print("\nPer-layer metrics:\n")
        print("| metric | value |\n|---|---:|")
        for k, v in t["layers"].items():
            print(f"| {k} | {v:.6g} |")
        print(f"\nTracing overhead against the median of {len(plain)} untraced runs:\n")
        print("| metric | untraced median | traced | overhead |\n|---|---:|---:|---:|")
        for k, v in t["metrics"].items():
            vals = [r["metrics"][k] for r in plain if k in r["metrics"]]
            if not vals:
                continue
            m = statistics.median(vals)
            print(f"| {k} | {m:.6g} | {v:.6g} | {(v - m) / m:+.1%} |")
        if t["invalid"]:
            print(f"\nThe traced run was invalid: {'; '.join(t['invalid'])}")
        print()


if __name__ == "__main__":
    main()
