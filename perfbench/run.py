#!/usr/bin/env python3
"""graft benchmark: HFP dedup streams plus a batch query set.

    python3 perfbench/run.py --workload hfp_live --seed 1 --seconds 30 --trace 0

Run from the root of a graft checkout. Workloads:

  hfp_live       paced open-loop HFP feed (4,000 lines/s over two
                 redundant topics) through parse, canonical hash and
                 the TTL-chain dedup; self-sized triggers
  hfp_backlog    the same pipeline draining a backlog in closed-loop
                 triggers of 50,000 lines
  batch_queries  one cold pass over 22 SparkEntry.queries on the
                 bundled sf0.1 tables

The last stdout line is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer ones with --trace 1). Every run also appends its full
record to .bench_build/runs/<workload>.jsonl, which ab.py and
report.py read; trace runs keep their spans next to it.

--record (batch_queries only) writes the outputs, their fingerprints
and the DuckDB oracle SQL under .bench_build/record/ instead of
checking them; see README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # the checkout stays clean
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("hfp_live", "hfp_backlog", "batch_queries")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def metric_specs(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found in the working directory")
    with open(path) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(root, classes, args, work, log_path, timeout):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(root), "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, frame):  # take the JVM down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    reason = build.check_layout(root)
    if reason:
        fail(reason)
    e2e, per_layer = metric_specs(root)
    try:
        classes = build.build(root)
    except subprocess.TimeoutExpired:
        fail("build timed out")

    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "record" if a.record else "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, BENCH_DIR]
    if a.record:
        args.append("record")
    ticks0 = cpu_ticks()
    code = run_jvm(root, classes, args, work, log_path, 900 if a.record else JVM_TIMEOUT_S)
    ticks1 = cpu_ticks()
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"{a.workload} run failed (exit {code})")
    with open(result_path) as fh:
        res = json.load(fh)
    for d in ("spark-local", "checkpoint", "checkpoint-state", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, **res)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests: explains outliers
        record["info"]["cpu_steal_share"] = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4)
    if a.trace:
        spans = os.path.join(runs, f"{a.workload}-seed{a.seed}-spans.json")
        shutil.copyfile(os.path.join(work, "spans.json"), spans)
        record["spans"] = os.path.relpath(spans, root)
    if not a.record:
        with open(os.path.join(runs, f"{a.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
    for msg in res["invalid"]:
        sys.stderr.write(f"perfbench: run invalid: {msg}\n")

    if a.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in per_layer}
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in e2e}
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
