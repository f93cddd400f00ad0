#!/usr/bin/env python3
"""Record the benchmark's seed trace: untraced and traced runs per workload.

    python3 loadbench/seed_trace.py [--workloads a,b] [--seeds 1,2] [--seconds 10]

For every workload and seed it runs the benchmark once with --trace 0 and
once with --trace 1, from the root of a checkout. It writes every result
to loadbench/seed_trace.json, replacing the entries of the workloads it
ran and keeping the others, and prints a summary: per op type the
untraced and traced median op time and their difference (the tracing
overhead), the driver-state and loader-phase split of the traced ops,
and the JDBC and Spark counts.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OP_LINE = re.compile(r"\[loadbench\] round \d+ (fresh|reload) ([0-9.]+) s")

STATES = ["job_wait", "jdbc", "plan_render", "plan_rules", "other"]
PHASES = ["insert", "d1_check", "retrieve_merge", "d2_compare", "other"]
COUNTS = ["jdbc.statements", "jdbc.rows_sent", "jdbc.rows_affected", "jdbc.affected_ratio",
          "jdbc.rows_read", "jdbc.write_s", "jdbc.read_s", "spark.jobs", "spark.stages",
          "spark.tasks", "spark.task_s", "spark.single_task_stage_s", "spark.shuffle_bytes",
          "spark.peak_width", "schema.plan_s", "connector.introspect_s"]
PACKAGES = ["dedup", "ann", "streaming", "text", "ops"]


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    ops = {}
    for kind, secs in OP_LINE.findall(p.stderr):
        ops.setdefault(kind, []).append(float(secs))
    return {"result": json.loads(lines[-1]), "op_seconds": ops}


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(workload, untraced, traced):
    out = {"workload": workload}
    layer = lambda name: med([t["result"]["metrics"][name]["value"] for t in traced])
    kinds = ["fresh", "reload"] if any(u["op_seconds"] for u in untraced) else ["round"]
    for kind in kinds:
        if kind == "round":
            plain = med([u["result"]["metrics"]["round_s"]["value"] for u in untraced])
            sfx, wall = "", layer("trace.round_s")
        else:
            plain = med([s for u in untraced for s in u["op_seconds"].get(kind, [])])
            sfx, wall = f".{kind}", layer(f"trace.op_s.{kind}")
        entry = {"untraced_s": plain, "traced_s": wall, "overhead_s": wall - plain,
                 "driver_share": {s: layer(f"driver.{s}_s{sfx}") / wall for s in STATES}}
        if kind != "round":
            entry["phase_share"] = {p: layer(f"phase.{p}_s{sfx}") / wall for p in PHASES}
            entry["counts"] = {c: layer(f"{c}{sfx}") for c in COUNTS}
        else:
            entry["counts"] = {c: layer(c) for c in COUNTS if c.startswith("spark.")}
            entry["packages"] = {p: {"query_s": layer(f"{p}.query_s"),
                                     "jobs": layer(f"{p}.spark.jobs"),
                                     "peak_width": layer(f"{p}.spark.peak_width")}
                                 for p in PACKAGES}
        out[kind] = entry
    out["failed_share"] = statistics.mean(
        u["result"]["failed"] / u["result"]["attempted"] for u in untraced)
    out["heap_mb"] = layer("driver_heap_live_peak_mb")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="star_15k,snowflake_6k,operator_slice")
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    path = os.path.join(HERE, "seed_trace.json")
    report = {"runs": {}, "summary": []}
    if os.path.exists(path):
        with open(path) as f:
            report = json.load(f)
    for w in a.workloads.split(","):
        untraced = [run(w, s, a.seconds, 0) for s in seeds]
        traced = [run(w, s, a.seconds, 1) for s in seeds]
        report["runs"][w] = {"untraced": untraced, "traced": traced}
        summary = summarize(w, untraced, traced)
        report["summary"] = [s for s in report["summary"] if s["workload"] != w] + [summary]
        print(json.dumps(summary, indent=1), flush=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
