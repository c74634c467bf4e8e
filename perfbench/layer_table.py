#!/usr/bin/env python3
"""Layer table: where each workload's timed wall goes, layer by layer.

    python3 perfbench/layer_table.py --seed <n> [--seconds <s>] \
        [--workloads w1 w2 ...] > perfbench/LAYERS.md

For each workload it runs perfbench/run.py once untraced and once
traced with the same seed, then prints, per timed phase, the Spark
census and each layer span's count and self time, and the tracing
overhead: the traced run's timed wall minus the untraced run's.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = os.path.join(ROOT, ".perfbench", "runs")


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} trace {trace} failed:\n{out.stderr[-2000:]}")
    name = f"{workload}-s{seed}-t{trace}"
    with open(os.path.join(RUNS, name + ".json")) as f:
        summary = json.load(f)
    layers = None
    if trace:
        with open(os.path.join(RUNS, name + ".layers.json")) as f:
            layers = json.load(f)
    return summary, layers


def section(workload, plain, traced, layers):
    host = traced["host"]
    lines = [f"## {workload}", ""]
    lines.append(
        f"Host: {host['cores']} cores, {host['heap_mb']} MB heap, tree `{host['tree']}`. "
        f"Steal / iowait: untraced {plain['host']['steal_ms']} / "
        f"{plain['host']['iowait_ms']} ms, traced {host['steal_ms']} / "
        f"{host['iowait_ms']} ms. Checks: untraced {plain['failed']} failed of "
        f"{plain['attempted']}, traced {traced['failed']} failed of {traced['attempted']}.")
    lines.append("")
    w0, w1 = plain["e2e_wall_s"], traced["e2e_wall_s"]
    lines.append(
        f"Timed wall (all phases but set-up): untraced {w0:.2f} s, traced {w1:.2f} s; "
        f"tracing overhead {w1 - w0:+.2f} s ({(w1 - w0) / w0:+.0%}).")
    lines.append("")
    lines.append("| phase | runs | wall s | layer self s (sum) | jobs | stages | tasks | "
                 "job s | driver gap s | plan ms | task cpu s | task deser ms |")
    lines.append("|---|---|---|---|---|---|---|---|---|---|---|---|")
    for phase, p in layers.items():
        sp = p["spark"]
        self_sum = sum(x["self_s"] for x in p["layers"].values())
        lines.append(
            f"| {phase} | {p['runs']} | {p['wall_s']:.2f} | {self_sum:.2f} | "
            f"{sp['jobs']:.0f} | {sp['stages']:.0f} | {sp['tasks']:.0f} | "
            f"{sp['job_s']:.2f} | {sp['driver_gap_s']:.2f} | {sp['plan_ms']:.0f} | "
            f"{sp['task_cpu_s']:.2f} | {sp['task_deser_ms']:.0f} |")
    lines.append("")
    lines.append("| phase | span | count | self s |")
    lines.append("|---|---|---|---|")
    for phase, p in layers.items():
        for span, x in sorted(p["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
            lines.append(f"| {phase} | `{span}` | {x['spans']} | {x['self_s']:.3f} |")
    lines.append("")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", nargs="+",
                    default=["islands_pipeline", "lake_serving", "corpus_kernels"])
    args = ap.parse_args()
    out = ["# Layer table", "",
           f"`python3 perfbench/layer_table.py --seed {args.seed} --seconds {args.seconds}`: "
           "one untraced and one traced run per workload. A phase's span self times sum to "
           "its wall in single-threaded phases; in `serving` three threads overlap, so they "
           "sum to thread time. `phase.*` rows are time inside a phase outside any layer "
           "call (driver-side glue, checks between layer calls).", ""]
    for w in args.workloads:
        plain, _ = run(w, args.seed, args.seconds, 0)
        traced, layers = run(w, args.seed, args.seconds, 1)
        out += section(w, plain, traced, layers)
    print("\n".join(out))


if __name__ == "__main__":
    main()
