#!/usr/bin/env python3
"""Traced record: runs each workload untraced and traced on one seed,
``--pairs`` times in alternating order, and writes
``perfbench/results/traced.md`` (+ ``traced.json``): the per-layer
metrics and self time per layer of the first traced run, and the
tracing overhead (median traced minus median untraced end-to-end
figures).

    python3 perfbench/report.py --seed 1 --seconds 15 --pairs 3 [--workloads a,b]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OVERHEAD = ("ops_per_s", "op_p50_ms", "op_p90_ms", "read_p50_ms")


def run(wl, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
           "--seed", str(seed), "--seconds", str(seconds), "--trace",
           str(trace), "--keep"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    path = os.path.join(".perfbench", "runs", f"{wl}-{seed}-t{trace}", "metrics.json")
    with open(path) as f:
        m = json.load(f)
    m["final"] = json.loads(out.strip().splitlines()[-1])
    m["header"] = [l for l in out.splitlines() if l.startswith("# ")][:3]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workloads",
                    default="record_reads,table_lifecycle,curation_batch")
    args = ap.parse_args()
    record, lines = {}, ["# Traced record", "",
                         f"`python3 perfbench/report.py --seed {args.seed} "
                         f"--seconds {args.seconds:g} --pairs {args.pairs}` — "
                         f"{args.pairs} untraced and {args.pairs} traced runs per "
                         "workload on the same seed, alternating which runs first. "
                         "Per-layer values are totals over the first traced run's "
                         "timed window. An overhead smaller than the run-to-run "
                         "spread (`spread.md`) is not resolved.", ""]
    for wl in args.workloads.split(","):
        plains, traceds = [], []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                m = run(wl, args.seed, args.seconds, trace)
                (traceds if trace else plains).append(m)
        traced = traceds[0]
        record[wl] = {"untraced": plains, "traced": traceds}
        lines += [f"## {wl}", ""]
        lines += [f"    {h}" for h in traced["header"]] + [""]
        lines += ["| tracing overhead | untraced runs | traced runs | "
                  "median traced − median untraced |", "|---|---|---|---|"]
        for k in OVERHEAD:
            us = [p["gated"][k][0] for p in plains]
            ts = [t["shown"][k][0] for t in traceds]
            u, t = statistics.median(us), statistics.median(ts)
            lines.append(f"| `{k}` ({plains[0]['gated'][k][1]}) | "
                         f"{', '.join(f'{x:.4g}' for x in us)} | "
                         f"{', '.join(f'{x:.4g}' for x in ts)} | "
                         f"{t - u:+.4g} ({(t - u) / u:+.1%}) |")
        lines += ["", "| layer | self time (ms) |", "|---|---|"]
        for k, v in sorted(traced["layers"].items(), key=lambda kv: -kv[1]):
            lines.append(f"| {k} | {v:.1f} |")
        lines += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        for k, (v, u) in list(traced["gated"].items()) + list(traced["shown"].items()):
            lines.append(f"| `{k}` | {v:.6g} | {u} |")
        lines.append("")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "traced.md"), "w") as f:
        f.write("\n".join(lines))
    with open(os.path.join(HERE, "results", "traced.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
