#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs every workload of
``BENCHMARK.json`` on each seed (untraced, ``run_seconds`` long) and
writes ``perfbench/results/spread.md`` (+ ``spread.json``): per metric
and workload the median, the quartiles and the spread, i.e. the
distance between the first and third quartile as a share of the
median, next to the metric's bound.

    python3 perfbench/spread.py --seeds 101-110
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside .perfbench/

import metrics as M  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    wls = (args.workloads.split(",") if args.workloads
           else [w["name"] for w in bench["workloads"]])
    runs = {}
    for wl in wls:
        for s in seeds(args.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], stdout=subprocess.PIPE, text=True, check=True).stdout
            lines = out.strip().splitlines()
            res = json.loads(lines[-1])
            res["wall_s"] = time.time() - t0
            res["noise"] = next((l for l in lines if l.startswith("# noise")), "")
            runs.setdefault(wl, {})[s] = res
            print(wl, s, f"{res['wall_s']:.0f}s", res["correct"],
                  {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                  flush=True)
    table = ["# End-to-end spread", "",
             f"`python3 perfbench/spread.py --seeds {args.seeds}`: one untraced "
             f"{bench['run_seconds']} s run per seed and workload. Spread = "
             "(Q3 − Q1) / median over the seeds (`statistics.quantiles(n=4)`).",
             "", "| workload | metric | median | Q1 | Q3 | spread | bound | spread ≤ bound/3 |",
             "|---|---|---|---|---|---|---|---|"]
    summary = {}
    for wl, by_seed in runs.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in by_seed.values()]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            sp = M.spread(vals)
            summary.setdefault(wl, {})[m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": sp,
                "bound": m["bound"], "values": vals}
            table.append(f"| {wl} | `{m['name']}` | {med:.4g} | {q1:.4g} | "
                         f"{q3:.4g} | {sp:.3f} | {m['bound']} | "
                         f"{'yes' if sp <= m['bound'] / 3 else 'NO'} |")
        walls = [r["wall_s"] for r in by_seed.values()]
        table.append(f"| {wl} | wall per run (s) | {statistics.median(walls):.0f} | "
                     f"{min(walls):.0f} | {max(walls):.0f} | | | |")
    table += ["", "Noise headers:", ""]
    for wl, by_seed in runs.items():
        table += [f"    {wl} {s}: {r['noise']}" for s, r in by_seed.items()]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "spread.md"), "w") as f:
        f.write("\n".join(table) + "\n")
    with open(os.path.join(HERE, "results", "spread.json"), "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1, sort_keys=True)
    print("\n".join(table))


if __name__ == "__main__":
    main()
