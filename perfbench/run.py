#!/usr/bin/env python3
"""Layered benchmark of the graft engine. Run from the repo root:

    python3 perfbench/run.py --workload record_reads --seed 1 --seconds 15 --trace 0

Builds the repo's classes and the benchmark (``perfbench/build.py``),
generates the seeded inputs (``perfbench/gen.py``), runs one workload in
a JVM for about ``--seconds`` of closed-loop ops (whole op cycles),
checks the outputs, prints a
human-readable report and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. See ``perfbench/README.md``.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside .perfbench/

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("record_reads", "table_lifecycle", "curation_batch")
# set-ups per run; the first runs in a cold JVM, so setup_s (their
# median) is a warm one. Five on the lifecycle, whose sub-second set-up
# is the noisiest
SETUP_REPS = {"record_reads": 3, "table_lifecycle": 5, "curation_batch": 3}
JVM_TIMEOUT_S = 160
# the reads each workload's read_p50_ms is taken over: ORM readOne
# lookups, pruned manifest-table readWhere, IVF query batches
READ_OPS = {"record_reads": {"point_customer", "point_order", "point_part"},
            "table_lifecycle": {"read_where"}, "curation_batch": {"ann"}}
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
CORE_SITE = """<?xml version="1.0"?>
<configuration>
  <property><name>fs.file.impl</name>
    <value>perfbench.CountingLocalFileSystem</value></property>
</configuration>
"""


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, run_dir, args, n_cores):
    """One JVM run; its console goes to ``run_dir``/jvm.log."""
    cp = [classes, os.path.join(build.spark_jars(args.repo), "*")]
    if args.trace:
        conf = os.path.join(run_dir, "conf")
        os.makedirs(conf)
        with open(os.path.join(conf, "core-site.xml"), "w") as f:
            f.write(CORE_SITE)
        cp.insert(0, conf)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JDK_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join(cp), "perfbench.Main",
           "--workload", args.workload, "--inputs", os.path.join(run_dir, "ops.jsonl"),
           "--base", args.base, "--work", run_dir,
           "--out", os.path.join(run_dir, "result.json"),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(n_cores), "--setups", str(SETUP_REPS[args.workload]),
           "--seed", str(args.seed)]
    os.makedirs(os.path.join(run_dir, "hms"))
    env = dict(os.environ, SPARK_GRAFT_HMS_DIR=os.path.join(run_dir, "hms"),
               SPARK_GRAFT_HMS="1")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):  # never leave the JVM behind
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the JVM run timed out", 4)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM run exited with {code}", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def fmt(v):
    return "inf" if v == float("inf") else f"{v:.6g}"


def latency_ms(ops, cls=None, types=None):
    """Durations (ms) of the selected ops; a failed op is ``None``."""
    sel = [o for o in ops if (cls is None or o["cls"] == cls)
           and (types is None or o["t"] in types)]
    return [o["end_ms"] - o["start_ms"] if o["ok"] else None for o in sel]


def summarise(samples, window_ms):
    """Latency summary; a miss is reported as the window length so that
    it stays finite in JSON."""
    p50, tail, q, n = M.latency(samples)
    cap = lambda v: window_ms if v == float("inf") else v  # noqa: E731
    return cap(p50), cap(tail), q, n


def end_to_end(wl, res):
    """End-to-end metrics of one untraced run: (gated, reported-only)."""
    ops = res["ops"]
    win_s = res["window"]["elapsed_s"]
    win_ms = win_s * 1000
    ok = [o for o in ops if o["ok"]]
    p50, tail, q, n = summarise(latency_ms(ops), win_ms)
    rp50, _, _, rn = summarise(latency_ms(ops, types=READ_OPS[wl]), win_ms)
    gated = {
        "setup_s": (statistics.median(s["setup_s"] for s in res["setups"]), "s"),
        "ops_per_s": (len(ok) / win_s, "ops/s"),
        "op_p50_ms": (p50, "ms"),
        "op_p90_ms": (tail, "ms"),
        "read_p50_ms": (rp50, "ms"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    extra = {"op_tail_percentile": (q, "pct"), "op_samples": (n, "count"),
             "read_samples": (rn, "count")}
    if wl == "record_reads":
        for cls, name in (("point", "point_read_p50_ms"),
                          ("relation", "relation_read_p50_ms"),
                          ("sql", "sql_read_p50_ms")):
            extra[name] = (summarise(latency_ms(ops, cls=cls), win_ms)[0], "ms")
    elif wl == "table_lifecycle":
        c50, ctail, cq, cn = summarise(latency_ms(ops, cls="commit"), win_ms)
        e = res["end"]
        extra.update({
            "commit_p50_ms": (c50, "ms"), "commit_p90_ms": (ctail, "ms"),
            "commit_tail_percentile": (cq, "pct"), "commit_samples": (cn, "count"),
            "table_read_p50_ms": (summarise(latency_ms(ops, cls="read"),
                                            win_ms)[0], "ms"),
            "space_amp": (e["table_bytes"] / e["live_plain_bytes"], "ratio")})
    else:
        docs = sum(o["info"].get("docs", 0) for o in ok)
        extra.update({"docs_per_s": (docs / win_s, "docs/s"),
                      "ann_query_p50_ms": (rp50, "ms")})
    return gated, extra


def per_layer(wl, res):
    """Per-layer metrics of one traced run: (gated, reported-only, self
    time per layer)."""
    tr = res["trace"]
    spans, jobs, queries = tr["spans"], tr["jobs"], tr["queries"]
    ops = res["ops"]
    stream_runs = {o["info"]["run_id"] for o in ops if "run_id" in o["info"]}
    span_by_id = {s["id"]: s for s in spans}
    all_spans = spans + M.derived_spans(spans, jobs, queries, stream_runs)
    selfs = M.self_times(all_spans)
    by_layer = M.layer_self_ms(all_spans)

    def self_of(prefix):
        return sum(selfs[s["id"]] for s in spans if s["name"].startswith(prefix))

    def span_of_job(j):
        return span_by_id.get(j["span"])

    def jobs_in(prefix):
        return sum(1 for j in jobs if span_of_job(j) and
                   span_of_job(j)["name"].startswith(prefix))

    phases = {}
    for q in queries:
        for p, (s, e) in q["phases"].items():
            phases[p] = phases.get(p, 0) + (e - s)
    by_op = {}
    for j in jobs:
        if j["end_ms"] >= 0:
            by_op.setdefault(j["group"], []).append((j["submit_ms"], j["end_ms"]))
    fs = tr["fs"]
    end = res.get("end", {})
    offered = end.get("offered_plain_bytes", 0)
    setup_med = lambda k: statistics.median(s[k] for s in res["setups"])  # noqa: E731
    gc = res["noise"]
    gated = {
        "catalog.session_s": (setup_med("session_s"), "s"),
        "catalog.register_s": (setup_med("register_s"), "s"),
        "api.build_ms": (self_of("api."), "ms"),
        "api.build_jobs": (jobs_in("api."), "count"),
        "plans.analysis_ms": (phases.get("analysis", 0), "ms"),
        "plans.optimization_ms": (phases.get("optimization", 0), "ms"),
        "plans.planning_ms": (phases.get("planning", 0), "ms"),
        "plans.exchanges": (sum(q["exchanges"] for q in queries), "count"),
        "plans.codegen_compiles": (tr["codegen"]["compiles"], "count"),
        "plans.codegen_ms": (tr["codegen"]["ns"] / 1e6, "ms"),
        "exec.ms": (sum(M.union_length(v) for v in by_op.values()), "ms"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (sum(j["stages"] for j in jobs), "count"),
        "exec.tasks": (sum(j["tasks"] for j in jobs), "count"),
        "exec.task_cpu_s": (sum(j["cpu_ns"] for j in jobs) / 1e9, "s"),
        "exec.shuffle_read_bytes": (sum(j["shuffle_read"] for j in jobs), "bytes"),
        "exec.shuffle_write_bytes": (sum(j["shuffle_write"] for j in jobs), "bytes"),
        "exec.input_bytes": (sum(j["input_bytes"] for j in jobs), "bytes"),
    }
    for k in ("fs_opens", "fs_lists", "fs_status", "fs_creates", "fs_renames",
              "fs_deletes", "bytes_read", "bytes_written"):
        gated[f"sources.{k}"] = (fs[k], "bytes" if k.startswith("bytes") else "count")
    gated["sources.write_amp"] = (fs["bytes_written"] / offered if offered else 0.0,
                                  "ratio")
    commit_kinds = ("append", "upsert", "merge", "delete_mor", "replay")
    for k in commit_kinds:
        gated[f"operators.manifest.commit_jobs.{k}"] = (
            jobs_in(f"operators.manifest.commit.{k}"), "count")
    replays = [o for o in ops if o["t"] == "replay" and o["ok"]]
    pruned = [o for o in ops if o["t"] == "read_where" and o["ok"]]
    head_bytes = end.get("head_bytes", 0)
    scanned = sum(j["input_bytes"] for j in jobs
                  if j["group"] in {f"op-{o['id']}" for o in pruned})
    maint = [o for o in ops if o["cls"] == "maintenance" and o["ok"]]
    gated.update({
        "operators.manifest.replay_noop_ratio": (
            sum(o["info"]["version"] == o["info"]["before"] for o in replays)
            / len(replays) if replays else 0.0, "ratio"),
        "operators.manifest.read_prune_ratio": (
            scanned / len(pruned) / head_bytes if pruned and head_bytes else 0.0,
            "ratio"),
        "operators.manifest.files_live": (end.get("files_live", 0), "count"),
        "operators.manifest.maint_bytes_rewritten": (
            sum(o["fs"].get("bytes_written", 0) for o in maint), "bytes"),
        "operators.manifest.files_removed": (
            sum(o["info"].get("removed", 0) for o in maint), "count"),
    })
    streams = [o for o in ops if o["t"] == "stream" and o["ok"]]
    gated["streaming.jobs_per_batch"] = (
        sum(1 for j in jobs if j["group"] in stream_runs) / len(streams)
        if streams else 0.0, "count")
    gated["jvm.gc_s"] = (gc["gc_ms"] / 1000, "s")
    gated["jvm.gc_count"] = (gc["gc_count"], "count")
    extra = {}
    for k in commit_kinds:
        extra[f"operators.manifest.commit_ms.{k}"] = (
            sum(s["end_ms"] - s["start_ms"] for s in spans
                if s["name"] == f"operators.manifest.commit.{k}"), "ms")
    extra["operators.manifest.maint_ms"] = (
        sum(s["end_ms"] - s["start_ms"] for s in spans
            if s["name"].startswith("operators.manifest.maint.")), "ms")
    extra["streaming.batch_ms"] = (
        sum(s["end_ms"] - s["start_ms"] for s in spans
            if s["name"] == "streaming.batch"), "ms")
    for st in ("dedup", "quality", "ann", "retrain", "ivf_ingest", "components"):
        extra[f"operators.curation.{st}_ms"] = (
            sum(s["end_ms"] - s["start_ms"] for s in spans
                if s["name"] == f"operators.curation.{st}"), "ms")
    unattributed = sum(1 for j in jobs if not j["group"].startswith("op-")
                       and j["group"] not in stream_runs)
    extra["exec.unattributed_jobs"] = (unattributed, "count")
    return gated, extra, by_layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (tables, logs, raw result)")
    args = ap.parse_args()
    repo = args.repo = os.getcwd()
    for need in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(repo, need)):
            fail(f"{need} not found: run from the root of the repo")
    work = os.path.join(repo, ".perfbench")
    t0 = time.time()
    classes = build.build(repo, work)
    args.base = gen.ensure_base(os.path.join(work, "data"))
    ops, extra = gen.workload_inputs(args.workload, args.seed, args.base)
    digest = gen.inputs_digest(ops, extra)
    again = gen.inputs_digest(*gen.workload_inputs(args.workload, args.seed,
                                                   args.base))
    if again != digest:
        fail("the same seed generated different inputs", 5)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen.write_inputs(os.path.join(run_dir, "ops.jsonl"), ops, extra)
    prep_s = time.time() - t0

    res = run_jvm(classes, run_dir, args, cores())

    if args.workload == "record_reads":
        out = checks.check_record_reads(repo, args.base, ops, res)
        quality = {}
    elif args.workload == "table_lifecycle":
        out = checks.check_table_lifecycle(repo, args.base, ops, res)
        quality = {}
    else:
        out, quality = checks.check_curation(extra["labels"],
                                             extra["self_queries"], res)
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    attempted = len(res["ops"]) + out.checked
    failed = failed_ops + len(out.failures)

    if args.trace:
        gated, shown, layers = per_layer(args.workload, res)
        shown.update({k: (v, "ratio") for k, v in quality.items()})
        # the traced run's own end-to-end figures, for the overhead
        shown.update(end_to_end(args.workload, res)[0])
    else:
        gated, shown = end_to_end(args.workload, res)
        layers = {}
    shown["failed_ratio"] = (failed / attempted, "failed/attempted")

    n = res["noise"]
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"inputs={digest[:16]} base={gen.BASE_VERSION} "
          f"prep_s={prep_s:.1f}")
    print(f"# noise: load_avg {n['load_avg_start']:.2f}->{n['load_avg_end']:.2f} "
          f"nproc={n['nproc']} master={n['master']} "
          f"shuffle_partitions={n['shuffle_partitions']} gc_count={n['gc_count']} "
          f"gc_ms={n['gc_ms']} jdk={n['jdk']} spark={n['spark']} seed={n['seed']}")
    print(f"# window {res['window']['elapsed_s']:.2f}s ops={len(res['ops'])} "
          f"failed_ops={failed_ops} checks={out.checked} "
          f"check_failures={len(out.failures)}")
    for f in out.failures[:20]:
        print(f"# CHECK FAILED: {f}")
    for k, (v, u) in list(gated.items()) + list(shown.items()):
        print(f"{k:44s} {fmt(v):>14s} {u}")
    if layers:
        print("# self time per layer (ms):")
        for k, v in sorted(layers.items(), key=lambda kv: -kv[1]):
            print(f"#   {k:30s} {v:12.1f}")
    if args.keep:
        with open(os.path.join(run_dir, "metrics.json"), "w") as f:
            json.dump({"gated": gated, "shown": shown, "layers": layers}, f)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}}))


if __name__ == "__main__":
    main()
