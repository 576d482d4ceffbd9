"""The benchmark's own arithmetic: percentiles with failures as misses,
span self time, per-layer attribution and the spread of repeated runs.
Pure functions over plain data, so the unit tests need no JVM."""
import math
import statistics

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def tail_quantile(n, cap=90):
    """Highest whole percentile q <= ``cap`` with at least ``MIN_BEYOND``
    of ``n`` samples strictly beyond its nearest-rank position; 50 when
    even the median has fewer than that beyond it."""
    for q in range(cap, 50, -1):
        if n - math.ceil(q / 100 * n) >= MIN_BEYOND:
            return q
    return 50


def percentile(samples, q):
    """Nearest-rank percentile of ``samples``; ``None`` entries are
    failed ops and sort above every latency (a miss at any limit)."""
    if not samples:
        return math.inf
    vals = sorted(math.inf if s is None else s for s in samples)
    rank = max(1, math.ceil(q / 100 * len(vals)))
    return vals[rank - 1]


def latency(samples):
    """(p50, tail value, tail q, n) with failures counted as misses."""
    n = len(samples)
    q = tail_quantile(n)
    return percentile(samples, 50), percentile(samples, q), q, n


def merge_intervals(intervals):
    """Overlapping [start, end) pairs merged into disjoint ones."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(iv) for iv in out]


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) pairs."""
    return sum(e - s for s, e in merge_intervals(intervals))


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover (children may overlap each other
    and may stick out of the parent; only the covered part counts).
    ``spans``: dicts with id, parent, start_ms, end_ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(
            [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
             for c in kids.get(s["id"], []) if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def layer_of(name):
    """Layer of a span name: its first dotted component, or the first
    two for ``operators.*`` (operators.manifest, operators.curation)."""
    parts = name.split(".")
    if parts[0] == "operators" and len(parts) > 1:
        return ".".join(parts[:2])
    return parts[0]


def innermost(spans, t):
    """Id of the innermost (latest-starting) span containing time ``t``."""
    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return None if best is None else best["id"]


def derived_spans(spans, jobs, queries, stream_runs):
    """Spark's own work as child spans of the benchmark's spans: each
    job (tagged with the span id its submitting thread carried, or with
    a streaming query's run id) becomes an ``exec.job`` span, and each
    query's planning phases become ``plans.<phase>`` spans under the
    innermost benchmark span that contains them."""
    by_id = {s["id"]: s for s in spans}
    per_parent = {}
    for j in jobs:
        if j["end_ms"] < 0:
            continue
        parent = j["span"] if j["span"] in by_id else None
        if parent is None and j["group"] in stream_runs:
            parent = innermost([s for s in spans if s["name"] == "streaming.batch"],
                               j["submit_ms"])
        if parent is None:
            parent = innermost(spans, j["submit_ms"])
        if parent is not None:
            per_parent.setdefault(parent, []).append(
                (float(j["submit_ms"]), float(max(j["end_ms"], j["submit_ms"]))))
    out, next_id = [], max([s["id"] for s in spans], default=0) + 1
    # concurrent jobs of one parent (broadcasts, subqueries) merge into
    # one exec span per busy stretch, so their time counts once
    for parent, ivs in per_parent.items():
        for s, e in merge_intervals(ivs):
            out.append({"id": next_id, "name": "exec.job", "parent": parent,
                        "op": by_id[parent]["op"], "start_ms": s, "end_ms": e})
            next_id += 1
    for q in queries:
        for phase, (s, e) in q["phases"].items():
            parent = innermost(spans, s)
            if parent is None:
                continue
            out.append({"id": next_id, "name": f"plans.{phase}", "parent": parent,
                        "op": by_id[parent]["op"], "start_ms": float(s),
                        "end_ms": float(max(e, s))})
            next_id += 1
    return out


def layer_self_ms(spans):
    """Sum of self time per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
