"""Output checks, run after the timed window. Every mismatch is one
failed check; the caller adds them to ``failed``.

* record_reads: each sampled op's rows against DuckDB SQL on the same
  parquet, canonicalised with the repo's ``tools/check.py``;
* table_lifecycle: every read, the re-opened head, sampled versions and
  the change feed against an in-memory model of acknowledged writes;
* curation_batch: injected exact duplicates dropped, self-queries
  return themselves as top-1.
"""
import os
import sys
from datetime import datetime, timedelta

import pyarrow.parquet as pq

from gen import LIFE_INIT_ROWS

EPOCH = datetime(1970, 1, 1)
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


def _canon_mod(repo):
    tools = os.path.join(repo, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check  # the repo's oracle canonicalisation (tools/check.py)
    return check


def decode(v):
    """JVM JSON value -> Python value (timestamps arrive as epoch µs)."""
    if isinstance(v, dict) and "ts_us" in v:
        return EPOCH + timedelta(microseconds=v["ts_us"])
    if isinstance(v, list):
        return [decode(x) for x in v]
    return v


class Outcome:
    def __init__(self):
        self.checked = 0
        self.failures = []

    def expect(self, ok, what):
        self.checked += 1
        if not ok:
            self.failures.append(what)


# ---------------------------------------------------------------- record_reads

def check_record_reads(repo, base, ops, result):
    import duckdb
    chk = _canon_mod(repo)
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "part", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{base}/{t}.parquet')")
    out = Outcome()
    by_id = {op["id"]: op for op in ops}
    for sid, got in sorted(result["checks"]["results"].items(), key=lambda x: int(x[0])):
        op = by_id[int(sid)]
        cur = con.execute(op["oracle"])
        names = [d[0] for d in cur.description]
        exp_rows = cur.fetchall()
        exp = chk.rows_of([list(c) for c in zip(*exp_rows)] if exp_rows
                          else [[] for _ in names], names)
        rows = [[decode(v) for v in r] for r in got["rows"]]
        have = chk.rows_of([list(c) for c in zip(*rows)] if rows
                           else [[] for _ in got["cols"]], got["cols"])
        if not rows and not got["cols"]:
            have = ([], sorted(names))
        out.expect(have == exp, f"op {sid} ({op['t']}) differs from the oracle")
    return out


# ------------------------------------------------------------- table_lifecycle

class OrdersModel:
    """Expected table content after each acknowledged write, keyed by
    order key. ``commit(v)`` records the state published as version v;
    only versions still readable are kept."""

    def __init__(self, rows=()):
        self.state = {r[0]: tuple(r) for r in rows}
        self.versions = {}

    def append(self, rows):
        for r in rows:
            self.state[r[0]] = tuple(r)

    upsert = append

    def merge(self, rows):
        """rows: (order columns..., op) with op D (delete), U or I."""
        for r in rows:
            key, body, op = r[0], tuple(r[:-1]), r[-1]
            if key in self.state:
                if op == "D":
                    del self.state[key]
                else:
                    self.state[key] = body
            elif op != "D":
                self.state[key] = body

    def delete(self, ids):
        for k in ids:
            self.state.pop(k, None)

    def commit(self, version):
        self.versions[version] = dict(self.state)

    def at(self, version):
        return self.versions[version]

    def forget_below(self, version):
        for v in [v for v in self.versions if v < version]:
            del self.versions[v]


def _order_tuple(r):
    d = r["o_orderdate"]
    if isinstance(d, str):
        d = datetime.strptime(d, "%Y-%m-%d")
    return (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
            r["o_totalprice"], d, r["o_orderpriority"])


def _canon_rows(chk, rows):
    return sorted(tuple(chk.canon(v) for v in r) for r in rows)


def _parquet_rows(path):
    t = pq.read_table(path).to_pylist()
    return [tuple(r[c] for c in ORDER_COLS) + ((r["_change_type"],)
            if "_change_type" in r else ()) for r in t]


def _changes(before, after):
    """Net row changes between two states, as the change feed reports."""
    dels = [r for k, r in before.items() if after.get(k) != r]
    ins = [r for k, r in after.items() if before.get(k) != r]
    return dels, ins


def check_table_lifecycle(repo, base, ops, result):
    chk = _canon_mod(repo)
    init = pq.read_table(f"{base}/orders.parquet",
                         filters=[("o_orderkey", "<", LIFE_INIT_ROWS)]).to_pylist()
    model = OrdersModel(_order_tuple(r) for r in init)
    by_id = {op["id"]: op for op in ops}
    reads = {r["id"]: r for r in result["checks"]["reads"]}
    out = Outcome()
    delivered = []
    recs = result["ops"]
    if recs:
        model.commit(recs[0]["info"]["before"])
    for rec in recs:
        if not rec["ok"]:
            continue
        op, info = by_id[rec["id"]], rec["info"]
        t, v, before = op["t"], info["version"], info["before"]
        if t == "append":
            model.append(_order_tuple(r) for r in op["rows"])
        elif t == "upsert":
            model.upsert(_order_tuple(r) for r in op["rows"])
        elif t == "merge":
            model.merge(_order_tuple(r) + (r["op"],) for r in op["rows"])
        elif t == "delete_mor":
            model.delete(op["ids"])
        elif t == "replay":
            out.expect(v == before, f"replay op {rec['id']} published v{v}")
        elif t == "stream":
            delivered.extend(op["events"])
        if v != before:
            model.commit(v)
        if t == "vacuum":
            model.forget_below(v)
        if rec["id"] in reads:
            _check_read(chk, out, model, op, reads[rec["id"]])
    c = result["checks"]
    h = c["head"]["version"]
    out.expect(_canon_rows(chk, _parquet_rows(c["head"]["path"]))
               == _canon_rows(chk, model.at(h).values()),
               f"re-opened head v{h} differs from the model")
    for s in c["versions"]:
        out.expect(_canon_rows(chk, _parquet_rows(s["path"]))
                   == _canon_rows(chk, model.at(s["version"]).values()),
                   f"time travel to v{s['version']} differs from the model")
    for s in c["changes"]:
        _check_changes(chk, out, model, s["from"], s["to"],
                       _parquet_rows(s["path"]), "re-opened change feed")
    ev = pq.read_table(c["events_head"]).column("event_id").to_pylist()
    out.expect(sorted(ev) == sorted(delivered),
               "streamed events table is not exactly the delivered events")
    return out


def _check_changes(chk, out, model, frm, to, rows, what):
    dels, ins = _changes(model.at(frm), model.at(to))
    got_d = [r[:-1] for r in rows if r[-1] == "delete"]
    got_i = [r[:-1] for r in rows if r[-1] == "insert"]
    out.expect(_canon_rows(chk, got_d) == _canon_rows(chk, dels) and
               _canon_rows(chk, got_i) == _canon_rows(chk, ins),
               f"{what} v{frm}..v{to} differs from the model")


def _check_read(chk, out, model, op, got):
    rows = [tuple(decode(v) for v in r) for r in got["rows"]]
    t, v = op["t"], got["version"]
    if v not in model.versions:
        out.expect(False, f"read op {op['id']} saw unacknowledged v{v}")
        return
    state = model.at(v)
    if t == "read_where":
        exp = [r for k, r in state.items() if op["lo"] <= k <= op["hi"]]
        out.expect(_canon_rows(chk, rows) == _canon_rows(chk, exp),
                   f"readWhere op {op['id']} differs from the model")
    elif t == "read_version":
        exp = (len(state), sum(state) if state else None,
               sum(round(r[3] * 100) for r in state.values()) if state else None)
        out.expect(rows == [exp], f"time travel op {op['id']} differs from the model")
    elif t == "changes":
        _check_changes(chk, out, model, got["from"], v, rows,
                       f"change feed op {op['id']}")
    elif t == "sql":
        sel = [r for k, r in state.items() if op["lo"] <= k <= op["hi"]]
        exp = (len(sel), sum(r[0] for r in sel) if sel else None,
               min(r[3] for r in sel) if sel else None)
        out.expect(rows == [exp], f"SQL op {op['id']} differs from the model")


# -------------------------------------------------------------- curation_batch

def check_curation(labels, self_queries, result):
    """Returns (outcome, quality ratios)."""
    out = Outcome()
    c = result["checks"]
    injected = dropped_inj = fresh = dropped_fresh = 0
    for b in c["kept"]:
        kept = set(b["kept"])
        for d in b["offered"]:
            kind = labels[d]
            if kind == "exact":
                out.expect(d not in kept, f"exact duplicate {d} was kept")
            if kind == "fresh":
                fresh += 1
                dropped_fresh += d not in kept
            else:
                injected += 1
                dropped_inj += d not in kept
    for orig, match in c["self"]:
        out.expect(orig == match, f"self-query of {orig} returned {match} first")
    out.expect(len(c["self"]) == len(self_queries),
               "a self-query returned no hit")
    hits = total = 0
    for r in c["recall"]:
        exact = {tuple(p) for p in r["exact"]}
        hits += len(exact & {tuple(p) for p in r["ivf"]})
        total += len(exact)
    ratios = {
        "operators.curation.dedup_recall": dropped_inj / injected if injected else 0.0,
        "operators.curation.false_drop_ratio": dropped_fresh / fresh if fresh else 0.0,
        "operators.curation.ann_recall_at_k": hits / total if total else 0.0,
    }
    return out, ratios
