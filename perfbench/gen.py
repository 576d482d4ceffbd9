"""Deterministic inputs for the layered benchmark.

Two kinds of input:

* base tables -- sf0.1-shaped TPC-H-ish tables plus ``documents``,
  ``embeddings`` and ``events`` (same names, columns, types and row
  counts as the sf0.1 fixture), generated from a FIXED seed so that
  every run and every checkout reads the same bytes;
* workload inputs -- the op stream, keys, CDC batches, document
  batches and query vectors of one run, generated from ``--seed``.

The JVM side receives only these files. Labels the output checks need
(which documents are injected duplicates, the expected table model)
stay on the Python side.
"""
import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
BASE_VERSION = "b1"

N_CUSTOMER = 15000
N_ORDERS = 150000
N_LINEITEM = 600000
N_PART = 20000
N_SUPPLIER = 1000
N_EVENTS = 100000
N_DOCS = 5000
N_VECS = 2000
VEC_DIM = 64
N_LABELS = 10

EPOCH = datetime(1970, 1, 1)
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector customer the join").split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]


def _ts(rng, lo, hi, n, day_only):
    """Timestamps (microsecond precision, no zone) uniform in [lo, hi)."""
    lo_us = int((lo - EPOCH).total_seconds() * 1e6)
    hi_us = int((hi - EPOCH).total_seconds() * 1e6)
    us = rng.integers(lo_us, hi_us, n)
    if day_only:
        us -= us % 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _doc_text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def _write(path, table):
    pq.write_table(table, path)


def base_tables(out):
    """Write the base tables into directory ``out`` (idempotent)."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]}))
    adj = np.array(["large", "hot", "blue", "small", "cold", "red"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptype = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            adj[rng.integers(0, 6, N_PART)], noun[rng.integers(0, 6, N_PART)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": ptype[rng.integers(0, 5, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2)}))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900, 500000, N_ORDERS), 2),
        "o_orderdate": _ts(rng, datetime(1992, 1, 1), datetime(2002, 1, 1),
                           N_ORDERS, True),
        "o_orderpriority": prios[rng.integers(0, 5, N_ORDERS)]}))
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(rng, datetime(1992, 1, 1), datetime(2002, 1, 1),
                          N_LINEITEM, True)}))
    etypes = np.array(["signup", "purchase", "view", "click", "error"])
    ev_ts = np.sort(rng.integers(1_704_067_200_000_000, 1_706_659_200_000_000,
                                 N_EVENTS))
    _write(f"{out}/events.parquet", pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, N_EVENTS), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 200, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}))
    lens = rng.integers(8, 90, N_DOCS)
    texts = [_doc_text(rng, n) for n in lens]
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)]
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    centers = rng.normal(0, 1, (N_LABELS, VEC_DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = (centers[labels] + rng.normal(0, 0.45, (N_VECS, VEC_DIM))
            ).astype(np.float32)
    _write(f"{out}/embeddings.parquet", pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    np.save(f"{out}/centers.npy", centers)


def ensure_base(root):
    """Base tables under ``root``/base-<version>, built once per checkout."""
    out = os.path.join(root, f"base-{BASE_VERSION}")
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            import shutil
            shutil.rmtree(tmp)
        base_tables(tmp)
        with open(os.path.join(tmp, ".done"), "w") as f:
            f.write(digest_dir(tmp))
        os.replace(tmp, out)
    return out


def digest_dir(d):
    """sha256 over every regular file under ``d`` (names and bytes)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(d):
        dirs.sort()
        for name in sorted(files):
            if name == ".done":
                continue
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def zipf_keys(rng, n_domain, size, s=1.1):
    """Zipf-skewed draws over a seeded permutation of 0..n_domain-1: a few
    hot keys repeat, and the long tail yields many distinct literals."""
    ranks = np.arange(1, n_domain + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(n_domain)
    return perm[rng.choice(n_domain, size=size, p=p)]


# ---------------------------------------------------------------- record_reads

ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "o_orderdate, o_orderpriority")
CUST_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
PART_COLS = "p_partkey, p_name, p_brand, p_type, p_size, p_retailprice"

# (template, class, key domain). The cycle fixes each template's share,
# so seeds change which keys are read, never the mix. An odd cycle
# length keeps the median and p90 ranks inside one template's samples.
READ_CYCLE = [
    ("point_customer", "point", "cust"),
    ("qbe_orders", "qbe", "cust"),
    ("sql_point", "sql", "cust"),
    ("point_order", "point", "order"),
    ("rel_has_many", "relation", "cust"),
    ("total_orders", "qbe", "cust"),
    ("sql_qbe", "sql", "cust"),
    ("point_part", "point", "part"),
    ("rel_belongs_to", "relation", "order"),
    ("select_list", "qbe", None),
    ("sql_join", "sql", "cust"),
    ("total_lineitem", "qbe", "part"),
    ("rel_m2m", "relation", "part"),
    ("sql_agg_lineitem", "sql", "day"),
    ("sql_agg_orders", "sql", "day"),
]
DOMAIN = {"cust": N_CUSTOMER, "order": N_ORDERS, "part": N_PART, "day": 3000}


def _day(k):
    return (datetime(1993, 1, 1) + timedelta(days=int(k))).strftime(
        "%Y-%m-%d 00:00:00")


def read_sql(t, k):
    """(spark_sql, oracle_sql) for template ``t`` at key ``k``. The Spark
    text runs over the views ``enableSql(persistent = true)`` registers;
    the oracle text runs in DuckDB over the same parquet files."""
    if t == "point_customer":
        return None, (f"SELECT {CUST_COLS} FROM customer WHERE c_custkey = {k} "
                      "ORDER BY c_custkey LIMIT 1")
    if t == "point_order":
        return None, (f"SELECT {ORDER_COLS} FROM orders WHERE o_orderkey = {k} "
                      "ORDER BY o_orderdate DESC, o_orderkey LIMIT 1")
    if t == "point_part":
        return None, (f"SELECT {PART_COLS} FROM part WHERE p_partkey = {k} "
                      "ORDER BY p_partkey LIMIT 1")
    if t == "qbe_orders":
        return None, (f"SELECT {ORDER_COLS} FROM orders WHERE o_custkey = {k} "
                      "ORDER BY o_orderdate DESC, o_orderkey LIMIT 10")
    if t == "total_orders":
        return None, f"SELECT count(*) AS total FROM orders WHERE o_custkey = {k}"
    if t == "total_lineitem":
        return None, f"SELECT count(*) AS total FROM lineitem WHERE l_partkey = {k}"
    if t == "select_list":
        return None, "SELECT DISTINCT n_nationkey, n_name FROM nation"
    if t == "rel_belongs_to":
        return None, (f"SELECT {ORDER_COLS}, {CUST_COLS} FROM orders JOIN "
                      f"customer ON o_custkey = c_custkey WHERE o_orderkey = {k}")
    if t == "rel_has_many":
        return None, (f"SELECT {CUST_COLS}, {ORDER_COLS} FROM customer JOIN "
                      f"orders ON c_custkey = o_custkey WHERE c_custkey = {k}")
    if t == "rel_m2m":
        return None, (f"SELECT {PART_COLS}, {ORDER_COLS} FROM part JOIN lineitem "
                      "ON p_partkey = l_partkey JOIN orders ON l_orderkey = "
                      f"o_orderkey WHERE p_partkey = {k}")
    if t == "sql_point":
        q = f"SELECT * FROM customer WHERE c_custkey = {k}"
        return q, q.replace("*", CUST_COLS)
    if t == "sql_qbe":
        q = ("SELECT * FROM orders WHERE o_custkey = {k} ORDER BY o_orderdate "
             "DESC, o_orderkey LIMIT 10").format(k=k)
        return q, q.replace("*", ORDER_COLS)
    if t == "sql_join":
        q = ("SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c "
             f"JOIN orders o ON c.c_custkey = o.o_custkey WHERE c.c_custkey = {k}")
        return q, q
    if t == "sql_agg_lineitem":
        q = ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
             "sum(l_quantity) AS sum_qty, min(l_extendedprice) AS min_price, "
             "max(l_discount) AS max_disc FROM lineitem WHERE l_shipdate <= "
             "{lit} '{d}' GROUP BY l_returnflag, l_linestatus")
        return (q.format(lit="TIMESTAMP_NTZ", d=_day(k)),
                q.format(lit="TIMESTAMP", d=_day(k)))
    if t == "sql_agg_orders":
        q = ("SELECT o_orderpriority, count(*) AS cnt, max(o_totalprice) AS "
             "max_price FROM orders WHERE o_orderdate >= {lit} '{d0}' AND "
             "o_orderdate < {lit} '{d1}' GROUP BY o_orderpriority")
        return (q.format(lit="TIMESTAMP_NTZ", d0=_day(k), d1=_day(k + 90)),
                q.format(lit="TIMESTAMP", d0=_day(k), d1=_day(k + 90)))
    raise ValueError(t)


def record_reads_inputs(seed, n_ops=1600, checks_per_template=3,
                        checked_cycles=4):
    """The read op stream: one untimed warm-up cycle, then ``n_ops``
    timed ops. A seeded sample of each template's first
    ``checked_cycles`` occurrences is output-checked."""
    n_warm = len(READ_CYCLE)
    rng = np.random.default_rng([seed, 1])
    total = n_warm + n_ops
    keys = {d: zipf_keys(rng, n, total) for d, n in DOMAIN.items()}
    ops = []
    for i in range(total):
        t, cls, dom = READ_CYCLE[i % len(READ_CYCLE)]
        k = int(keys[dom][i]) if dom else 0
        spark_sql, oracle = read_sql(t, k)
        ops.append({"id": i, "t": t, "cls": cls, "k": k, "sql": spark_sql,
                    "warm": i < n_warm, "cycle": i % len(READ_CYCLE) == 0,
                    "oracle": oracle})
    # seeded output-check sample: a few of each template's first
    # ``checked_cycles`` timed occurrences
    by_t = {}
    for op in ops[n_warm:]:
        by_t.setdefault(op["t"], []).append(op["id"])
    for t in sorted(by_t):
        first = by_t[t][:checked_cycles]
        for i in rng.choice(first, size=min(checks_per_template, len(first)),
                            replace=False):
            ops[int(i)]["check"] = True
    return ops


# ------------------------------------------------------------- table_lifecycle

LIFE_INIT_ROWS = 30000
NEW_KEY_BASE = 1_000_000
# one cycle of the lifecycle loop: pruned reads between the writes,
# maintenance closes the cycle
LIFE_CYCLE = [
    "append", "read_where", "upsert", "read_where", "read_version", "merge",
    "read_where", "sql", "stream", "delete_mor", "read_where", "changes",
    "replay", "fold_deletes", "compact", "expire", "vacuum",
]


def _order_rows(rng, keys):
    n = len(keys)
    day0 = datetime(1992, 1, 1)
    days = rng.integers(0, 3650, n)
    return [{
        "o_orderkey": int(k),
        "o_custkey": int(c),
        "o_orderstatus": ["F", "O", "P"][int(s)],
        "o_totalprice": float(round(p, 2)),
        "o_orderdate": (day0 + timedelta(days=int(d))).strftime("%Y-%m-%d"),
        "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM",
                            "4-NOT SPECIFIED", "5-LOW"][int(q)],
    } for k, c, s, p, d, q in zip(
        keys, rng.integers(0, N_CUSTOMER, n), rng.integers(0, 3, n),
        rng.uniform(900, 500000, n), days, rng.integers(0, 5, n))]


def table_lifecycle_inputs(seed, n_cycles=10, append_rows=300, upsert_rows=200,
                           merge_rows=200, delete_rows=100, stream_rows=500):
    """The lifecycle op stream. Batches are drawn while simulating the
    live key set, so upserts and merges hit live keys, MoR deletes pick
    live victims, and appends only bring fresh keys. Replays repeat an
    earlier ledgered batch verbatim (same batch id, same rows)."""
    rng = np.random.default_rng([seed, 2])
    live = set(range(LIFE_INIT_ROWS))
    next_key = NEW_KEY_BASE
    next_event = 0
    ledgered = []  # op ids of ledgered writes, replay candidates
    ops = []
    for c in range(n_cycles):
        for t in LIFE_CYCLE:
            i = len(ops)
            op = {"id": i, "t": t, "cycle": t == LIFE_CYCLE[0]}
            if t == "append":
                keys = list(range(next_key, next_key + append_rows))
                next_key += append_rows
                op.update(batch=i, rows=_order_rows(rng, keys))
                live.update(keys)
                ledgered.append(i)
            elif t == "upsert":
                old = rng.choice(sorted(live), upsert_rows * 3 // 4, replace=False)
                new = list(range(next_key, next_key + upsert_rows // 4))
                next_key += len(new)
                op.update(batch=i, rows=_order_rows(rng, [*map(int, old), *new]))
                live.update(new)
                ledgered.append(i)
            elif t == "merge":
                cand = rng.choice(sorted(live), merge_rows * 3 // 4, replace=False)
                dels = [int(k) for k in cand[: merge_rows // 4]]
                upds = [int(k) for k in cand[merge_rows // 4:]]
                new = list(range(next_key, next_key + merge_rows // 4))
                next_key += len(new)
                rows = _order_rows(rng, dels + upds + new)
                for r in rows[: len(dels)]:
                    r["op"] = "D"
                for r in rows[len(dels):]:
                    r["op"] = "U"
                op.update(batch=i, rows=rows)
                live.difference_update(dels)
                live.update(new)
                ledgered.append(i)
            elif t == "delete_mor":
                op["ids"] = [int(k) for k in
                             rng.choice(sorted(live), delete_rows, replace=False)]
                live.difference_update(op["ids"])
            elif t == "replay":
                op["of"] = int(ledgered[int(rng.integers(0, len(ledgered)))])
            elif t == "read_where":
                lo = int(rng.integers(0, LIFE_INIT_ROWS - 200))
                op.update(lo=lo, hi=lo + 200)
            elif t == "sql":
                lo = int(rng.integers(0, LIFE_INIT_ROWS - 10000))
                op.update(lo=lo, hi=lo + 10000)
            elif t == "read_version":
                op["back"] = 3
            elif t == "changes":
                op["span"] = 2
            elif t == "stream":
                op["events"] = list(range(next_event, next_event + stream_rows))
                next_event += stream_rows
            ops.append(op)
    return ops


# -------------------------------------------------------------- curation_batch

CUR_INIT_DOCS = 2000
DOC_ID_BASE = 1_000_000
VEC_ID_BASE = 1_000_000
QUERY_ID_BASE = 2_000_000
CURATION_CYCLE = ["dedup", "quality", "ivf_ingest", "ann", "ann"]
CURATION_EVERY = 4  # batches per cycle; a cycle ends with these passes
CURATION_PASSES = ["components", "retrain"]


def curation_inputs(seed, base_dir, n_batches=24, batch_docs=100, n_exact=10,
                    n_near=10, batch_vecs=20, queries_per_ann=16):
    """Document batches with a known share of injected exact and near
    duplicates (copies of initial-corpus documents, which are always in
    the signature store), vector batches and ANN query batches."""
    rng = np.random.default_rng([seed, 3])
    docs = pq.read_table(f"{base_dir}/documents.parquet").to_pydict()
    corpus = [(i, t) for i, t in zip(docs["doc_id"], docs["text"])
              if i < CUR_INIT_DOCS]
    long_docs = [(i, t) for i, t in corpus if len(t.split()) >= 40]
    emb = pq.read_table(f"{base_dir}/embeddings.parquet").to_pydict()
    centers = np.load(f"{base_dir}/centers.npy")
    next_doc, next_vec, next_q = DOC_ID_BASE, VEC_ID_BASE, QUERY_ID_BASE
    ops, labels = [], {}
    for b in range(n_batches):
        batch = []
        for _ in range(batch_docs - n_exact - n_near):
            batch.append((next_doc, _doc_text(rng, int(rng.integers(20, 90))),
                          "fresh"))
            next_doc += 1
        for j in rng.choice(len(corpus), n_exact, replace=False):
            batch.append((next_doc, corpus[int(j)][1], "exact"))
            next_doc += 1
        for j in rng.choice(len(long_docs), n_near, replace=False):
            words = long_docs[int(j)][1].split()
            pos = int(rng.integers(0, len(words)))
            words[pos] = "near" + words[pos]
            batch.append((next_doc, " ".join(words), "near"))
            next_doc += 1
        order = rng.permutation(len(batch))
        batch = [batch[int(o)] for o in order]
        for d, _, kind in batch:
            labels[d] = kind
        doc_rows = [{"doc_id": d, "text": t,
                     "lang": LANGS[int(rng.integers(0, len(LANGS)))],
                     "source": f"src{int(rng.integers(0, 20))}",
                     "n_chars": len(t)} for d, t, _ in batch]
        lab = rng.integers(0, N_LABELS, batch_vecs)
        vecs = centers[lab] + rng.normal(0, 0.45, (batch_vecs, VEC_DIM))
        vec_rows = [{"vec_id": next_vec + j,
                     "embedding": [float(np.float32(x)) for x in v]}
                    for j, v in enumerate(vecs)]
        next_vec += batch_vecs
        for t in CURATION_CYCLE:
            op = {"id": len(ops), "t": t, "batch": b,
                  "cycle": t == "dedup" and b % CURATION_EVERY == 0}
            if t == "dedup":
                op["docs"] = doc_rows
            elif t == "ivf_ingest":
                op["vecs"] = vec_rows
            elif t == "ann":
                src = rng.choice(N_VECS, queries_per_ann, replace=False)
                qv = (np.asarray([emb["embedding"][int(s)] for s in src])
                      + rng.normal(0, 0.1, (queries_per_ann, VEC_DIM)))
                op["queries"] = [{"vec_id": next_q + j,
                                  "embedding": [float(np.float32(x)) for x in v]}
                                 for j, v in enumerate(qv)]
                next_q += queries_per_ann
            ops.append(op)
        if (b + 1) % CURATION_EVERY == 0:
            for t in CURATION_PASSES:
                ops.append({"id": len(ops), "t": t, "batch": b})
    # self-queries for the untimed check: exact copies of corpus vectors
    self_q = [int(s) for s in rng.choice(N_VECS, 12, replace=False)]
    return ops, labels, self_q


def workload_inputs(workload, seed, base_dir):
    """(ops for the JVM, python-side labels) for one run."""
    if workload == "record_reads":
        ops = record_reads_inputs(seed)
        return ops, {}
    if workload == "table_lifecycle":
        return table_lifecycle_inputs(seed), {}
    if workload == "curation_batch":
        ops, labels, self_q = curation_inputs(seed, base_dir)
        return ops, {"labels": labels, "self_queries": self_q}
    raise ValueError(workload)


def inputs_digest(ops, extra):
    h = hashlib.sha256()
    h.update(json.dumps(ops, sort_keys=True).encode())
    h.update(json.dumps(extra, sort_keys=True).encode())
    return h.hexdigest()


def write_inputs(path, ops, extra):
    """The JVM's input: one JSON op per line (oracle SQL stripped), plus
    ``<path>.extra.json`` with the initial table sizes and self-queries."""
    with open(path, "w") as f:
        for op in ops:
            f.write(json.dumps({k: v for k, v in op.items() if k != "oracle"}))
            f.write("\n")
    with open(path + ".extra.json", "w") as f:
        json.dump({"init_rows": LIFE_INIT_ROWS, "init_docs": CUR_INIT_DOCS,
                   "self_queries": extra.get("self_queries", [])}, f)
