#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet written by graft.Verify,
runs the matching oracle_sql.json entry in DuckDB against the same
parquet tables, sorts columns by name, canonicalizes values (floats
rounded, timestamps to isoformat at microsecond precision), sorts
rows, and diffs. Prints PASS/FAIL per query.

STRICT DECIMAL RULE (round-7, from the r6 verdict): the driver's hash
renders DECIMAL values float-style, so any decimal output column whose
value carries trailing zeros ('138014.00' vs '138014.0') fails the
driver's hash_match even when both engines agree at full precision.
str(Decimal) here used to hide that (13 driver-red rows said PASS
locally). A query with ANY decimal-typed output column — on either
engine — now FAILS outright: graded outputs must be
double/long/string/timestamp only (SURVEY §5). Decimal stays legal
INSIDE a query; only the final projection is constrained.
"""
import sys, os, json, math, glob
import decimal
import duckdb
import pyarrow.parquet as pq


def decimal_cols(schema):
    """Names of decimal128/256-typed columns in an arrow schema."""
    return [f.name for f in schema if str(f.type).startswith("decimal")]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style float normalization: round to ~9 significant digits
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        # driver-style: decimals render through their float repr, NOT
        # str(Decimal) — this is what made trailing-zero values diverge
        return f"{float(v):.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:26]  # truncate to microseconds
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_of(cols, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    n = len(cols[0]) if cols else 0
    out = []
    for r in range(n):
        out.append(tuple(canon(cols[i][r]) for i in order))
    out.sort()
    return [",".join(r) for r in out], [names[i] for i in order]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify records plan-time crashes here (a query that never ran
    # otherwise looks identical to one omitted by a name filter)
    failed_path = f"{out_dir}/failed_queries.json"
    crashed = {}
    if os.path.exists(failed_path):
        crashed = json.load(open(failed_path))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            if name in crashed:
                print(f"FAIL {name}: CRASHED at plan/run time: {crashed[name]}")
            else:
                print(f"FAIL {name}: no spark output at {res_dir}")
            n_fail += 1
            continue
        tbl = pq.read_table(res_dir)
        bad = decimal_cols(tbl.schema)
        if bad:
            print(f"FAIL {name}: decimal-typed output columns {bad} — "
                  "the driver hash renders decimals float-style and fails "
                  "on trailing zeros; cast to DOUBLE in the final projection")
            n_fail += 1
            continue
        s_names = tbl.column_names
        s_cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        s_rows, s_order = rows_of(s_cols, s_names)
        try:
            cur = con.execute(sql)
            d_names = [d[0] for d in cur.description]
            d_data = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        d_cols = [[row[i] for row in d_data] for i in range(len(d_names))]
        if not d_cols:
            d_cols = [[] for _ in d_names]
        d_rows, d_order = rows_of(d_cols, d_names)
        if sorted(s_names) != sorted(d_names):
            print(f"FAIL {name}: columns spark={sorted(s_names)} duck={sorted(d_names)}")
            n_fail += 1
            continue
        # arrow-level schema parity (the driver compares types too):
        # int-width drift (spark size()/row_number() = int32 vs duckdb
        # len()/row_number() = int64) must be caught here
        try:
            duck_arrow = con.execute(sql).arrow()
            # the strict decimal rule applies to the ORACLE projection
            # too: a decimal-typed DuckDB column hits the same
            # float-repr trailing-zero hazard in the driver hash
            dbad = decimal_cols(duck_arrow.schema)
            if dbad:
                print(f"FAIL {name}: decimal-typed ORACLE columns {dbad} — "
                      "cast to DOUBLE in the oracle's final projection")
                n_fail += 1
                continue
            s_types = {f.name: str(f.type) for f in tbl.schema}
            d_types = {f.name: str(f.type) for f in duck_arrow.schema}
            tdiff = {k: (s_types.get(k), d_types.get(k))
                     for k in s_types if s_types.get(k) != d_types.get(k)}
            if tdiff:
                print(f"FAIL {name}: type drift {tdiff}")
                n_fail += 1
                continue
        except Exception:
            pass  # arrow conversion unsupported for some types; values still compared
        if s_rows == d_rows:
            print(f"PASS {name} ({len(s_rows)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            for i, (a, b) in enumerate(zip(s_rows, d_rows)):
                if a != b:
                    print(f"  first diff at row {i} (cols {s_order}):")
                    print(f"    spark: {a[:300]}")
                    print(f"    duck : {b[:300]}")
                    break
            else:
                src = s_rows if len(s_rows) > len(d_rows) else d_rows
                which = "spark" if len(s_rows) > len(d_rows) else "duck"
                print(f"  extra rows in {which}: {src[min(len(s_rows), len(d_rows))][:300]}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


def bench_gate(new_path, prior_path, max_ratio=1.3):
    """LIKE-FOR-LIKE bench regression gate (round-20, from the r19
    verdict): the headline '2x of the r1 198 s baseline' decays as the
    board grows (~10 s of new graded lifecycles per round), so the
    meaningful signal is the SHARED-query total against the prior
    round's idle record. Compares the queries present in BOTH bench
    JSONs ({"queries": {name: seconds}}, top level or under "parsed")
    and fails when none is shared or when the new shared
    total exceeds max_ratio x the prior one — a real regression
    cluster, not board growth. Run on an IDLE box only (BASELINE.md
    documents ~10% run-to-run variance; 1.3 leaves headroom for it).

    Usage: python3 tools/check.py bench <new.json> <prior.json> [ratio]
    """
    def queries(path):
        # a bench line keeps its map at the top level; a recorded
        # BENCH_r*.json record keeps the parsed line under "parsed"
        rec = json.load(open(path))
        return rec.get("queries") or rec.get("parsed", {}).get("queries", {})
    nq, pq_ = queries(new_path), queries(prior_path)
    shared = sorted(set(nq) & set(pq_))
    if not shared:
        print("bench-gate: FAIL — no shared queries; a gate that "
              "compares nothing passes nothing")
        sys.exit(1)
    tn = sum(nq[q] for q in shared)
    tp = sum(pq_[q] for q in shared)
    ratio = tn / tp if tp > 0 else float("inf")
    movers = sorted(((nq[q] - pq_[q], q) for q in shared), reverse=True)
    print(f"bench-gate: shared {len(shared)} queries: "
          f"{tp:.1f}s -> {tn:.1f}s ({ratio:.2f}x, gate {max_ratio}x)")
    for d, q in movers[:5]:
        print(f"  {q}: {pq_[q]:.2f}s -> {nq[q]:.2f}s ({d:+.2f}s)")
    if ratio > max_ratio:
        print(f"bench-gate: FAIL — shared-query total regressed past "
              f"{max_ratio}x; name the cause or fix the movers above")
        sys.exit(1)
    print("bench-gate: PASS")
    sys.exit(0)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "bench":
        bench_gate(sys.argv[2], sys.argv[3],
                   float(sys.argv[4]) if len(sys.argv) > 4 else 1.3)
    else:
        main()
