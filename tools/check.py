#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare (driver t2).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query result parquet under <verifyOutDir>/<name>/ and its SQL in
<verifyOutDir>/oracle_sql.json: run the SQL in DuckDB over the sfDir tables,
sort columns by name, sort rows, compare cell-by-cell. Exact match -> OK;
float-only tiny diffs -> FLOAT-CLOSE (treated as failure-risk); else FAIL.
A query Verify recorded as failed in <verifyOutDir>/_errors.json is a FAIL
that prints the recorded error, whether or not a result dir exists.
"""
import sys, json, glob, os, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors_path = f"{out_dir}/_errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    names = sorted(set(errors) | {d for d in os.listdir(out_dir)
                                  if os.path.isdir(os.path.join(out_dir, d))})
    n_ok = n_close = n_fail = n_noracle = 0
    for name in names:
        # a recorded failure outranks a result dir an earlier run left
        if name in errors:
            print(f"[FAIL] {name}: failed: {errors[name]}"); n_fail += 1; continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no result parquet"); n_fail += 1; continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            print(f"[rows-only] {name}: {len(got)} rows"); n_noracle += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}"); n_fail += 1; continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"[FAIL] {name}: columns {gc} vs oracle {ec}"); n_fail += 1; continue
        g = got[gc].values.tolist(); e = exp[ec].values.tolist()
        g = sorted([tuple(norm(v) for v in r) for r in g])
        e = sorted([tuple(norm(v) for v in r) for r in e])
        if g == e:
            print(f"[OK]   {name}: {len(g)} rows"); n_ok += 1
        elif len(g) != len(e):
            print(f"[FAIL] {name}: rowcount {len(g)} vs {len(e)}"); n_fail += 1
        else:
            diffs = [(a, b) for a, b in zip(g, e) if a != b]
            close = all(_rows_close(a, b) for a, b in diffs)
            tag = "CLOSE" if close else "FAIL"
            print(f"[{tag}] {name}: {len(diffs)}/{len(g)} differing rows; first: "
                  f"{diffs[0][0]} vs {diffs[0][1]}")
            if close: n_close += 1
            else: n_fail += 1
    print(f"\nsummary: ok={n_ok} close={n_close} fail={n_fail} rows_only={n_noracle}")
    return 1 if (n_fail or n_close) else 0

def _rows_close(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x == y:
            continue
        try:
            fx, fy = float(x), float(y)
            if not math.isclose(fx, fy, rel_tol=1e-9, abs_tol=1e-9):
                return False
        except ValueError:
            return False
    return True

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
