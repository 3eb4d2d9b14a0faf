#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables and compare (rows, schema names, sorted
value multiset) against the Spark parquet dumps produced by graft.Verify.
Every query in oracle_sql.json must have a dump: a missing one is a FAIL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dirs | oracle.keys()):
        d = os.path.join(out_dir, name)
        if name not in dirs:
            # a query that threw wrote no output: a failure, not a skip
            print(f"  [FAIL] {name}: no output")
            n_fail += 1
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        cols = [c[0] for c in con.description]
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        exp = con.execute(oracle[name]).fetchall()
        ecols = [c[0] for c in con.description]
        # driver semantics: sort columns by name, then hash sorted rows
        gidx = [cols.index(c) for c in sorted(cols)]
        eidx = [ecols.index(c) for c in sorted(ecols)]
        g = sorted(tuple(norm(r[i]) for i in gidx) for r in got)
        e = sorted(tuple(norm(r[i]) for i in eidx) for r in exp)
        ok_schema = sorted(cols) == sorted(ecols)
        if ok_schema and g == e:
            print(f"  [PASS] {name}: {len(g)} rows")
            n_pass += 1
        else:
            print(f"  [FAIL] {name}: schema {sorted(cols)} vs {sorted(ecols)}; "
                  f"rows {len(g)} vs {len(e)}")
            for a, b in list(zip(g, e))[:5]:
                if a != b:
                    print(f"      got {a}\n      exp {b}")
            if len(g) != len(e):
                sg, se = set(g), set(e)
                print(f"      only-got: {list(sg-se)[:3]}")
                print(f"      only-exp: {list(se-sg)[:3]}")
            n_fail += 1
    print(f"PASS={n_pass} FAIL={n_fail}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
