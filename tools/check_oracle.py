#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf parquet tables and compare (rows, schema names, sorted
value multiset) against the Spark parquet dumps produced by graft.Verify.
Every query in oracle_sql.json must have a dump and every dump an oracle:
either one missing is a FAIL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v

def connect(sf_dir):
    """DuckDB connection with one view per sf parquet table."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def canon(con, sql):
    """Run sql; return (sorted column names, sorted rows with columns in
    name order) — the gate's comparison form."""
    rows = con.execute(sql).fetchall()
    cols = [c[0] for c in con.description]
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(norm(r[i]) for i in idx) for r in rows)

def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dirs | oracle.keys()):
        if name not in dirs:
            # a query that threw wrote no output: a failure, not a skip
            print(f"  [FAIL] {name}: no output")
            n_fail += 1
            continue
        if name not in oracle:
            # an output nothing checks is not a pass
            print(f"  [FAIL] {name}: no oracle")
            n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        gcols, g = canon(con, f"SELECT * FROM read_parquet({files!r})")
        ecols, e = canon(con, oracle[name])
        if gcols == ecols and g == e:
            print(f"  [PASS] {name}: {len(g)} rows")
            n_pass += 1
        else:
            print(f"  [FAIL] {name}: schema {gcols} vs {ecols}; "
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
