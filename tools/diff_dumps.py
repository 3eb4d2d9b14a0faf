#!/usr/bin/env python3
"""Prove two graft.Verify output dirs row-identical: for every query dump
in either dir, compare column names and types (DuckDB DESCRIBE) and the
rows as multisets (EXCEPT ALL both ways, no float rounding). A query
dumped on one side only is a difference.

Usage: python3 tools/diff_dumps.py <a/verifyOutDir> <b/verifyOutDir>
Exits 1 on any difference.
"""
import sys, os
import duckdb

def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}

def main(a_dir, b_dir):
    con = duckdb.connect()
    qa, qb = queries(a_dir), queries(b_dir)
    n_same = n_diff = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"  [DIFF] {q}: dumped in {a_dir if q in qa else b_dir} only")
            n_diff += 1
            continue
        a = f"read_parquet('{a_dir}/{q}/*.parquet')"
        b = f"read_parquet('{b_dir}/{q}/*.parquet')"
        cols_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
        cols_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
        only_a = only_b = None
        if cols_a == cols_b:
            only_a, only_b = (con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})"
            ).fetchone()[0] for x, y in ((a, b), (b, a)))
        if cols_a == cols_b and only_a == only_b == 0:
            n = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
            print(f"  [SAME] {q}: {n} rows")
            n_same += 1
        else:
            why = ("columns differ" if cols_a != cols_b
                   else f"{only_a} rows only in a, {only_b} only in b")
            print(f"  [DIFF] {q}: {why}")
            n_diff += 1
    print(f"SAME={n_same} DIFF={n_diff}")
    return 1 if n_diff else 0

if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
