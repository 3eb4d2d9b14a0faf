#!/usr/bin/env python3
"""Prove two oracle sets equivalent on one sf: run each query's oracle SQL
from both oracle_sql.json files in DuckDB and compare column names and
sorted rows, normalised exactly as check_oracle.py compares a dump.
A query whose rows or columns differ, or whose name is in only one file,
is a difference, and so is an oracle that fails to run.

Usage: python3 tools/diff_oracle_sql.py <sfDir> <a/oracle_sql.json> <b/oracle_sql.json>
Exits 1 on any difference.
"""
import sys, json, os
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import connect, canon

def main(sf_dir, a_path, b_path):
    con = connect(sf_dir)
    a, b = json.load(open(a_path)), json.load(open(b_path))
    n_same = n_diff = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"  [DIFF] {name}: only in {a_path if name in a else b_path}")
            n_diff += 1
            continue
        try:
            acols, arows = canon(con, a[name])
            bcols, brows = canon(con, b[name])
        except duckdb.Error as e:
            print(f"  [DIFF] {name}: {type(e).__name__}: {e}")
            n_diff += 1
            continue
        if acols == bcols and arows == brows:
            print(f"  [SAME] {name}: {len(arows)} rows")
            n_same += 1
        else:
            print(f"  [DIFF] {name}: columns {acols} vs {bcols}; "
                  f"rows {len(arows)} vs {len(brows)}")
            n_diff += 1
    print(f"SAME={n_same} DIFF={n_diff}")
    return 1 if n_diff else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
