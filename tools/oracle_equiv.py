#!/usr/bin/env python3
"""Row-equivalence check between two oracle_sql.json dumps (dev tool, not library code).

Usage: python3 tools/oracle_equiv.py <sfDir> <a/oracle_sql.json> <b/oracle_sql.json>

Every oracle whose whitespace-normalized SQL differs between the two dumps is run
in DuckDB over the sf parquet tables from both files, and the two results are
compared after compare.py's `canon` (columns by name, rows sorted, floats to 9
significant digits). An oracle present in only one dump counts as a difference.
Exits non-zero on any difference.
"""
import json, sys
import duckdb

from compare import TABLES, canon


def main():
    sf, a_path, b_path = sys.argv[1:4]
    a, b = json.load(open(a_path)), json.load(open(b_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    fails = same = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: ONLY in {a_path if name in a else b_path}")
            fails += 1
            continue
        if " ".join(a[name].split()) == " ".join(b[name].split()):
            same += 1
            continue
        x, y = canon(con.execute(a[name]).df()), canon(con.execute(b[name]).df())
        if list(x.columns) != list(y.columns):
            print(f"{name}: SCHEMA differs {list(x.columns)} vs {list(y.columns)}")
            fails += 1
        elif not x.equals(y):
            print(f"{name}: ROWS differ ({len(x)} vs {len(y)} rows)")
            fails += 1
        else:
            print(f"{name}: EQUAL ({len(x)} rows)")
    print(f"{same} unchanged, {len(a.keys() | b.keys()) - same} changed, {fails} differ")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
