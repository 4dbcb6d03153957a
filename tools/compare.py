#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare (dev tool, not library code).

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [query ...]

For each query with an oracle in oracle_sql.json: run the SQL in DuckDB over the
sf parquet tables, load the Spark parquet result, sort columns by name and rows
by all columns, and compare values exactly (floats to 9 significant digits).
A MISSING output prints the exception Verify recorded for it in failed.json.
"""
import json, sys, glob, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, float):
            return float(f"{v:.9g}")
        return v
    df = df.apply(lambda col: col.map(norm))
    return df.sort_values(by=list(df.columns), key=lambda c: c.map(repr)).reset_index(drop=True)

def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    try:
        failed = json.load(open(f"{out}/failed.json"))
    except FileNotFoundError:
        failed = {}
    fails = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            why = failed.get(name)
            reason = (f" ({why['class']}: {why['message'].splitlines()[0] if why['message'] else ''})"
                      if why else "")
            print(f"{name}: MISSING spark output{reason}"); fails += 1; continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").df()
        oracle_df = con.execute(sql).df()
        s, o = canon(spark_df), canon(oracle_df)
        if list(s.columns) != list(o.columns):
            print(f"{name}: SCHEMA mismatch spark={list(s.columns)} oracle={list(o.columns)}")
            fails += 1
        elif len(s) != len(o):
            print(f"{name}: ROWS mismatch spark={len(s)} oracle={len(o)}")
            fails += 1
        elif not s.equals(o):
            diff = (s != o) & ~(s.isna() & o.isna())
            print(f"{name}: VALUE mismatch ({int(diff.to_numpy().sum())} cells)")
            bad = diff.any(axis=1)
            print("  spark:", s[bad].head(3).to_dict("records"))
            print("  oracle:", o[bad].head(3).to_dict("records"))
            fails += 1
        else:
            print(f"{name}: OK ({len(s)} rows)")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
