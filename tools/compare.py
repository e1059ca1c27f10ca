#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs each oracle SQL from outDir/oracle_sql.json in DuckDB over the
same parquet tables, reads the Spark result parquet, sorts columns by
name and rows by all columns, and compares values exactly.

Usage: python3 tools/compare.py <sfDir> <outDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

def connect(sf_dir):
    """DuckDB connection with one view per fixture table present in
    sf_dir, under the names the oracle SQL uses."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con

def run(sf_dir, out_dir):
    """Core gate compare; returns (n_pass, n_fail, results) so
    tools/gate.py can compose the gate artifact from the same code
    path the CLI uses."""
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}
    for name in sorted(oracles):
        sql = oracles[name]
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"MISSING spark output: {name}")
            n_fail += 1; results[name] = "missing"; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(spark_files)])
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"ORACLE ERROR {name}: {e}")
            n_fail += 1; results[name] = "oracle_error"; continue
        g, x = canon(got), canon(exp)
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(x.columns)}")
            n_fail += 1; results[name] = "cols"; continue
        if len(g) != len(x):
            print(f"FAIL {name}: rows {len(g)} vs {len(x)}")
            n_fail += 1; results[name] = "rows"; continue
        # exact value compare (stringify to dodge dtype-width diffs)
        gs = g.astype(str).values.tolist()
        xs = x.astype(str).values.tolist()
        if gs != xs:
            bad = next(i for i, (a, b) in enumerate(zip(gs, xs)) if a != b)
            print(f"FAIL {name}: first diff row {bad}:\n  spark={gs[bad]}\n  duck ={xs[bad]}")
            n_fail += 1; results[name] = "values"; continue
        n_pass += 1; results[name] = "ok"
        print(f"PASS {name} ({len(g)} rows)")
    # queries with no oracle: rows-only
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracles:
            continue
        files = glob.glob(f"{d}/*.parquet")
        rows = sum(len(pd.read_parquet(f)) for f in files) if files else 0
        print(f"{'PASS' if rows > 0 else 'FAIL'} {name} (rows-only: {rows})")
        if rows > 0: n_pass += 1
        else: n_fail += 1; results[name] = "empty"
    print(f"\n{n_pass} pass / {n_fail} fail")
    return n_pass, n_fail, results

def main(sf_dir, out_dir):
    _, n_fail, _ = run(sf_dir, out_dir)
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
