#!/usr/bin/env python3
"""Regenerate perfbench/expected.json from the DuckDB oracle.

    python3 perfbench/gen_expected.py

For every ADS query behind a Sugar route and every corpus_dedup query it
runs the query's oracle SQL (`SparkEntry.oracleSql`) in DuckDB over the
benchmark data and records the frame's digest, canonicalized the way
tools/compare.py does. Dedup queries without an oracle get the engine's
row count. Route bodies are rendered from the ORACLE frames: each is cast
to the engine query's schema, published as an AdsStore version and bound
in a QueryServer, so the expected body is what the production shaping
code makes of the oracle's rows. The engine's own frames and one normal
benchmark pass of each batch workload must then match, or nothing is
written.
"""
import json
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq

import report
import run

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main():
    build_dir = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = run.build(build_dir)
    work = os.path.join(run.ROOT, ".bench_work", f"gen-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = lambda: time.time() + 900  # noqa: E731
    try:
        oracles = run.jvm_pass(cp, work, ["mode=oracles", "seed=0", "seconds=0", "trace=0"],
                               run.CORES, deadline())["detail"]
        sql = oracles["sql"]
        ads = sorted(set(oracles["routes"].values()))
        dedup_queries = oracles["dedup"]
        names = ads + dedup_queries
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
        frames = {}
        for q in names:
            if q not in sql:
                continue
            frames[q] = report.frame_digest_df(con.execute(sql[q]).df())[0]
            if q in ads:
                os.makedirs(os.path.join(work, "frames", q))
                pq.write_table(con.execute(sql[q]).arrow(), os.path.join(work, "frames", q, "part-0.parquet"))
        missing = [q for q in ads if q not in frames]
        if missing:
            sys.exit(f"ADS queries without an oracle: {missing}")
        rendered = run.jvm_pass(cp, work, ["mode=render", "seed=0", "seconds=0", "trace=0",
                                           f"frames={os.path.join(work, 'frames')}"], run.CORES, deadline())
        bad = [q for q in ads if report.frame_digest(os.path.join(work, "engine", q))[0] != frames[q]]
        if bad:
            sys.exit(f"engine frames differ from the oracle: {bad}")
        expected = {"data": os.path.basename(run.DATA),
                    "routes": {r["route"]: r["sha256"] for r in rendered["detail"]["routes"]},
                    "frames": frames, "rows": {}}
        dedup = run.jvm_pass(cp, work, ["mode=dedup", "seed=0", "seconds=0", "trace=0"],
                             run.CORES, deadline())
        for q in dedup_queries:
            digest, rows = report.frame_digest(os.path.join(work, "results", q))
            if q in frames and digest != frames[q]:
                sys.exit(f"{q}: engine result differs from the oracle")
            if q not in frames:
                expected["rows"][q] = rows
        dash = run.jvm_pass(cp, work, ["mode=dashboard", "seed=0", "seconds=0", "trace=0"],
                            run.CORES, deadline())
        _, failed = run.check("dashboard_refresh", dash, work, expected)
        if failed or dedup["failed"]:
            sys.exit("the engine's served routes differ from the oracle-rendered bodies")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {run.EXPECTED}: {len(expected['routes'])} routes, {len(frames)} oracle frames, "
          f"{len(expected['rows'])} row counts")


if __name__ == "__main__":
    main()
