#!/usr/bin/env python3
"""Oracle-cost tripwire: times every oracle SQL in DuckDB.

The driver's correctness gate runs each `SparkEntry.oracleSql` entry in
DuckDB and compares against the Spark parquet. Round 11 shipped an EMPTY
correctness artifact because one oracle family (un-materialized PQ/IVF-PQ
CTEs) took 387 s/query and the gate starved before writing anything —
and the per-round entry counts had been eroding for two rounds
(r9 147 → r10 113 → r11 0) with no tripwire. This tool is that tripwire:
run it after adding/altering any oracle, and keep the totals in SCALE.md.

Usage:
  python3 tools/oracle_bench.py <sfDir> <oracle_sql.json> [--budget S] [--warn S] [--json OUT]

Exit 1 (loudly) if any single oracle exceeds --budget seconds (default 30)
or errors. --warn (default 3) flags slow-but-passing oracles for review.
"""
import sys, json, time, argparse

import compare

# The per-oracle wall bound in seconds; tools/gate.py imports it.
ORACLE_BUDGET_SEC = 30.0


def time_oracles(sf_dir, oracles):
    """Run every oracle SQL once in DuckDB over sf_dir's tables.
    Returns ({name: seconds, or None on error}, [errored names],
    total wall seconds). tools/gate.py times its oracle leg with this."""
    con = compare.connect(sf_dir)
    timings, errors = {}, []
    t_all = time.time()
    for name in sorted(oracles):
        t0 = time.time()
        try:
            con.execute(oracles[name]).fetchall()
        except Exception as e:
            errors.append(name)
            print(f"ORACLE ERROR {name}: {e}")
            timings[name] = None
            continue
        timings[name] = round(time.time() - t0, 3)
    return timings, errors, time.time() - t_all


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("oracle_json")
    ap.add_argument("--budget", type=float, default=ORACLE_BUDGET_SEC,
                    help="hard per-oracle wall budget in seconds (exit 1)")
    ap.add_argument("--warn", type=float, default=3.0,
                    help="advisory per-oracle threshold")
    ap.add_argument("--json", default=None, help="write per-oracle timings here")
    args = ap.parse_args()

    oracles = json.load(open(args.oracle_json))
    timings, errors, total = time_oracles(args.sf_dir, oracles)
    valid = {k: v for k, v in timings.items() if v is not None}
    over = sorted(k for k, v in valid.items() if v > args.budget)
    warned = sorted(k for k, v in valid.items() if args.warn < v <= args.budget)
    for k in over:
        print(f"OVER-BUDGET {k}: {valid[k]:.1f}s > {args.budget}s")

    ranked = sorted(((v, k) for k, v in valid.items()), reverse=True)
    print(f"\n== oracle timings (top 15 of {len(oracles)}) @ {args.sf_dir} ==")
    for v, k in ranked[:15]:
        flag = " <-- OVER" if k in over else (" <-- warn" if k in warned else "")
        print(f"  {v:8.2f}s  {k}{flag}")
    print(f"total oracle wall: {total:.1f}s  "
          f"({len(over)} over {args.budget}s budget, {len(warned)} over "
          f"{args.warn}s warn, {len(errors)} errors)")

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "total_sec": round(total, 1),
                       "budget_sec": args.budget, "over_budget": over,
                       "errors": errors, "timings": timings}, f, indent=1)
    if over or errors:
        print("\nFAIL: the driver's correctness gate would be at risk — "
              "materialize shared CTEs or simplify the flagged oracles.")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
