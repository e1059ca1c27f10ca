#!/usr/bin/env python3
"""Gate artifact generator WITH the oracle-wall tripwire as a hard
assertion.

The artifact carries its own evidence and FAILS LOUDLY, so the hazard
that once starved the driver's correctness gate (one pathological
oracle family at 387 s/query) cannot recur silently:

  - runs the DuckDB compare (tools/compare.py's exact code path) on
    every leg,
  - times every oracle of one leg (tools/oracle_bench.py's timer) and
    records the per-query max + the pinned bound (ORACLE_BUDGET_SEC);
    any oracle over the bound, any oracle error, or any compare
    failure -> exit 1 and the artifact says "tripwire": "FAIL",
  - writes <gate_json> with per-leg pass/fail counts plus
    `oracle_per_query_max_sec`, `oracle_budget_sec`, `oracle_slowest`
    (top 5), and `tripwire`.

Usage:
  python3 tools/gate.py <round> <gate_json> \
      --leg sf0.001=/root/testdata/sf0.001=/tmp/out1 \
      --leg sf0.01=/root/testdata/sf0.01=/tmp/out2 \
      [--oracle-leg sf0.01] [--suite-tests N] [--note TEXT]

where out dirs are graft.Verify outputs (one parquet dir per query +
oracle_sql.json); --oracle-leg picks which leg's oracles are timed
against the budget (default: the last leg).
"""
import sys, json, argparse

import compare
from oracle_bench import ORACLE_BUDGET_SEC, time_oracles


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int)
    ap.add_argument("gate_json")
    ap.add_argument("--leg", action="append", required=True,
                    help="label=sf_dir=verify_out_dir (repeatable)")
    ap.add_argument("--oracle-leg", default=None,
                    help="label of the leg whose oracles are timed "
                         "(default: last --leg)")
    ap.add_argument("--suite-tests", type=int, default=None)
    ap.add_argument("--note", default="")
    args = ap.parse_args()

    leg_specs = [tuple(spec.split("=")) for spec in args.leg]
    oracle_label = args.oracle_leg or leg_specs[-1][0]
    oracle_sf, oracle_out = next((s, o) for l, s, o in leg_specs
                                 if l == oracle_label)

    legs = {}
    for label, sf_dir, out_dir in leg_specs:
        print(f"== compare @ {label} ==")
        n_pass, n_fail, results = compare.run(sf_dir, out_dir)
        legs[label] = {"pass": n_pass, "fail": n_fail,
                       "failed_queries": sorted(k for k, v in results.items()
                                                if v != "ok")}

    print(f"== oracle wall @ {oracle_label} ==")
    timings, errors, total = time_oracles(
        oracle_sf, json.load(open(f"{oracle_out}/oracle_sql.json")))
    valid = {k: v for k, v in timings.items() if v is not None}
    worst = max(valid.values()) if valid else None
    slowest = sorted(valid.items(), key=lambda kv: -kv[1])[:5]
    over = sorted(k for k, v in valid.items() if v > ORACLE_BUDGET_SEC)

    ok = (all(l["fail"] == 0 for l in legs.values())
          and not errors and not over and worst is not None)
    artifact = {
        "round": args.round,
        "queries": len(timings),
        **({"suite_tests": args.suite_tests} if args.suite_tests else {}),
        **legs,
        "oracle_leg": oracle_label,
        "oracle_wall_sec": round(total, 1),
        "oracle_per_query_max_sec": worst,
        "oracle_budget_sec": ORACLE_BUDGET_SEC,
        "oracle_slowest": [{"query": k, "sec": v} for k, v in slowest],
        "oracle_over_budget": over,
        "oracle_errors": errors,
        "tripwire": "PASS" if ok else "FAIL",
        **({"note": args.note} if args.note else {}),
    }
    with open(args.gate_json, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: artifact[k] for k in
                      ("round", "queries", "oracle_wall_sec",
                       "oracle_per_query_max_sec", "tripwire")}, indent=1))
    if not ok:
        print("\nGATE TRIPWIRE FAIL: compare failures, oracle errors, or an "
              f"oracle over the {ORACLE_BUDGET_SEC}s/query bound — the "
              "driver's correctness gate would be at risk.")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
