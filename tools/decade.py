#!/usr/bin/env python3
"""Measured-scaling report (r13 verdict task 1, extended to N points).

Takes two or more graft.Bench JSON lines, each one decade (×10 data)
apart — e.g. sf0.1, the amplified sf1-equivalent, the amplified
sf10-equivalent (tool: graft.AmplifyDecade) — and prints, per query,
the time at each point and the scaling exponent of each ×10 step:
e = log10(t_next / t_prev)  (e = 1 → linear, e < 1 → sublinear /
fixed-overhead-dominated, e > 1 → super-linear: investigate before
trusting the 100 TB claim). Rows sort by the LAST step's exponent —
the largest measured scale is the most informative — and the exit
code flags any last-step exponent above 1.05.

Usage: python3 tools/decade.py <bench1.json> <bench2.json> [more...] [--out MD]
"""
import sys, json, math, argparse

# graft.Bench 'io' fields measured in bytes; every other field is a count
BYTE_FIELDS = {"shuffle_write", "shuffle_read", "spilled", "peak_task_mem"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("benches", nargs="+")
    ap.add_argument("--labels", default=None,
                    help="comma-separated column labels, one per bench file")
    ap.add_argument("--field", default=None,
                    help="exponents over an 'io' field instead of seconds: "
                         "bytes (shuffle_write, shuffle_read, spilled, "
                         "peak_task_mem) or counts (shuffle_records, "
                         "codegen_compiles); shuffle_records is deterministic "
                         "for a given plan + data, so its exponents carry no "
                         "timing noise")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if len(args.benches) < 2:
        ap.error("need at least two bench files")
    if args.field:
        series = [{q: v[args.field] for q, v in json.load(open(p))["io"].items()}
                  for p in args.benches]
    else:
        series = [json.load(open(p))["queries"] for p in args.benches]
    labels = (args.labels.split(",") if args.labels
              else [f"p{i}" for i in range(len(series))])
    common = sorted(set.intersection(*(set(s) for s in series)))
    rows = []
    for q in common:
        ts = [s[q] for s in series]
        # skip queries with no signal OR a failed leg (bench records
        # -1.0 for errored queries; a log of a non-positive ratio is a
        # crash, not an exponent)
        if any(not t or t <= 0 for t in ts):
            print(f"SKIP {q}: non-positive value in {ts} (failed leg?)")
            continue
        es = [math.log10(ts[i + 1] / ts[i]) for i in range(len(ts) - 1)]
        rows.append((q, ts, es))
    rows.sort(key=lambda r: -r[2][-1])
    in_mb = args.field in BYTE_FIELDS
    unit = " MB" if in_mb else "" if args.field else " s"
    def fmt(v):
        return f"{v / 1e6:.1f}" if in_mb else f"{v}" if args.field else f"{v:.2f}"
    head = ["query"] + [f"{l}{unit}" for l in labels] + \
        [f"e {labels[i]}→{labels[i+1]}" for i in range(len(labels) - 1)]
    lines = ["| " + " | ".join(head) + " |",
             "|" + "---|" * len(head)]
    for q, ts, es in rows:
        cells = [q] + [fmt(t) for t in ts] + \
            [f"{e:.2f}" + (" **<-- SUPER-LINEAR**" if e > 1.05 else "")
             for e in es]
        lines.append("| " + " | ".join(cells) + " |")
    worst = max((r[2][-1] for r in rows), default=0.0)
    lines.append(f"\nworst last-step exponent: {worst:.2f} over {len(rows)} "
                 f"queries ({sum(1 for r in rows if r[2][-1] > 1.05)} super-linear)")
    text = "\n".join(lines)
    print(text)
    if args.out:
        open(args.out, "w").write(text + "\n")
    return 1 if worst > 1.05 else 0


if __name__ == "__main__":
    sys.exit(main())
