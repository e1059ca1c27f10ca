#!/usr/bin/env python3
"""Roll perfbench results up and compare result sets.

    python3 perfbench/report.py show RESULTS.jsonl
    python3 perfbench/report.py compare BASE.jsonl CHANGE.jsonl
    python3 perfbench/report.py overhead UNTRACED.jsonl TRACED.jsonl

RESULTS files are what `run.py --save FILE` appends: one full result per
line (metrics, spans, detail, and the run's seed, cores, heap, load
average and cpu-vs-wall). `show` prints every metric of every result with
its unit; per-layer metrics come from rolling the traced pass's spans up
into layers. `compare` gives, per workload and metric, both sides'
medians and quartiles and the share of (base, change) pairs the change
wins, pairing runs by seed. `overhead` sets each traced cold_s against
the untraced one of the same workload and seed, and gives the share of
that untraced cold_s the traced layer self times account for.
"""
import hashlib
import json
import os
import statistics
import sys


def _load_metrics():
    """Names and units of the benchmark's metrics, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = lambda key: {m["name"]: m["unit"] for m in spec[key]}  # noqa: E731
    higher = {m["name"] for m in spec["end_to_end"] + spec["per_layer"] if m["better"] == "higher"}
    return units("per_layer"), units("end_to_end"), higher


UNITS, END_TO_END_UNITS, HIGHER_IS_BETTER = _load_metrics()


def frame_digest(path):
    """(sha256, rows) of a parquet result, canonicalized as tools/compare.py
    does: columns sorted by name, rows sorted by every column, values
    compared as strings."""
    import pandas as pd
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    return frame_digest_df(df)


def frame_digest_df(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    rows = df.reset_index(drop=True).astype(str).values.tolist()
    blob = json.dumps([list(df.columns)] + rows, ensure_ascii=False)
    return hashlib.sha256(blob.encode()).hexdigest(), len(rows)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _wall(spans):
    return sum(s["end_ms"] - s["start_ms"] for s in spans)


def _total(spans, key):
    return sum(s[key] for s in spans)


def per_layer(res):
    """Every per-layer metric of one traced result (0 where the workload
    does not use the layer)."""
    m = res["metrics"]
    spans = res.get("spans", [])
    cores = res["env"]["cores"]
    out = {k: 0.0 for k in UNITS}
    out.update({k: v for k, v in m.items() if k in UNITS and v is not None})
    out["trace.cold_s"] = m["cold_s"]
    if res["mode"] == "stream":
        out["dws.merge_ms"] = _median([_wall([s]) for s in spans if s["name"] == "dws.merge"])
        out["serving.publish_ms"] = _median([_wall([s]) for s in spans if s["name"] == "serving.publish"])
        if "local1" in res:
            out["streaming.local1.batch_ms"] = res["local1"]["metrics"].get("streaming.batch_ms", 0.0)
            out["streaming.local1.freshness_p50_ms"] = res["local1"]["metrics"].get("freshness_p50_ms", 0.0)
        return out
    top = [s for s in spans if s["parent"] == 0]
    # source reads run inside the ODS/DWD/DWS builds and the ADS and
    # Dedup queries; the listener counted their bytes and scan time there
    out["sources.scan_ms"] = _total(spans, "scan_ms")
    out["sources.read_bytes"] = _total(spans, "input_bytes")
    out["ods.page_log_ms"] = _wall([s for s in spans if s["name"] == "ods.page_log"])
    for layer in ("dwd", "dws"):
        ss = [s for s in spans if s["layer"] == layer]
        w = _wall([s for s in top if s["layer"] == layer])
        out[f"{layer}.ms"] = w
        out[f"{layer}.plan_ms"] = _total(ss, "plan_ms")
        out[f"{layer}.shuffle_write_bytes"] = _total(ss, "shuffle_write_bytes")
        out[f"{layer}.spill_bytes"] = _total(ss, "spill_bytes")
        out[f"{layer}.slot_idle_ms"] = w * cores - _total(ss, "task_run_ms")
    routes = [s for s in top if s["layer"] == "serving"]
    if routes:
        # a route's ADS query runs on the server's thread inside the route
        # span: its action time is ADS, the rest of the span is serving
        ads = _total(routes, "action_ms")
        out["ads.ms"] = ads
        out["ads.plan_ms"] = _total(routes, "plan_ms")
        out["ads.shuffle_write_bytes"] = _total(routes, "shuffle_write_bytes")
        out["ads.spill_bytes"] = _total(routes, "spill_bytes")
        out["ads.slot_idle_ms"] = ads * cores - _total(routes, "task_run_ms")
        out["serving.route_ms"] = _wall(routes) - ads
    for s in spans:
        if s["layer"] == "dedup" and f"{s['name']}.ms" in UNITS:
            out[f"{s['name']}.ms"] = _wall([s])
            out[f"{s['name']}.shuffle_write_bytes"] = s["shuffle_write_bytes"]
    return out


def layer_sum_s(res):
    """Wall time of the traced pass's top-level spans: the layers' self
    times (ods, dwd, dws, then ads + serving in the routes; or the Dedup
    queries), which run back to back on one thread."""
    return _wall([s for s in res.get("spans", []) if s["parent"] == 0]) / 1000


def print_metrics(metrics, units, res, file=sys.stdout):
    env = res.get("env", {})
    print(f"# {res.get('workload', res.get('mode'))}: seed={env.get('seed')} cores={env.get('cores')} "
          f"heap_max_mb={env.get('heap_max_mb')} load_avg={env.get('load_avg', 0):.2f} "
          f"cpu_vs_wall={env.get('cpu_vs_wall', 0):.2f} steal_share={env.get('steal_share', 0):.3f} "
          f"attempted={res.get('attempted')} "
          f"failed={res.get('failed')}", file=file)
    for k in sorted(metrics):
        print(f"{k:42s} {metrics[k]:>16.4f} {units.get(k, 'count')}", file=file)


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def metrics_of(res):
    if res["env"]["trace"]:
        return per_layer(res)
    return {k: res["metrics"][k] for k in END_TO_END_UNITS if k in res["metrics"]}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def compare(base, change):
    """Each side's quartiles and median per workload and metric, and the
    share of seed-paired runs the change wins."""
    for w in sorted({r["workload"] for r in base + change}):
        b = [r for r in base if r["workload"] == w]
        c = [r for r in change if r["workload"] == w]
        cs = {r["env"]["seed"]: r for r in c}
        pairs = [(r, cs[r["env"]["seed"]]) for r in b if r["env"]["seed"] in cs]
        print(f"\n== {w}: {len(b)} base runs, {len(c)} change runs, {len(pairs)} seed pairs")
        if not b or not c:
            continue
        names = sorted(set(metrics_of(b[0])) & set(metrics_of(c[0])))
        print(f"{'metric':42s} {'base q1/med/q3':>30s} {'change q1/med/q3':>30s} {'wins':>6s}")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        for n in names:
            higher = n in HIGHER_IS_BETTER
            wins = sum(1 for x, y in pairs
                       if (metrics_of(y)[n] > metrics_of(x)[n]) == higher
                       and metrics_of(y)[n] != metrics_of(x)[n])
            share = f"{wins / len(pairs):.0%}" if pairs else "-"
            bq = quartiles([metrics_of(r)[n] for r in b])
            cq = quartiles([metrics_of(r)[n] for r in c])
            print(f"{n:42s} {fmt(bq):>30s} {fmt(cq):>30s} {share:>6s}")


def overhead(untraced, traced):
    """Traced against untraced cold_s of the same workload and seed, and
    the share of the untraced cold_s the traced layer self times cover."""
    u = {(r["workload"], r["env"]["seed"]): r["metrics"]["cold_s"] for r in untraced}
    for r in traced:
        k = (r["workload"], r["env"]["seed"])
        if k not in u:
            continue
        t = r["metrics"]["cold_s"]
        line = (f"{k[0]} seed={k[1]}: untraced cold_s={u[k]:.3f} traced={t:.3f} "
                f"overhead={t - u[k]:+.3f} s ({(t - u[k]) / u[k]:+.1%})")
        if r["mode"] != "stream":
            line += f"; layer self times {layer_sum_s(r):.3f} s = {layer_sum_s(r) / u[k]:.1%} of untraced"
        print(line)


def main(argv):
    if len(argv) < 2 or argv[0] not in ("show", "compare", "overhead"):
        print(__doc__, file=sys.stderr)
        return 2
    if argv[0] == "show":
        for res in load(argv[1]):
            units = UNITS if res["env"]["trace"] else END_TO_END_UNITS
            print_metrics(metrics_of(res), units, res)
    elif argv[0] == "compare":
        compare(load(argv[1]), load(argv[2]))
    else:
        overhead(load(argv[1]), load(argv[2]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
