#!/bin/bash
# One measurement LEG as independent per-query JVMs (round 14).
#
# Why not one JVM per leg: at sf100eq a single query's DISK_ONLY memo
# surface is tens of GB and the heaviest queries run ~10 min/pass — a
# leg-level JVM makes the whole leg lose-everything on one crash or
# disk blowout, and its accumulated shuffle files squat the disk the
# next query needs. One JVM per query = crash isolation, disk returned
# between queries (BlockManager dirs clean on exit), and every query
# builds only its own memos (in graft.Bench's untimed warm pass). Timed
# windows never include JVM start (graft.Bench times query execution
# only). Legs compared against each other must ALL use this runner;
# tools/run_decade.sh drives it for a whole decade run.
#
# Usage: run_leg_perq.sh <sfdir> <out.json> <queries-csv> <heap> [level] [memodir]
# Each query JVM runs local[$SPARK_GRAFT_CPUS] (default: nproc). A query
# whose JVM dies before its report leaves its log at <out>_<query>.log;
# the per-query parts dir is removed on exit.
# With level PARQUET, [memodir] roots the materialized-memo store that
# every per-query JVM in the leg shares (the Kafka-DWD-topic analog):
# the first toucher builds+writes, the rest scan columnar.
set -e
cd "$(dirname "$0")/.."
SFDIR="$1"; OUT="$2"; QUERIES="$3"; MEM="$4"; LEVEL="${5:-DISK_ONLY}"
MEMODIR="${6:-}"
# Decade legs are scale-sized by definition, so this runner defaults
# the AQE shuffle knobs to the measured-safe WIDE config (r16 verdict
# task 1: legs must be reproducible from HEAD without remembering env;
# GraftSession ships the small-SF profile because the wide config
# costs 2.53x on the full sf0.1 bench — see its scaladoc). A caller
# that exports the knobs explicitly still wins.
export SPARK_GRAFT_INITIAL_PARTITIONS="${SPARK_GRAFT_INITIAL_PARTITIONS:-1024}"
export SPARK_GRAFT_PARALLELISM_FIRST="${SPARK_GRAFT_PARALLELISM_FIRST:-false}"
export SPARK_GRAFT_ADVISORY_PARTITION_BYTES="${SPARK_GRAFT_ADVISORY_PARTITION_BYTES:-33554432}"
CP="${GRAFT_CP:-target/scala-2.13/classes:target/scala-2.13/test-classes}:/opt/spark/jars/*"
JOPTS=$(grep -oE '"java.base/[a-z.]+"' build.sbt | tr -d '"' |
        sed 's/^/--add-opens /; s/$/=ALL-UNNAMED/' | tr '\n' ' ')
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
PARTS=$(mktemp -d /tmp/legparts.XXXXXX)
trap 'rm -rf "$PARTS"' EXIT
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  echo "--- $q $(date -u +%H:%M:%S) (free: $(df --output=avail -h /tmp | tail -1 | tr -d ' '))"
  rm -f target/bench.json
  # shellcheck disable=SC2086
  env SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
    SPARK_GRAFT_MEMO_LEVEL="$LEVEL" SPARK_GRAFT_BENCH_ONLY="$q" \
    ${MEMODIR:+SPARK_GRAFT_MEMO_DIR="$MEMODIR"} \
    java $JOPTS -Xmx"$MEM" -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench \
      > "$PARTS/$q.log" 2>&1 || true
  cp target/bench.json "$PARTS/$q.json" 2>/dev/null || {
    cp "$PARTS/$q.log" "${OUT%.json}_$q.log"
    echo "!!! $q: JVM died before the report (log: ${OUT%.json}_$q.log)"
  }
done
python3 - "$OUT" "$PARTS" "$QUERIES" <<'PY'
import json, sys, glob, os
out, parts, asked = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
queries, runs, io, errors, sentinels = {}, {}, {}, [], []
sf = level = None
names = set()
for p in sorted(glob.glob(os.path.join(parts, "*.json"))):
    d = json.load(open(p))
    queries.update(d["queries"]); runs.update(d.get("runs", {}))
    io.update(d.get("io", {})); errors += d["errors"]
    sentinels.append(d["cpu_vs_wall"]); sf = d["sf"]; level = d.get("memo_level")
    names.update(d["queries"])
# a query whose JVM died left no part: the leg is not ok
errors += [f"{q}: JVM died before the report" for q in asked if q not in names]
total = sum(v for v in queries.values() if v >= 0)
merged = {"metric": "total", "value": total, "unit": "sec",
          "ok": not errors, "queries": queries, "runs": runs, "io": io,
          "errors": errors, "cpu_vs_wall_parts": sentinels,
          "cpu_vs_wall": (min(sentinels) if sentinels else -1),
          "memo_level": level, "per_query_jvm": True, "sf": sf}
json.dump(merged, open(out, "w"))
print(f"merged {len(names)} queries -> {out}; ok={not errors}; "
      f"total={total:.1f}s; sentinel min={merged['cpu_vs_wall']:.2f}")
PY
echo "leg done $(date -u +%H:%M:%S)"
