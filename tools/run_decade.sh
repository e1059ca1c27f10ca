#!/bin/bash
# Decade scaling run: benches one query set at two or more data scales,
# each a decade (x10) above the one before, and prints the per-query
# scaling exponents of wall seconds and of shuffle bytes written.
#
# Usage: run_decade.sh <out-prefix> <queries-csv> <label=dir=heap>...
#
# Each leg is label=dir=heap. A leg whose dir is missing and whose
# label is an amplified one (sf1eq, sf10eq, sf100eq, ...) is first
# built from the previous leg's dir with graft.AmplifyDecade (ten
# disjoint copies, see its scaladoc), in a JVM with that leg's heap.
# Every leg then runs through tools/run_leg_perq.sh: one JVM per
# query, the PARQUET memo level, and a memo root of its own
# (<out-prefix>_memo_<label>) that every query JVM of the leg shares
# and that is deleted after the leg to return the disk. The merged leg
# report lands in <out-prefix>_<label>.json; tools/decade.py prints the
# exponent tables over seconds and over --field shuffle_write.
#
# Needs compiled classes (sbt Test/compile). The CDC envelope is salted
# 8 ways unless SPARK_GRAFT_ENVELOPE_SALTK is set; the AQE knobs default
# to the wide decade profile in run_leg_perq.sh.
#
# The three components queries across one decade on a 4-core, 15 GB
# host (the gate/components_*.json artifacts):
#   SPARK_GRAFT_CPUS=4 tools/run_decade.sh gate/components \
#     dedup_components,dedup_components_star,mm_dup_components \
#     sf0.1=<testdata>/sf0.1=8g sf1eq=/tmp/sf1eq=8g
set -e
[ $# -ge 4 ] || {
  echo "usage: $0 <out-prefix> <queries-csv> <label=dir=heap> <label=dir=heap>..." >&2
  exit 2
}
cd "$(dirname "$0")/.."
OUT="$1"; QUERIES="$2"; shift 2
export SPARK_GRAFT_ENVELOPE_SALTK="${SPARK_GRAFT_ENVELOPE_SALTK:-8}"
CP="${GRAFT_CP:-target/scala-2.13/classes:target/scala-2.13/test-classes}:/opt/spark/jars/*"
JOPTS=$(grep -oE '"java.base/[a-z.]+"' build.sbt | tr -d '"' |
        sed 's/^/--add-opens /; s/$/=ALL-UNNAMED/' | tr '\n' ' ')
PREV=""; LABELS=""; JSONS=()
for leg in "$@"; do
  IFS='=' read -r label dir heap <<< "$leg"
  [ -n "$label" ] && [ -n "$dir" ] && [ -n "$heap" ] || {
    echo "bad leg '$leg': want label=dir=heap" >&2; exit 2; }
  if [ ! -d "$dir" ]; then
    [[ "$label" =~ ^sf[0-9]+eq$ ]] && [ -n "$PREV" ] || {
      echo "leg $label: $dir is missing and is not an amplified leg after another" >&2
      exit 2; }
    echo "=== amplify $PREV -> $dir $(date -u +%H:%M:%S) ==="
    # shellcheck disable=SC2086
    java $JOPTS -Xmx"$heap" -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" \
      graft.AmplifyDecade "$PREV" "$dir" > "${OUT}_amplify_${label}.log" 2>&1
  fi
  echo "=== leg $label ($dir, $heap) $(date -u +%H:%M:%S) ==="
  MEMODIR="${OUT}_memo_${label}"
  rm -rf "$MEMODIR"
  bash tools/run_leg_perq.sh "$dir" "${OUT}_${label}.json" "$QUERIES" "$heap" \
    PARQUET "$MEMODIR"
  echo "memo root after $label: $(du -sh "$MEMODIR" 2>/dev/null | cut -f1)"
  rm -rf "$MEMODIR"
  PREV="$dir"; LABELS="${LABELS:+$LABELS,}$label"; JSONS+=("${OUT}_${label}.json")
done
# decade.py exits 1 on a super-linear last step; print both tables first
RC=0
python3 tools/decade.py "${JSONS[@]}" --labels "$LABELS" || RC=$?
python3 tools/decade.py "${JSONS[@]}" --labels "$LABELS" --field shuffle_write || RC=$?
exit $RC
