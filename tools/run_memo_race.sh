#!/bin/bash
# Two-process race on the PARQUET memo commit protocol (r15 verdict
# task 7). Launches two graft.RaceMemo JVMs against one memo root with
# a start barrier, then asserts: one committed winner, zero .tmp
# residue, no nested-tmp duplication, identical reads in both JVMs.
# Run N iterations (default 5) since the loser path needs the rename
# window to actually interleave.
set -e
cd /root/repo
N="${1:-5}"
CP="${GRAFT_CP:-target/scala-2.13/classes:target/scala-2.13/test-classes}:/opt/spark/jars/*"
JOPTS=$(grep -oE '"java.base/[a-z.]+"' build.sbt | tr -d '"' |
        sed 's/^/--add-opens /; s/$/=ALL-UNNAMED/' | tr '\n' ' ')
PASS=0
for i in $(seq 1 "$N"); do
  ROOT=$(mktemp -d /tmp/memo_race.XXXXXX)
  BARRIER="$ROOT/go"
  # shellcheck disable=SC2086
  env SPARK_GRAFT_CPUS=8 java $JOPTS -Xmx8g -Dspark.ui.enabled=false \
    -cp "$CP" graft.RaceMemo "$ROOT" "$BARRIER" > "$ROOT/a.log" 2>&1 &
  A=$!
  env SPARK_GRAFT_CPUS=8 java $JOPTS -Xmx8g -Dspark.ui.enabled=false \
    -cp "$CP" graft.RaceMemo "$ROOT" "$BARRIER" > "$ROOT/b.log" 2>&1 &
  B=$!
  sleep 25   # both sessions up and parked on the barrier
  touch "$BARRIER"
  # tolerant captures: under set -e a failing racer JVM or a no-match
  # grep would abort the script BEFORE the diagnostics below — exactly
  # when they're needed (r16 advice)
  RA=0; wait $A || RA=$?
  RB=0; wait $B || RB=$?
  COMMITS=$(find "$ROOT/graft.materialized" -name _SUCCESS | wc -l)
  TMPS=$(find "$ROOT/graft.materialized" -name "*.tmp.*" | wc -l)
  NESTED=$(find "$ROOT/graft.materialized" -path "*race_probe/*race_probe*" | wc -l)
  LA=$(grep RACE "$ROOT/a.log" || true); LB=$(grep RACE "$ROOT/b.log" || true)
  echo "iter $i: exit=$RA/$RB commits=$COMMITS tmps=$TMPS nested=$NESTED"
  echo "  A: $LA"
  echo "  B: $LB"
  if [ "$RA" = 0 ] && [ "$RB" = 0 ] && [ "$COMMITS" = 1 ] && \
     [ "$TMPS" = 0 ] && [ "$NESTED" = 0 ] && [ -n "$LA" ] && [ "$LA" = "$LB" ]; then
    PASS=$((PASS+1))
  else
    echo "  !!! race iteration $i FAILED (logs under $ROOT)"; exit 1
  fi
  rm -rf "$ROOT"
done
echo "memo race: $PASS/$N iterations clean (one winner, no tmp residue, identical reads)"
