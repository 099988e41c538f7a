#!/bin/bash
# Round gate: full warm bench draw + spread-aware regression check
# against the last archived draw. A tight-spread (plan-suspect) mover
# whose median AND min both exceed the bar blocks the round (the
# round-10 lesson: median drift was left to the judge to classify;
# this makes the classification mechanical at gate time).
#
# Usage: tools/gate.sh [baseline.json]   (default: newest full-suite
#        warm draw, docs/bench/r*_final*.json or r*_full*.json — scale16/
#        scale64/cold/isolated-subset draws are at a different SF or
#        query set, so gating against them would be meaningless)
set -e
# Work in the checkout this script belongs to, wherever it is run from.
cd "$(dirname "$0")/.."
BASE=${1:-$(ls -t docs/bench/r*_final*.json docs/bench/r*_full*.json 2>/dev/null | grep -v scale | grep -v cold | head -1)}
# the ls|grep|head pipeline's exit status is head's, so set -e never
# trips on "no baseline found" — guard explicitly instead of letting
# bench_compare die on an empty path with an unrelated error
[ -n "$BASE" ] || { echo "gate.sh: no full-suite baseline found under docs/bench/ (r*_final*.json or r*_full*.json)"; exit 1; }
sbt -batch compile -warn
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# ReservedCodeCacheSize raised from the 240m default: a 377-query
# suite compiles ~750 codegen classes; a full cache silently leaves
# late compilations interpreted (the leading suspect for the
# q12-class tight-spread in-suite flags — bench_last.json's jvm
# block records the occupancy either way).
java $OPENS -XX:ReservedCodeCacheSize=512m -Xmx100g \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" \
  graft.Bench 2>/dev/null | tail -1
echo "-- spread-aware compare vs $BASE:"
python3 tools/bench_compare.py --gate "$BASE" target/bench_last.json
