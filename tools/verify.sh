#!/bin/bash
# Local verify loop: compile, run graft.Verify on sf0.01, DuckDB-compare.
set -e
# Work in the checkout this script belongs to, wherever it is run from.
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
# Default outDir is per-PID so concurrent verify runs can't clobber each
# other (pass an explicit second arg to pin a location instead).
OUT=${2:-$PWD/target/verify_out_$$}
trap '[ -z "${2:-}" ] && rm -rf "$OUT"' EXIT
sbt -batch compile -warn
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>&1 | grep -v "^[0-9/: ]*WARN" || true
# SURVEY §2.8's declared registry count must match the live registry —
# the r9 drift lesson: an op that exists but isn't declared is invisible
# coverage. Skipped under SPARK_GRAFT_ONLY (partial runs).
if [ -z "${SPARK_GRAFT_ONLY:-}" ]; then
  LIVE=$(find "$OUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
  DECL=$(grep -o 'registry now \*\*[0-9]*\*\*' SURVEY.md | tail -1 | grep -o '[0-9]\+')
  if [ "$LIVE" != "$DECL" ]; then
    echo "FAIL: SURVEY \$2.8 declares registry $DECL but SparkEntry.queries has $LIVE entries" >&2
    exit 1
  fi
  echo "registry count: SURVEY=$DECL live=$LIVE ok"
  # name-level: the documented name SET must equal the live key set
  # (a rename or swap preserves the count; it cannot survive this).
  python3 tools/registry_check.py SURVEY.md "$OUT"
fi
# Gate-guards-itself: prove the type-strict checks still fire (red
# fixtures must FAIL) before trusting the real compare below.
python3 tools/compare_selftest.py "$SF"
python3 tools/compare.py "$SF" "$OUT"
