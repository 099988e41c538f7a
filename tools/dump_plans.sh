#!/bin/bash
# Dump `.explain("formatted")` for a comma-separated query list, one
# file per query: tools/dump_plans.sh <repoDir> <outDir> <suffix> <q1,q2,...>
# The list `all` dumps every registered query, in graft.Profile's
# sorted order.
# One JVM for the whole list (graft.Profile loops names in-session);
# the combined stdout is split per query on Profile's trailing timing
# line. Plans are taken with raw scans (no warm-mode checkpoint), so
# PushedFilters / ReadSchema at the parquet scan stay auditable.
# Session counters are normalised away: expression ids (`#123`), RDD
# ids and call sites (`MapPartitionsRDD[45] at localCheckpoint at
# Graph.scala:1388` becomes `MapPartitionsRDD[] at localCheckpoint`),
# exchange plan ids (`plan_id=7`), object identity hashes in an
# aggregator's toString (`TopKDoubles@efedc61`) and random temp-dir
# suffixes, so `diff -r` of a before and an after dump is empty for a
# change that leaves the plans alone. Dump each side into its own outDir with the
# same suffix, so the file names match:
#   tools/dump_plans.sh <parentCheckout> /tmp/plans/before p q1,q2
#   tools/dump_plans.sh .                /tmp/plans/after  p q1,q2
#   diff -r /tmp/plans/before /tmp/plans/after
# or, over the whole registry at sf0.01:
#   tools/dump_plans.sh <parentCheckout> /tmp/plans/before p all /root/testdata/sf0.01
# One difference survives the normalisation: in a query with several
# DISTINCT aggregates, Spark orders the Expand groups by hashes of
# expression ids, which depend on every plan built earlier in the JVM.
# A long list can reorder them between two runs of the same commit
# (q87_column_profile did); dump such a query on its own to compare it.
set -e
REPO=${1:?repo dir}
OUT=${2:?out dir}
SUFFIX=${3:?suffix (before|after)}
QUERIES=${4:?comma-separated query names, or all}
SF=${5:-/root/testdata/sf0.1}
cd "$REPO"
mkdir -p "$OUT"
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=$(grep -o '\-\-add-opens=[^ ]*' tools/verify.sh | tr '\n' ' ')
EXPLAIN=1 java $OPENS -Xmx16g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" \
  graft.Profile "$SF" 1 $([ "$QUERIES" = all ] || echo "$QUERIES") \
  2>/dev/null > "$OUT/_combined_$SUFFIX.txt"
python3 - "$OUT" "$SUFFIX" "$QUERIES" <<'EOF'
import re, sys, os
out, suffix, queries = sys.argv[1], sys.argv[2], sys.argv[3]
# `all`: Profile chose the names, so take each from its timing line
names = None if queries == "all" else queries.split(',')
text = open(os.path.join(out, f"_combined_{suffix}.txt")).read().splitlines()
cur, buf = 0, []
def norm(line):
    line = re.sub(r"#\d+", "#", line)
    line = re.sub(r"RDD\[\d+\]( at \w+)?( at \S+\.scala:\d+)?", r"RDD[]\1", line)
    line = re.sub(r"plan_id=\d+", "plan_id=", line)
    line = re.sub(r"(?<=[\w$])@[0-9a-f]{1,8}\b", "@", line)
    return re.sub(r"(/tmp/[^/\s\]]*?)\d{6,}", r"\1", line)
for line in text:
    # Profile ends each query with "<name><spaces><seconds...>"
    m = re.match(r"^(\w+)\s+[0-9 .]+$", line)
    if m and (names is None or (cur < len(names) and m[1] == names[cur])):
        open(os.path.join(out, f"{m[1]}_{suffix}.txt"), "w").write("\n".join(buf) + "\n")
        print(f"wrote {m[1]}_{suffix}.txt ({len(buf)} lines)")
        cur, buf = cur + 1, []
    else:
        buf.append(norm(line))
want = len(names) if names else cur
assert cur == want > 0, f"split found {cur} of {want} sections"
EOF
rm -f "$OUT/_combined_$SUFFIX.txt"
