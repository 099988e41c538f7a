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
# In a query with several DISTINCT aggregates, Spark orders the Expand
# groups and their columns by hashes of expression ids, which depend on
# every plan built earlier in the JVM, so a long list could reorder them
# between two runs of the same commit (q87_column_profile did). The
# dump puts them in a canonical order: the distinct columns sorted by
# name in every list that carries them before `gid`, the groups sorted,
# and each group id (`gid# = 3`) named by its columns (`gid# = <a#>`).
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
def items(s):
    """Top-level comma-separated items of a list's inner text."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        depth += (ch in "([{") - (ch in ")]}")
        if ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out + [s[start:].strip()]
def close(s, i):
    """Index of the bracket closing the one at s[i]."""
    depth = 0
    for j in range(i, len(s)):
        depth += (s[j] in "([{") - (s[j] in ")]}")
        if depth == 0:
            return j
    return len(s) - 1
def canon_distinct(buf):
    """Canonical order for the Expand that RewriteDistinctAggregates
    builds (see the header)."""
    node, ex = None, []
    for i, l in enumerate(buf):
        m = re.match(r"\(\d+\) (\w+)", l)
        node = m[1] if m else node
        if node == "Expand" and l.startswith("Arguments: [[") and re.search(r"\bgid#[,\]]", l):
            ex.append(i)
    if len(ex) != 1:
        return buf
    groups, outs = (items(x[1:-1]) for x in items(buf[ex[0]][len("Arguments: "):]))
    if "gid#" not in outs:
        return buf
    g = outs.index("gid#")
    perm = sorted(range(g), key=lambda p: outs[p])
    groups = [items(x[1:-1]) for x in groups]
    # gid 0 is the group of the regular aggregates, if there are any
    label = {v[g]: "<" + ",".join(sorted(outs[p] for p in range(g) if v[p] != "null")) + ">"
             for v in groups if v[g] != "0"}
    def regroup(v):
        return [v[p] for p in perm] + [label.get(v[g], v[g])] + v[g + 1:]
    canon = sorted(regroup(v) for v in groups)
    buf[ex[0]] = "Arguments: [" + ", ".join("[" + ", ".join(v) + "]" for v in canon) + \
        "], [" + ", ".join([outs[p] for p in perm] + outs[g:]) + "]"
    for n, l in enumerate(buf):
        l = re.sub(r"gid# = (\d+)", lambda m: "gid# = " + label.get(m[1], m[1]), l)
        i = 0
        while i < len(l):
            if l[i] in "([" and n != ex[0]:
                j = close(l, i)
                v = items(l[i + 1:j])
                if len(v) > g and v[g] == "gid#":
                    l = l[:i + 1] + ", ".join([v[p] for p in perm] + v[g:]) + l[j:]
                    i = j
            i += 1
        buf[n] = l
    return buf
for line in text:
    # Profile ends each query with "<name><spaces><seconds...>"
    m = re.match(r"^(\w+)\s+[0-9 .]+$", line)
    if m and (names is None or (cur < len(names) and m[1] == names[cur])):
        buf = canon_distinct(buf)
        open(os.path.join(out, f"{m[1]}_{suffix}.txt"), "w").write("\n".join(buf) + "\n")
        print(f"wrote {m[1]}_{suffix}.txt ({len(buf)} lines)")
        cur, buf = cur + 1, []
    else:
        buf.append(norm(line))
want = len(names) if names else cur
assert cur == want > 0, f"split found {cur} of {want} sections"
EOF
rm -f "$OUT/_combined_$SUFFIX.txt"
