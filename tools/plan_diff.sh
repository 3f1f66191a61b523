#!/bin/bash
# Plan diff of a base commit against the current tree: runs
# graft.ExplainDump on both builds against one sf directory and prints a
# unified diff of the two dumps (base first), with the parts that change
# on every run blanked: expression ids (#123), object hashes (@1a2b3c4d),
# RDD ids (MapPartitionsRDD[42]), exchange plan ids (plan_id=7), source
# line numbers (Foo.scala:87) and the header's commit.
#
# Usage: SPARK_GRAFT_SF_DIR=<sf dir> tools/plan_diff.sh <base-commit> [id,id,...]
#   ids: the plans to dump (default: ExplainDump's roster)
# SPARK_GRAFT_CPUS reaches both sides; it sets the session's shuffle
# partitions, which every exchange in a plan prints, so both sides must
# see the same value (an older base may hard-code its own).
#
# Builds <base-commit> in a git worktree (or uses the tree named by
# AB_BASE_TREE, which must hold that commit's files) and compiles both
# trees with sbt; each side then runs from its own classes directory.
# A base whose ExplainDump still takes an output path (`<sfDir> <out>`,
# whole roster) is given a temp file, which is read and cut to the
# named ids. Java's stderr goes to target/plan_diff/{base,new}.log.
# Exit status is diff's: 0 no difference, 1 differences.
set -euo pipefail
USAGE="usage: SPARK_GRAFT_SF_DIR=<sf dir> tools/plan_diff.sh <base-commit> [id,id,...]"
BASE=${1:?$USAGE}
IDS=${2:-}
SF=${SPARK_GRAFT_SF_DIR:?$USAGE}
ROOT=$(git rev-parse --show-toplevel)
cd "$ROOT"
BSHA=$(git rev-parse --short=12 "$BASE")
HSHA=$(git rev-parse --short=12 HEAD)
WT=${AB_BASE_TREE:-target/plan_diff/tree_$BSHA}
if [ ! -d "$WT" ]; then
  git worktree add --detach "$WT" "$BSHA"
fi
WT=$(cd "$WT" && pwd)
LOGS=$ROOT/target/plan_diff
mkdir -p "$LOGS"
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT

echo "[plan_diff] compiling the current tree and $BSHA ..." >&2
sbt -batch compile >&2
(cd "$WT" && sbt -batch compile) >&2

OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done

explain() { # $1 = tree, $2 = log, then ExplainDump's arguments
  local tree=$1 log=$2
  shift 2
  (cd "$tree" && java -Xmx"${HEAP:-4g}" $OPENS \
    -cp "$tree/target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.ExplainDump "$@" 2>>"$log")
}

dump() { # $1 = tree, $2 = side label; the normalized dump to stdout
  local log=$LOGS/$2.log
  : > "$log"
  if grep -q 'Files.writeString' "$1/src/main/scala/graft/ExplainDump.scala"
  then
    explain "$1" "$log" "$SF" "$TMP/$2.md" >/dev/null
    awk -v ids="$IDS" '
      BEGIN { n = split(ids, a, ","); for (i = 1; i <= n; i++) want["## " a[i]]
              keep = 1 }
      /^## / { keep = (ids == "" || ($0 in want)) }
      keep' "$TMP/$2.md"
  else
    explain "$1" "$log" "$SF" ${IDS:+"$IDS"}
  fi | sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/@[0-9a-f]{4,}/@H/g' \
    -e 's/([A-Za-z]+RDD)\[[0-9]+\]/\1[N]/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/\.scala:[0-9]+/.scala:N/g' \
    -e '/^Generated by/s/commit [0-9a-z]+/commit C/'
}

for side in base new; do
  tree=$WT; [ "$side" = new ] && tree=$ROOT
  dump "$tree" "$side" > "$TMP/$side.txt" || {
    echo "[plan_diff] the $side dump failed: see $LOGS/$side.log" >&2
    exit 2; }
done
rc=0
diff -u --label "base $BSHA" --label "current tree (HEAD $HSHA)" \
  "$TMP/base.txt" "$TMP/new.txt" || rc=$?
exit $rc
