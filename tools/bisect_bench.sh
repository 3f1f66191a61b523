#!/bin/bash
# Host-drift A/B for the bench round-over-round gate (VERDICT r12
# item 6): when a full bench prints TOTAL MOVED >=10%, run THIS to
# attribute it — it compiles the previous round's code in a worktree
# and interleaves both binaries on the current host in one window
# (the exact recipe that proved r10->r11's +15.7% was host drift:
# r10's own binary scored 144.1 s on the r12 host vs its recorded
# 113.9 s). Interleaving matters: the host shows multi-minute noise
# windows, and back-to-back same-binary runs can both land inside one.
#
# Usage: tools/bisect_bench.sh <prev-commit> [sf_dir] [passes]
# The side that runs first alternates from pass to pass; the summary
# gives each side's runs, min and median.
# SPARK_GRAFT_CPUS, when set, reaches both binaries through the
# environment; unset, each binary uses its own session default.
# Reads: ~20-40 min for 2 passes at sf0.1. Each binary runs from its
# own scratch cwd so neither touches the repo's bench_queries.json
# baseline.
# Builds <prev-commit> in a git worktree, or uses the tree named by
# AB_BASE_TREE, which must hold that commit's files. The current side
# is the working tree: with uncommitted changes HEAD is not what runs,
# so the summary labels it "worktree" and names HEAD only as its base.
set -euo pipefail
PREV=${1:?usage: tools/bisect_bench.sh <prev-commit> [sf_dir] [passes]}
SF=${2:-/root/testdata/sf0.1}
PASSES=${3:-2}
cd "$(git rev-parse --show-toplevel)"
# --short=12 matches GitStamp's 12-char form, so a bisect-stamped
# artifact and a round artifact of the same commit compare EQUAL
# (Bench's self-sha refusal and the staleness string-compare both
# assume one format)
PREVSHA=$(git rev-parse --short=12 "$PREV")
CURSHA=$(git rev-parse --short=12 HEAD)
if [ -n "$(git status --porcelain --untracked-files=no -- src build.sbt project)" ]; then
  CURLABEL="worktree"
  echo "[bisect] current side: uncommitted changes over HEAD $CURSHA" >&2
else
  CURLABEL="$CURSHA"
fi
WT=${AB_BASE_TREE:-target/bisect_wt_$PREVSHA}
if [ ! -d "$WT" ]; then
  git worktree add --detach "$WT" "$PREV"
fi
WT=$(cd "$WT" && pwd)
echo "[bisect] compiling the current tree ($CURLABEL) and $PREVSHA ..."
sbt -batch compile
(cd "$WT" && sbt -batch compile)

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

run_one() { # $1 = classes dir (absolute), $2 = label, $3 = scratch cwd,
            # $4 = generating sha (GRAFT_GIT_SHA: the scratch cwd has
            # no .git, and the label's worktree — not the enclosing
            # repo's HEAD — is what the classes were compiled from)
  # NB stdout carries ONLY the total (captured by the caller); progress
  # goes to stderr. The `|| true` keeps a crashed/killed bench (java
  # non-zero, or no total line for grep) on the designed nan/FAILED
  # path — under set -eo pipefail a bare failing pipeline here would
  # abort the whole script before the summary's "a side produced no
  # totals" diagnostic could run.
  mkdir -p "$3"
  local total
  total=$( (cd "$3" && SPARK_GRAFT_SF_DIR="$SF" GRAFT_GIT_SHA="$4" \
    java -Xmx"${HEAP:-16g}" $OPENS -Dspark.ui.enabled=false \
      -cp "$1:/opt/spark/jars/*" graft.Bench 2>>bench_stderr.log) |
    grep -o '"metric":"total","value":[0-9.]*' | head -1 |
    grep -o '[0-9.]*$' || true )
  echo "[bisect] $2: total ${total:-FAILED} s" >&2
  echo "${total:-nan}"
}

ROOT=$(pwd)
declare -a CUR_TOTALS PREV_TOTALS
run_prev() {
  PREV_TOTALS+=("$(run_one "$WT/target/scala-2.13/classes" \
    "prev $PREVSHA p$pass" "target/bisect_run_prev" "$PREVSHA")")
}
run_cur() {
  CUR_TOTALS+=("$(run_one "$ROOT/target/scala-2.13/classes" \
    "cur  $CURLABEL p$pass" "target/bisect_run_cur" "$CURLABEL")")
}
# the side that runs first swaps every pass, so a drift inside a pass
# does not always favour the same side
for pass in $(seq 1 "$PASSES"); do
  echo "[bisect] === pass $pass/$PASSES (interleaved) ==="
  if [ $((pass % 2)) -eq 1 ]; then run_prev; run_cur; else run_cur; run_prev; fi
done

python3 - "$PREVSHA" "$CURLABEL" "${PREV_TOTALS[@]}" -- "${CUR_TOTALS[@]}" <<'EOF'
import statistics, sys
a = sys.argv[1:]
prevsha, cursha = a[0], a[1]
sep = a.index('--')
prev = [float(x) for x in a[2:sep] if x != 'nan']
cur = [float(x) for x in a[sep+1:] if x != 'nan']
if not prev or not cur:
    sys.exit('[bisect] a side produced no totals — see bench_stderr.log '
             'in target/bisect_run_{prev,cur}')
pm, cm = min(prev), min(cur)
print(f'[bisect] prev {prevsha}: runs {prev} -> min {pm:.1f} s')
print(f'[bisect] cur  {cursha}: runs {cur} -> min {cm:.1f} s')
print(f'[bisect] median prev {statistics.median(prev):.1f} s, '
      f'cur {statistics.median(cur):.1f} s')
print(f'[bisect] same-host delta cur vs prev: {(cm-pm)/pm*100:+.1f}%')
print('[bisect] if this delta is small while the recorded round totals '
      'moved, the move was host drift; if it reproduces, it is code.')
EOF
