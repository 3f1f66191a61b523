#!/bin/bash
# Interleaved same-window A/B of the benchmark (perfbench/run.py): a base
# commit against the current tree, in one window, so host drift hits both
# sides alike (two separate runs on this host can differ by 10%+).
#
# Usage: tools/perfbench_ab.sh <base-commit> <workload> <runs> [trace] [first-seed]
#   trace: 0 (default, end-to-end metrics) or 1 (per-layer metrics)
#   first-seed: the first benchmark seed (default 1). A claimed gain must
#     also hold on seeds not used while the change was written: e.g.
#     `tools/perfbench_ab.sh <base> mining_cold 10 0 11` runs seeds 11..20.
#
# Builds <base-commit> in a git worktree (or uses the tree named by
# AB_BASE_TREE, which must hold that commit's files), then runs seeds
# <first-seed>..<first-seed>+<runs>-1 as pairs: base and current tree
# alternately, the side that goes first swapping every pair. Each side
# records with --record into its own directory under AB_OUT (default
# target/perfbench_ab/...), and the script ends with `report.py compare
# base new` (with trace 1: `report.py summary` of each side, the
# per-layer medians).
# One mining_cold run takes ~80 s on a 4-core host, so 5 pairs ≈ 14 min.
set -euo pipefail
USAGE="usage: tools/perfbench_ab.sh <base-commit> <workload> <runs> [trace] [first-seed]"
BASE=${1:?$USAGE}
WL=${2:?$USAGE}
RUNS=${3:?$USAGE}
TRACE=${4:-0}
FIRST=${5:-1}
ROOT=$(git rev-parse --show-toplevel)
cd "$ROOT"
BSHA=$(git rev-parse --short=12 "$BASE")
HSHA=$(git rev-parse --short=12 HEAD)
OUT=${AB_OUT:-target/perfbench_ab/${BSHA}_vs_${HSHA}_${WL}_t${TRACE}_s$FIRST}
WT=${AB_BASE_TREE:-target/perfbench_ab/tree_$BSHA}
if [ ! -d "$WT" ]; then
  git worktree add --detach "$WT" "$BSHA"
fi
WT=$(cd "$WT" && pwd)
mkdir -p "$OUT/base" "$OUT/new"
OUT=$(cd "$OUT" && pwd)

run_side() { # $1 = tree, $2 = record dir, $3 = seed
  echo "[ab] $(basename "$2") seed $3" >&2
  # a failed run (exit 1) is part of the result: its record names the
  # failed operations and report.py counts them in fail_frac
  (cd "$1" && python3 perfbench/run.py --workload "$WL" --seed "$3" \
    --seconds 10 --trace "$TRACE" --record "$2" | tail -1) || true
}

for seed in $(seq "$FIRST" $((FIRST + RUNS - 1))); do
  if [ $((seed % 2)) -eq 1 ]; then
    run_side "$WT" "$OUT/base" "$seed"
    run_side "$ROOT" "$OUT/new" "$seed"
  else
    run_side "$ROOT" "$OUT/new" "$seed"
    run_side "$WT" "$OUT/base" "$seed"
  fi
done
if [ "$TRACE" = 1 ]; then # compare reads untraced runs only
  for side in base new; do
    echo "== $side"; python3 perfbench/report.py summary "$OUT/$side"
  done
else
  python3 perfbench/report.py compare "$OUT/base" "$OUT/new"
fi
