#!/bin/bash
# Full oracle-robustness matrix (round-9 protocol): the vanilla sweep
# plus four hostile axes. Each is a full-registry driver-sim; expected
# result on every line is {"pass": N, "fail": 0, ...}. Run from
# anywhere; sims run from /tmp (worker-import regression guard).
#
#   bash scripts/robustness_matrix.sh [SF_DIR]
#
# SIM_LIMIT / SIM_ONLY pass through to the sims (SIM_LIMIT=3 gives a
# ~5-minute plumbing check across all five axes; unset = full registry,
# ~10 min per axis).
#
# The logs and the perturbed copy of SF_DIR live in one fresh log dir,
# removed on exit when every axis reports "fail": 0 and kept (its path
# printed) otherwise.
#
# Axes (first measured green in the round-9 second continuation):
#   1 vanilla          — the driver's own session shape
#   2 perturbed data   — facts hash-sampled 80-90% (data-vintage probe)
#   3 planner-hostile  — AQE off + spark.sql.shuffle.partitions=7
#   4 tz-hostile       — session timeZone America/New_York
#   5 arrow-hostile    — maxRecordsPerBatch=7 (pandas-UDF batch splits)
set -u
SF=${1:-/root/testdata/sf0.01}
REPO=$(cd "$(dirname "$0")/.." && pwd)
LOGDIR=$(mktemp -d /tmp/robustness_XXXX)
MUT=$LOGDIR/sfmut
echo "logs: $LOGDIR"
GREEN=0

cleanup() {
  if [ "$GREEN" -eq 5 ]; then
    rm -rf "$LOGDIR"
  else
    echo "kept logs: $LOGDIR"
  fi
}
trap cleanup EXIT

run() { # name sf_dir extra_conf
  local name=$1 sf=$2 conf=${3:-} last
  ( cd /tmp && SIM_SF_DIR="$sf" SIM_CONF="$conf" \
      python "$REPO/scripts/driver_sim.py" > "$LOGDIR/$name.log" 2>&1 )
  last=$(tail -1 "$LOGDIR/$name.log")
  printf '%-16s %s\n' "$name" "$last"
  case $last in *'"fail": 0,'*) GREEN=$((GREEN + 1)) ;; esac
}

python "$REPO/scripts/mutate_testdata.py" "$SF" "$MUT" > /dev/null

run vanilla         "$SF"
run perturbed-data  "$MUT"
run planner-hostile "$SF" "spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=7"
run tz-hostile      "$SF" "spark.sql.session.timeZone=America/New_York"
run arrow-hostile   "$SF" "spark.sql.execution.arrow.maxRecordsPerBatch=7"

echo "done — expect \"fail\": 0 on every line above"
