#!/usr/bin/env bash
# Round-close: regenerate the derived artifacts and run the full gate.
#   tools/round_close.sh <round-number> [--skip-bench]
#
# Produces/updates: LEAKCHECK.json (stamped with run evidence),
# OPERATORS.md (query -> impl/spec/oracle/scale index), PLANS.md,
# and prints the verify + bench results that belong in the round notes.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/round_close.sh <round-number> [--skip-bench]}"
SKIP_BENCH="${2:-}"

echo "== compile =="
sbt -batch compile

echo "== full verify (sf0.01) =="
tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/round_close_verify
python3 tools/compare.py /root/testdata/sf0.01 /tmp/round_close_verify | tail -1

echo "== tie scan (round()-representation hazards, sf0.01 + sf0.001) =="
python3 tools/tie_scan.py /root/testdata/sf0.01 /tmp/round_close_verify | tail -1
python3 tools/tie_scan.py /root/testdata/sf0.001 /tmp/round_close_verify | tail -1

echo "== type audit (oracle vs spark type families — the q_pack_bins class) =="
python3 tools/type_audit.py /root/testdata/sf0.01 /tmp/round_close_verify | tail -1

if [[ "$SKIP_BENCH" != "--skip-bench" ]]; then
  echo "== bench (sf0.1) =="
  # Bench reads sf0.1 by default; one Spark core per CPU of this machine
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" tools/run_main.sh graft.Bench
fi

echo "== extension smoke (SQL path) =="
tools/run_main.sh graft.ExtCheck

echo "== leakcheck =="
python3 tools/leakcheck.py "$ROUND"

echo "== operators index =="
python3 tools/gen_operators.py "$ROUND"

echo "== plans =="
tools/run_main.sh graft.Plans /root/testdata/sf0.001 PLANS.md

echo "round $ROUND close artifacts regenerated; review + commit them."
