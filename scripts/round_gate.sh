#!/bin/bash
# Round-end evidence chain — "gate before snapshot", made mechanical
# (VERDICT r11 What's-wrong #1: q147 landed AFTER the committed gate
# ran, leaving the round's last operator without committed evidence).
#
# Run this AFTER the last operator lands, commit the artifacts it
# writes as the FINAL commits of the round:
#
#   bash scripts/round_gate.sh 12          # writes FULLGATE_r12.json
#
# Order matters: the full oracle sweep and the test suite are
# CPU-concurrent-safe with each other but NOT with the timed steps —
# bench and any smoke merge must run solo (32 shared cores; see the
# calibration note in bench.py). This script runs them serially.
set -euo pipefail
cd "$(dirname "$0")/.."
R="${1:?usage: round_gate.sh <round-number>}"

echo "== 1/5 full oracle sweep (sf0.01) =="
python scripts/check_oracle.py --json "FULLGATE_r${R}.json"

echo "== 2/5 test suite (2-shard) =="
bash scripts/run_tests.sh

echo "== 3/5 PLANS.md regeneration =="
python scripts/dump_plans.py

echo "== 4/5 benchmark self-test =="
python3 perfbench/selftest.py

echo "== 5/5 bench (solo, timed) =="
python bench.py

echo "round_gate: done — commit FULLGATE_r${R}.json, PLANS.md,"
echo "BENCH_DETAIL.json and any smoke-merge rows now, BEFORE the"
echo "round snapshot. New queries added after this point need a"
echo "re-run."
