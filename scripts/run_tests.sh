#!/bin/bash
# Parallel 2-shard test run — the full suite is ~10 min single-process
# on 4 vCPUs (~750 tests, most of it Spark-session wall time); two
# concurrent pytest processes run their own Spark sessions, each
# sizing local[N] from session.usable_cores(), so the split pays off
# only with cores to spare. Shards are deterministic: test FILES
# sorted by name, alternating assignment, so both halves carry a
# similar session count and any file always lands in the same shard.
#
# Usage: bash scripts/run_tests.sh          # both shards, parallel
#        bash scripts/run_tests.sh 0|1      # one shard (serial CI use)
set -u
cd "$(dirname "$0")/.."

mapfile -t FILES < <(ls tests/test_*.py | sort)
S0=(); S1=()
for i in "${!FILES[@]}"; do
  if (( i % 2 == 0 )); then S0+=("${FILES[$i]}"); else S1+=("${FILES[$i]}"); fi
done

run_shard() {
  local name="$1"; shift
  python -m pytest "$@" -q --no-header 2>&1 | tail -5 | sed "s/^/[$name] /"
  return "${PIPESTATUS[0]}"
}

if [[ "${1:-}" == "0" ]]; then run_shard shard0 "${S0[@]}"; exit $?; fi
if [[ "${1:-}" == "1" ]]; then run_shard shard1 "${S1[@]}"; exit $?; fi

run_shard shard0 "${S0[@]}" & P0=$!
run_shard shard1 "${S1[@]}" & P1=$!
wait $P0; R0=$?
wait $P1; R1=$?
echo "shard0 rc=$R0 shard1 rc=$R1"
exit $(( R0 || R1 ))
