#!/bin/bash
# Round-close gate battery (one command for the r9-r11 discipline).
#
# Runs, in order: the static window lint, the full-fleet physical-plan
# audit, the tools/sweep.py rows (six full-registry mutation gates and
# the vanilla-session sweep: driver conditions, no engine perf
# configs), the strict sf0.01 oracle sweep and the pytest slow tier of
# the two modules no tool sweep covers (multi-executor parity,
# shuffle-partition invariance). Each stage prints its SUMMARY line;
# exit is nonzero if any stage fails. Sessions run on
# local[$SPARK_GRAFT_CPUS], default nproc. A full run took 46 min
# (2731 s) on a 4-core, 15 GB box.
#
# Usage:  bash tools/round_gates.sh [op ...]   # ops forwarded to every
#                                              # sweep (default: full)
set -o pipefail
cd "$(dirname "$0")/.."
FAIL=0

echo "== window_audit (static)"
python tools/window_audit.py | tail -1 || FAIL=1

echo "== plan_audit (fleet)"
python tools/plan_audit.py "$@" 2>/dev/null | tail -1 || FAIL=1

for row in nulls adversarial numeric temporal boundary skew vanilla; do
  echo "== sweep $row"
  python tools/sweep.py "$row" "$@" 2>/dev/null | tail -1 || FAIL=1
done

echo "== strict oracle sweep (sf0.01)"
python tests/oracle_check.py "$@" 2>/dev/null | tail -1 || FAIL=1

echo "== pytest slow tier (multi-executor, partition invariance)"
python -m pytest tests/test_multi_executor.py tests/test_partition_invariance.py \
  -q -m slow -p no:cacheprovider 2>/dev/null | tail -1 || FAIL=1

exit $FAIL
