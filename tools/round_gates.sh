#!/bin/bash
# Round-close gate battery: the one place every fleet-wide check runs.
#
# Runs, in order: the static window lint, the full-fleet plan audit
# (physical-plan anti-patterns and forced fact-table broadcasts), the
# tools/sweep.py rows (six full-registry mutation gates and the
# vanilla-session sweep: a bare session, no engine perf configs),
# the strict oracle sweeps at sf0.01 and sf0.001, and the whole pytest
# slow tier (`-m slow`: every-op empty-table collect, multi-executor
# parity, shuffle-partition invariance). Each stage prints its SUMMARY
# line; exit is nonzero if any stage fails. Sessions run on
# local[$SPARK_GRAFT_CPUS], default nproc. A full run took 44 min
# (2645 s) on a 4-core, 15 GB box.
#
# Usage:  bash tools/round_gates.sh [op ...]   # ops forwarded to the
#                                              # audit and every sweep
#                                              # (default: full)
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

echo "== strict oracle sweep (sf0.001)"
SF_SMALL=$(python -c "from tests.conftest import SF_SMALL; print(SF_SMALL)")
SPARK_GRAFT_SF_DIR="$SF_SMALL" \
  python tests/oracle_check.py "$@" 2>/dev/null | tail -1 || FAIL=1

echo "== pytest slow tier"
python -m pytest tests/ -q -m slow -p no:cacheprovider 2>/dev/null \
  | tail -1 || FAIL=1

exit $FAIL
