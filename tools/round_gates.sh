#!/bin/bash
# Round-close gate battery (one command for the r9-r11 discipline).
#
# Runs, in order: the static window lint, the full-fleet physical-plan
# audit, all six full-registry mutation gates, the strict sf0.01
# oracle sweep, the vanilla-session sweep (driver conditions — no
# engine perf configs) and the pytest slow tier of the two modules no
# tool sweep covers (multi-executor parity, shuffle-partition
# invariance). Each stage prints its SUMMARY line; exit is nonzero if
# any stage fails. Sessions run on local[$SPARK_GRAFT_CPUS], default
# nproc. Budget ~45-60 min measured on 32 cores; longer on fewer.
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

for t in null_sweep adversarial_sweep numeric_sweep \
         temporal_sweep boundary_sweep skew_sweep; do
  echo "== $t"
  python tools/$t.py "$@" 2>/dev/null | tail -1 || FAIL=1
done

echo "== strict oracle sweep (sf0.01)"
python tests/oracle_check.py "$@" 2>/dev/null | tail -1 || FAIL=1

echo "== vanilla-session sweep"
# unquoted heredoc: the shell fills in the master's core count
python - "$@" <<EOF || FAIL=1
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[${SPARK_GRAFT_CPUS:-$(nproc)}]")
         .appName("vanilla-gates").getOrCreate())  # NO engine configs
from tests.oracle_check import run_all
only = sys.argv[1:] or None
results = run_all(sf_dir="/root/testdata/sf0.01", only=only, spark=spark)
bad = [r.name for r in results if not r.ok]
print(f"VANILLA SUMMARY: {len(results)-len(bad)}/{len(results)} OK"
      + (f" FAILING: {' '.join(bad)}" if bad else ""))
sys.exit(1 if bad else 0)
EOF

echo "== pytest slow tier (multi-executor, partition invariance)"
python -m pytest tests/test_multi_executor.py tests/test_partition_invariance.py \
  -q -m slow -p no:cacheprovider 2>/dev/null | tail -1 || FAIL=1

exit $FAIL
