"""Multi-executor smoke: the engine on ``local-cluster`` mode.

``local[N]`` runs every task in the driver JVM, which hides the failure
modes a real cluster has: Python UDF closures that don't pickle,
broadcast variables that never cross a process boundary, shuffle files
written/read by different JVMs. ``local-cluster[2,4,2048]`` launches two
REAL executor JVMs (4 cores, 2 GiB each) with the standalone scheduler —
the closest local approximation of the 1000-executor deployment the
engine is designed for (SURVEY.md §4 / SCALE.md).

The cluster run happens in a SUBPROCESS: Spark allows one SparkContext
per JVM/process, and the suite's shared local-mode session must survive
this module. One representative operator per risk class, each compared
row-for-row against the same query on the in-process local session:
- ``flagship_q3``        — broadcast joins + shuffle agg + TakeOrdered
- ``dedup_near_minhash`` — multi-shuffle pipeline (explode, band join)
- ``sim_topk``           — broadcast + Arrow pandas-UDF scoring across JVMs
- ``udf_grouped_map``    — applyInPandas closure shipped to executors
- ``join_bloom_prefilter`` — dense-array bloom bitmap broadcast across JVMs
- ``sim_pq_adc_topk``    — session-cached localCheckpoint index on executors
- ``stream_dedup_within_watermark`` — streaming keyed state (dedup TTL)
  in per-executor state stores, watermark advanced across JVMs
- ``graph_reach_recursive``  — recursive-CTE UnionLoop jobs over cross-JVM
  shuffle files
- ``join_skew_aqe``          — AQE skew split replaying mapper ranges from
  other executors' shuffle output
- ``stream_chained_stateful`` / ``stream_foreach_batch_sink`` /
  ``stream_transform_with_state`` — chained state stores, foreachBatch
  closures, and Python arbitrary state across executor JVMs (r7
  verdict #7: state-machinery evidence for every stateful shape)
- ``udf_pandas_scalar`` / ``multimodal_decode`` — a scalar pandas UDF
  and ``mapInPandas`` whose workers fork from the engine's worker
  daemon, started by each executor in its own working directory
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # fleet-sweep tier (pytest.ini)

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.01"

_QUERIES = ["flagship_q3", "dedup_near_minhash", "sim_topk", "udf_grouped_map",
            # r5 cross-JVM risk classes: a broadcast bitmap built by
            # executors and probed in codegen, and a localCheckpoint-
            # cached trained index whose blocks live on executor JVMs
            "join_bloom_prefilter", "sim_pq_adc_topk",
            # r6 (verdict item 6): streaming STATE across real executor
            # JVMs — dropDuplicatesWithinWatermark's keyed dedup state
            # lives in per-executor state stores and the watermark
            # advances via cross-JVM progress aggregation; the last
            # uncovered cross-JVM risk class
            "stream_dedup_within_watermark",
            # r7: the two new ENGINE-MECHANISM ops whose machinery is
            # scheduler/executor-shaped — the recursive CTE's UnionLoop
            # steps schedule as separate jobs over executor shuffle
            # files, and the skew split replays mapper ranges from
            # OTHER executors' shuffle output (pure driver-JVM local
            # mode cannot exercise either)
            "graph_reach_recursive", "join_skew_aqe",
            # r8 (r7 verdict #7): every STATEFUL streaming shape with
            # state machinery across real executor JVMs — two chained
            # state stores in one query (window agg feeding dedup
            # state), a foreachBatch sink whose batch closure executes
            # against executor-side shuffle output, and the Python
            # arbitrary-state path (applyInPandasWithState) whose
            # state object pickles across the JVM/Python boundary on
            # each executor
            "stream_chained_stateful", "stream_foreach_batch_sink",
            "stream_transform_with_state",
            # r8 new op: RESTART machinery across real executor JVMs —
            # the resumed query reloads state-store files written by
            # the first run's executors and replays the offset log
            "stream_checkpoint_resume",
            # Python workers fork from the engine's daemon module, which
            # each executor JVM must find from its own working directory
            "udf_pandas_scalar", "multimodal_decode"]

_RUNNER = """
import json, sys
sys.path.insert(0, {repo!r})
from manual_data_ingest_spark.session import get_spark
spark = get_spark("mdis-local-cluster", master="local-cluster[2,4,2048]")
import __spark_entry__ as E
qs = E.queries()
out = {{}}
for name in {queries!r}:
    rows = qs[name](spark, {sf!r}).collect()
    out[name] = sorted([str(v) for v in r] for r in rows)
print("RESULT::" + json.dumps(out))
spark.stop()
"""


@pytest.fixture(scope="module")
def cluster_results():
    proc = subprocess.run(
        [sys.executable, "-c",
         _RUNNER.format(repo=_REPO, queries=_QUERIES, sf=SF)],
        capture_output=True, text=True, timeout=600)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT::"):
            return json.loads(line[len("RESULT::"):])
    raise AssertionError(
        f"local-cluster runner produced no result\nstdout tail: "
        f"{proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}")


@pytest.mark.parametrize("name", _QUERIES)
def test_cluster_matches_local(cluster_results, spark, name):
    import __spark_entry__ as E

    rows = E.queries()[name](spark, SF).collect()
    local = sorted([str(v) for v in r] for r in rows)
    assert cluster_results[name] == local
