#!/usr/bin/env python
"""Stage-floor decomposition for sub-second bench queries (r5 verdict
item 4): splits a query's warm wall time into plan-build (py4j +
analysis), scheduling floor (jobs x empty-job latency at the same
shuffle-partition count), and residual compute. Prints one row per
query plus the measured floor constants.

Usage: python tools/floor.py name [name ...]

Session and timing come from bench.py (bench_session, time_op: bench
knobs, noop sink, warmup + median of 3), so rows are comparable to the
canonical bench.
"""
from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import bench_session, median_time, time_op  # noqa: E402


def main() -> None:
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    spark, sf_dir = bench_session("mdis-floor")
    qs = E.queries()

    # ---- floor constants (same session) -------------------------------
    # no-op action: pure py4j + scheduler round trip, zero stages
    t_noop = median_time(lambda: spark.sql("SELECT 1").collect(), 5)
    # one-stage job: 32 empty-ish tasks
    t_1stage = median_time(lambda: spark.range(32, numPartitions=32).count(), 5)
    # two-stage shuffle job at the session's shuffle-partition count
    t_2stage = median_time(
        lambda: (spark.range(32, numPartitions=32)
                 .groupBy((F.col("id") % 4).alias("k")).count().collect()), 5)
    print(f"FLOOR noop={t_noop:.4f} 1stage={t_1stage:.4f} "
          f"2stage_shuffle={t_2stage:.4f} "
          f"(shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')})")

    for name in sys.argv[1:]:
        fn = qs[name]
        rec = time_op(spark, fn, sf_dir, runs=3, label=f"floor:{name}")
        t_build = median_time(lambda: fn(spark, sf_dir), 3)
        jobs, stages = rec["jobs"], rec["stages"]
        sched_floor = (jobs * t_noop
                       + max(stages - jobs, 0) * (t_2stage - t_1stage))
        compute = rec["median"] - t_build - sched_floor
        print(f"{name:28s} total={rec['median']:.4f} build={t_build:.4f} "
              f"jobs/run={jobs} stages/run={stages} "
              f"sched_floor~={sched_floor:.4f} "
              f"residual_compute~={max(compute, 0):.4f}")


if __name__ == "__main__":
    main()
