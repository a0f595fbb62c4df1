"""SparkSession builder with the engine's mandatory configuration.

Every config here is load-bearing at 100 TB scale or for correctness:

- ``spark.sql.adaptive.enabled`` — AQE re-plans at shuffle boundaries
  (skew-join splitting, partition coalescing, runtime broadcast demotion).
  Required by the 100 TB design bar (SURVEY.md §4).
- ``spark.sql.legacy.parquet.nanosAsLong`` — the ``events`` fixture stores
  ``ts`` as parquet TIMESTAMP(NANOS); Spark 4.1.2 throws
  ``PARQUET_TYPE_ILLEGAL`` without this flag (verified hazard,
  SURVEY.md §2.14 / FIXTURES.md). The column arrives as bigint nanos and
  is converted by :func:`manual_data_ingest_spark.io.load_events`.
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamp rendering,
  matching the DuckDB oracle's naive-UTC reading of the same parquet.
- Arrow execution — every Pandas-UDF operator crosses JVM↔Python over
  Arrow batches; without this the UDF surface (SURVEY.md §2.11) is 10-100×
  slower.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` — with the
  default (true) every ``F.*``/Column call captures its Python call
  site: a ``getActiveSession``, a ``conf.get`` and a
  ``PySparkCurrentOrigin`` set and clear over py4j, plus a Python stack
  walk. Off, a warm plan build at sf0.01 (median of 5, 4 cores) makes
  274 instead of 939 py4j round trips for ``ingest_validate``
  (0.525 → 0.429 s), 295 instead of 1255 for ``ingest_dq_suite``
  (0.365 → 0.210 s) and 179 instead of 579 for ``ingest_cdc_apply``
  (0.203 → 0.139 s). The cost: an ANSI runtime error loses its
  Python ``file:line`` context line (error class, message and JVM stack
  stay). It is a STATIC config (``spark.conf.set`` raises
  ``CANNOT_MODIFY_STATIC_CONFIG``), so only :func:`get_spark` sets it
  and :func:`ensure_engine_configs` skips it: an external session keeps
  its owner's value.
- ``spark.sql.codegen.cache.maxEntries=1000`` — Spark keeps compiled
  whole-stage and expression classes in one JVM-wide cache of 100
  entries by default. One pass of a workload mix needs more distinct
  classes than that, always in the same order, so the cache evicted
  each class before its next use and every pass recompiled every class
  with Janino and ran it JIT-cold: 145-150 compiles per pass of
  perfbench's ``corpus_fact`` mix and 120 per pass of ``curator_batch``
  (passes 2-4, 4 cores). With 1000 entries: at most 6 after the first
  pass, 0 from the fourth, and ``corpus_fact``'s ``op_geomean_s`` fell
  27% on 4 cores (CHANGES.md).
  Generated code is reused only when its source is byte-identical, so
  results cannot change. It is STATIC too: only :func:`get_spark` sets
  it, and an external session keeps its owner's value.
- ``spark.python.daemon.module=mdis_daemon`` — Python workers fork from
  ``worker_daemon/mdis_daemon.py`` instead of ``pyspark.daemon``. It
  drops Spark's ``pyspark.zip``, py4j zip and spark-core jar from the
  daemon's ``sys.path`` when a directory install of the same version
  can stand in, so pyspark's per-task ``importlib.invalidate_caches()``
  no longer re-reads each archive's directory: 75-76 ms → 0.03 ms per
  Python-UDF task, and perfbench's ``corpus_fact`` ``op_geomean_s``
  fell 8% on 4 cores (CHANGES.md). The workers import the same
  pyspark release either way, so results cannot change. Workers start
  it as ``python -m mdis_daemon`` from their own working directory, so
  :func:`get_spark` also puts its directory in front of any
  ``spark.executorEnv.PYTHONPATH`` the owner set. It is STATIC: only
  :func:`get_spark` sets it, and an external session keeps its
  owner's daemon.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

#: directory of the worker daemon module (module doc); it holds nothing
#: else, so it is the only thing it adds to the workers' import path
DAEMON_DIR = str(Path(__file__).resolve().parent.parent / "worker_daemon")
EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

#: configs applied to every engine session (also applied on top of an
#: externally provided session by re-setting the runtime-settable subset).
ENGINE_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # maxShuffledHashJoinLocalMapThreshold is left to the session owner:
    # it is a data-regime knob (SCALE.md: wins at 4× sf0.1, loses at 1×)
    # that a production deployment sets ≥ its advisory partition size.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Fixture timestamps are wall-clock values; read them as TimestampType
    # (session-TZ) rather than NTZ so window/date arithmetic is uniform.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark's default parquet timestamp encoding is legacy INT96 (Impala
    # compat), which carries NO min/max statistics — every timestamp
    # predicate then reads every row group, and at 100 TB the sort-key
    # layout (`sink_sorted_layout`) would prune nothing. INT64 micros is
    # the modern encoding, stats-complete and pyarrow/DuckDB-readable.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Shuffle partition count is a DATA-size decision, not a core-count
    # one (BASELINE.md protocol: size partitions to the SF). The default
    # tracks cores for the general case; a session owner who knows the
    # data volume sets the runtime conf itself (bench.KNOBS sets 8 at
    # sf0.1 ≈ 100 MB — measured 10-30% off the per-query floor; a real
    # cluster at 100 TB sets thousands).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Input split size is the scan-side twin of the shuffle conf: the
    # fixture tables are SINGLE parquet files, so the 128m default yields
    # one scan task regardless of cores; splitting at row-group
    # granularity parallelizes the scan (measured ~35% on scan-bound
    # queries at sf0.1 with 8m, bench.KNOBS). A 100 TB deployment keeps
    # large splits — this tracks data size, not a constant.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Broadcast threshold is the third data-size conf: in a single JVM
    # the driver-side hash-relation build + broadcast of a >2 MB side
    # costs more than a small shuffle (flagship_q3 measured 0.68→0.41 s
    # when its 17 MiB filtered-lineitem side shuffles instead; bench.KNOBS
    # sets 2 MB), while a real cluster keeps the 10 MB default because
    # broadcast avoids shuffling BOTH sides over the network. Explicit
    # broadcast() hints (dimension tables, probe sets — small by
    # construction) are unaffected by this threshold.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    # Python call-site capture per Column call (module doc); static, so
    # it takes effect only in get_spark's builder.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Codegen class cache (module doc); static. Distinct classes one
    # pass compiles (4 cores): 161 for perfbench corpus_fact, 132 for
    # curator_batch, 264 for bench.py's 21-query HEADLINE at sf0.1 —
    # 1000 is 3.8x the largest working set.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Worker daemon without zip importers (module doc); static.
    "spark.python.daemon.module": "mdis_daemon",
}


def get_spark(app_name: str = "manual-data-ingest-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for this test
    environment; on a real cluster the caller passes nothing and
    spark-submit supplies the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = SparkConf(loadDefaults=False).setAll([
        ("spark.app.name", app_name), ("spark.master", master),
        *ENGINE_CONFIGS.items(),
        # Local-mode niceties; harmless on a cluster (overridden by
        # submit conf).
        ("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")),
        ("spark.ui.enabled", "false"),
        # \r-based progress lines interleave destructively with piped stdout
        ("spark.ui.showConsoleProgress", "false"),
    ])
    # The JVM reads the owner's spark-defaults and submit args at launch;
    # launch it with the same conf getOrCreate would pass, then read the
    # owner's executor PYTHONPATH so the daemon's directory is prepended
    # to it rather than replacing it.
    SparkContext._ensure_initialized(conf=conf)
    owner_path = SparkConf().get(EXECUTOR_PYTHONPATH, None)
    conf.set(EXECUTOR_PYTHONPATH,
             os.pathsep.join(p for p in (DAEMON_DIR, owner_path) if p))
    return SparkSession.builder.config(conf=conf).getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``); a codegen cache hit does not count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


#: configs an externally built session MUST carry or results are wrong:
#: nanosAsLong (events parquet read throws PARQUET_TYPE_ILLEGAL without
#: it), UTC rendering and non-NTZ inference (timestamp value/type parity
#: with the oracle). Everything else in ENGINE_CONFIGS is performance.
CORRECTNESS_CONFIGS: frozenset[str] = frozenset({
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
})

#: tuning knobs we deliberately do NOT override on a session we didn't
#: build — the owner (driver/bench harness) may have sized them — and
#: static configs, whose ``spark.conf.set`` always raises (the caught
#: exception took each call from ~5 ms to ~25 ms on a 4-core box).
_EXTERNAL_KEEP: frozenset[str] = frozenset({
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.python.sql.dataFrameDebugging.enabled",
    "spark.sql.codegen.cache.maxEntries",
    "spark.python.daemon.module",
})


#: set in a session's conf once :func:`ensure_engine_configs` has applied
#: the configs to it; a new session (``newSession``) starts without it
_APPLIED_KEY = "spark.mdis.engineConfigs.applied"


def ensure_engine_configs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine configs to an existing session.

    The driver hands us a session it built itself. Correctness-critical
    keys are applied AND verified by read-back — a session where one of
    them could not take effect would produce wrong results or opaque
    read errors later, so that raises immediately with a clear message
    instead of being swallowed. Performance keys are best-effort, and
    the owner's sizing knobs (shuffle partitions, split size) are left
    untouched.

    The full apply is about a dozen py4j round trips, and the driver
    contract runs this before every operator call. So it happens once
    per session; a repeat call only reads back the correctness keys and
    re-applies everything if one of them was changed in between.
    """
    if spark.conf.get(_APPLIED_KEY, None) == "true" and all(
            spark.conf.get(k, None) == ENGINE_CONFIGS[k]
            for k in CORRECTNESS_CONFIGS):
        return spark
    problems: list[str] = []
    for k, v in ENGINE_CONFIGS.items():
        if k in _EXTERNAL_KEEP:
            continue
        critical = k in CORRECTNESS_CONFIGS
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if critical:
                problems.append(f"{k}={v!r} could not be set: {exc}")
            continue
        if critical:
            got = spark.conf.get(k, None)
            if got != v:
                problems.append(f"{k}: wanted {v!r}, session reports {got!r}")
    if problems:
        raise RuntimeError(
            "externally provided SparkSession is missing correctness-critical "
            "configs (events parquet reads / timestamp parity would silently "
            "break): " + "; ".join(problems))
    spark.conf.set(_APPLIED_KEY, "true")
    return spark
