#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol), dual-scale since r3, and the
one session-and-timing path every measurement tool shares.

    python bench.py [name ...]

Runs the named registry queries (default: the ``HEADLINE`` set) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture, ``SF_DIR``) on
local[$SPARK_GRAFT_CPUS], one warmup + N timed runs each, against the
same queries' DuckDB oracles, prints one progress line per query to
stderr and ONE JSON line to stdout. Top-level keys keep the exact r1/r2
shape (cross-round comparability); the N× rows land under a ``scales``
key: the SAME queries and the SAME DuckDB comparator run on
``perfbench/fixture.py``'s generator at N × its sf0.1-class size (seed
``GROWN_SEED``), whatever ``SF_DIR`` is. Each grown dir is built once,
keyed on (N, seed) by the generator's ``_COMPLETE`` marker. The ratio
falls with data size at fixed plan because Spark's per-query local-mode
floor is constant while everything that grows, grows slower than
DuckDB's runtime — sf0.1 measures the floor.

    {"metric": ..., "value": <sf0.1 total sec>, "unit": "sec",
     "queries": {...}, "sf": 0.1, "duckdb": {...}, "ratio": {...},
     "median_ratio": ..., "scales": {"4x": {"dir": ..., "build_s": ...,
     "queries": ..., "duckdb": ..., "ratio": ..., "median_ratio": ...,
     "queries_le_2x": ...}},
     "setup": {"get_spark_s": ..., "resolve_tables_s": ...,
               "resolve_jobs": ...}}

``setup`` is the cold start a one-batch curator process pays before
its first query: the session build, and resolving every table of
$SPARK_GRAFT_SF_DIR through ``io.load_table`` (seconds, and the Spark
jobs that launched).

Env knobs: BENCH_RUNS (timed runs/query, default 3) and BENCH_SCALES
(comma list of multipliers, default "1,4"; "1" = the plain sf dir).
``BENCH_SCALES=16 python bench.py NAME ...`` is the per-query scale run
(16×/64× stress rows).

Tools import the helpers: ``bench_session`` (engine session + KNOBS,
its cold start recorded on request), ``time_op`` (warmup, timed
noop-sink runs, jobs/stages, codegen compiles) and ``time_sql`` (the
comparator side).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TIMED_RUNS = int(os.environ.get("BENCH_RUNS", "3"))
SCALES = [int(s) for s in os.environ.get("BENCH_SCALES", "1,4").split(",")]

#: seed of the grown N× fixtures (the grown MULT-10 fixture's seed)
GROWN_SEED = 1234

#: bench-local data-size session confs, sized to sf0.1 ≈ 100 MB
#: (BASELINE.md protocol: "partitions sized to the target SF"); the
#: engine's defaults are ``session.ENGINE_CONFIGS``. Shuffle partitions:
#: measured 10-30% off the per-query floor; split size: ~35% on
#: scan-bound queries (the fixture tables are single files, so default
#: 128m splits give one scan task); broadcast: in one JVM,
#: building+broadcasting a >2 MB hash relation loses to an 8-partition
#: shuffle — measured full-bench A/B: total 14.6→13.5 s, wins on every
#: join-bearing headline (q3 0.93→0.64). Explicit broadcast() hints are
#: unaffected. Together they are 15% off the engine defaults at sf0.1
#: (16.06 vs 18.48 s, ROADMAP item 10).
KNOBS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.autoBroadcastJoinThreshold": "2097152",
}

#: headline queries — one per major operator family (SURVEY.md §2)
HEADLINE = [
    "flagship_q3",          # scan+filter+join+agg+topk
    "agg_pricing_summary",  # TPC-H Q1 hash agg
    "join_inner_equi",      # fact-dim join
    "join_asof",            # composed non-equi join
    "provenance_chain",     # 5-way join + rollup
    "win_topk_group",       # window group limit
    "win_moving_range",     # range-frame window
    "ingest_validate",      # multi-rule union
    "ingest_upsert_latest", # latest-wins upsert
    "dedup_exact",          # hash dedup (self-union)
    "dedup_near_jaccard_capped",  # shingle postings, posting-frequency cap
    "dedup_simhash_wide",   # 60-bit simhash fp, 2^15 buckets
    "sim_topk",             # broadcast probe brute-force baseline
    "sim_ann_lsh",          # sign-bit LSH bucketed ANN
    "sim_threshold_pairs",  # blocked similarity join, BLAS default (r2 swap)
    "text_wordcount",       # explode + agg
    "text_fingerprint",     # rolling-hash windows (codegen expr stress)
    "multimodal_decode",    # mapInPandas Arrow binary batches
    "udf_pandas_scalar",    # Arrow UDF path
    "stream_session",       # streaming session windows
    "pipeline_llm_prep",    # end-to-end dedup+quality+lang manifest
]


def _sf_from_dir(d: str) -> float:
    name = os.path.basename(d.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def scale_dir(scale: int) -> tuple[str, float]:
    """The fixture dir of the ``scale``× row and the seconds its build
    took: ``SF_DIR`` at 1, else perfbench's generator at ``scale`` ×
    its sf0.1-class size, built once per (scale, ``GROWN_SEED``) — the
    dir name carries both, and the generator's ``_COMPLETE`` marker
    skips a finished build (``build_s`` 0). The scale goes in as a
    float, as the generator's CLI parses it, so a dir the CLI built
    carries the same marker."""
    if scale == 1:
        return SF_DIR, 0.0
    from perfbench import fixture

    out = f"/tmp/mdis_bench_grown_{scale}x_s{GROWN_SEED}"
    stats = fixture.build(out, float(scale), GROWN_SEED)
    return out, round(stats["build_s"], 4)


def resolve_tables(spark, sf_dir: str) -> dict:
    """Resolve every fixture table of ``sf_dir`` through
    ``io.load_table``. Returns ``{"resolve_tables_s", "resolve_jobs"}``:
    the jobs are the status-tracker diff ``time_op`` takes, read after
    the listener bus has delivered every job start."""
    from manual_data_ingest_spark import io

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    secs = timed(lambda: [io.load_table(spark, sf_dir, name)
                          for name in io.TABLES])
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j not in before]
    return {"resolve_tables_s": secs, "resolve_jobs": len(jobs)}


def bench_session(app: str, setup: dict | None = None):
    """The engine session with the bench KNOBS applied and every
    ``SF_DIR`` table resolved. The cold start goes into ``setup`` when
    given: ``get_spark_s`` plus :func:`resolve_tables`' record. Returns
    ``(spark, SF_DIR)``."""
    from manual_data_ingest_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    get_spark_s = round(time.perf_counter() - t0, 4)
    for key, value in KNOBS.items():
        spark.conf.set(key, value)
    resolved = resolve_tables(spark, SF_DIR)
    if setup is not None:
        setup.update(get_spark_s=get_spark_s, **resolved)
    return spark, SF_DIR


def timed(fn) -> float:
    """Seconds one call of ``fn()`` takes."""
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def median_time(fn, runs: int) -> float:
    """Median seconds of ``runs`` calls of ``fn()`` after one warmup."""
    timed(fn)
    return round(statistics.median(timed(fn) for _ in range(runs)), 4)


def time_op(spark, fn, sf_dir: str, runs: int = TIMED_RUNS,
            label: str | None = None) -> dict:
    """Time registry query ``fn(spark, sf_dir)`` into the noop sink.

    The warmup run also builds every session-cached artifact (table
    plans, the LSH/IVF index checkpoints), so timed runs measure the
    query, not index builds. Job/stage counts come from the status
    tracker around the first timed run (r11 verdict task 1: a
    floor-bound query's cost is ~N stages × the per-stage scheduling
    constant, so the counts ship with the times); the tracker is read
    outside the timed calls, as is the count of classes Janino compiled
    in that run (``compiles``: 0 while the codegen cache holds the
    query's classes). ``label`` becomes the jobs' description. Returns
    ``{"median", "runs", "warmup", "jobs", "stages", "compiles"}``;
    session confs are left as found."""
    from manual_data_ingest_spark.session import codegen_compiles

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run() -> None:
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    sc.setJobDescription(label)
    try:
        warmup = timed(run)
        before = set(tracker.getJobIdsForGroup(None))
        compiled = codegen_compiles(spark)
        times = [timed(run)]
        compiles = codegen_compiles(spark) - compiled
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j not in before]
        times += [timed(run) for _ in range(runs - 1)]
    finally:
        sc.setJobDescription(None)
    infos = [tracker.getJobInfo(j) for j in jobs]
    return {"median": round(statistics.median(times), 4), "runs": times,
            "warmup": warmup, "jobs": len(jobs),
            "stages": sum(len(i.stageIds) for i in infos if i),
            "compiles": compiles}


def time_sql(con, sql: str, runs: int = TIMED_RUNS) -> float:
    """Median seconds of ``sql`` on ``con`` after one warmup."""
    return median_time(lambda: con.execute(sql).fetchall(), runs)


def measure_floor(spark) -> float:
    """Spark local-mode fixed per-query cost, measured as a MINIMAL REAL
    query: parquet scan (5-row dim table) → shuffle aggregate → noop
    commit. A bare `range(1)` write measures only ~26 ms because it has
    no scan stage and no exchange; every benched query pays at least one
    of each, so this probe is the honest subtractable floor. Embedded
    DuckDB's equivalent is ~0, so sub-second ratios measure
    floor-vs-floor; `ratio_above_floor` subtracts this number
    (BASELINE.md floor analysis)."""
    from pyspark.sql import functions as F
    from manual_data_ingest_spark.io import load_table

    def probe(spark, sf_dir):
        return (load_table(spark, sf_dir, "region").groupBy("r_regionkey")
                .agg(F.count("*").alias("n")))

    return time_op(spark, probe, SF_DIR, runs=5)["median"]


def _median_ratio(values) -> float | None:
    values = list(values)
    return round(statistics.median(values), 2) if values else None


def bench_scale(spark, scale: int, names: list[str]) -> dict:
    import __spark_entry__ as E
    from tests.oracle_check import duckdb_connect

    sf_dir, build_s = scale_dir(scale)
    # shuffle partitions track data size: the 1× base times the multiplier
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(int(KNOBS["spark.sql.shuffle.partitions"]) * scale))
    qs, oracles = E.queries(), E.oracle_sql()
    spark_times: dict[str, float] = {}
    job_counts: dict[str, dict[str, int]] = {}
    for name in names:
        rec = time_op(spark, qs[name], sf_dir, label=f"bench:{name}")
        spark_times[name] = rec["median"]
        job_counts[name] = {k: rec[k] for k in ("jobs", "stages", "compiles")}
    con = duckdb_connect(sf_dir)
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    duck_times = {n: time_sql(con, oracles[n]) for n in names if n in oracles}
    con.close()
    ratio = {k: round(spark_times[k] / duck_times[k], 2)
             for k in spark_times if duck_times.get(k, 0) > 0}
    for name in names:
        print(f"{scale}x {name:28s} spark={spark_times[name]:7.3f} "
              f"duck={duck_times.get(name, float('nan')):7.3f} "
              f"ratio={ratio.get(name)} {job_counts[name]}",
              file=sys.stderr, flush=True)
    return {
        "dir": sf_dir,
        "build_s": build_s,
        "queries": spark_times,
        "job_counts": job_counts,
        "duckdb": duck_times,
        "ratio": ratio,
        "median_ratio": _median_ratio(ratio.values()),
        "value": round(sum(spark_times.values()), 4),
        "queries_le_2x": sum(1 for v in ratio.values() if v <= 2.0),
        "spark_wins": sum(1 for v in ratio.values() if v < 1.0),
    }


def main(names: list[str]) -> None:
    setup: dict = {}
    spark, _ = bench_session("mdis-bench", setup=setup)
    per_scale = {f"{s}x": bench_scale(spark, s, names) for s in SCALES}
    # Back to the 1x partition base before probing the floor (r3
    # advisor): the floor is subtracted from 1x numbers — it must pair
    # with their partition config for cross-round comparability.
    spark.conf.set("spark.sql.shuffle.partitions",
                   KNOBS["spark.sql.shuffle.partitions"])
    floor = measure_floor(spark)

    base = per_scale.get("1x") or per_scale[f"{SCALES[0]}x"]
    ratio_above_floor = {
        k: round(max(base["queries"][k] - floor, 0.0001) / base["duckdb"][k], 2)
        for k in base["ratio"]}
    out = {
        "metric": "headline query wall time, Spark local vs DuckDB comparator",
        "value": base["value"],
        "unit": "sec",
        "queries": base["queries"],
        "job_counts": base["job_counts"],
        "sf": _sf_from_dir(SF_DIR),
        "duckdb": base["duckdb"],
        "ratio": base["ratio"],
        "spark_query_floor_sec": floor,
        "ratio_above_floor": ratio_above_floor,
        "median_ratio": base["median_ratio"],
        "scales": {k: v for k, v in per_scale.items() if k != "1x"},
        "setup": setup,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:] or HEADLINE)
