"""Table loaders for the fixture star schema (FIXTURES.md).

All loads are plain parquet scans — scans stay columnar and Catalyst
pushes filters/projections into the parquet reader; the schema comes
from one footer read on the driver (:func:`parquet_schema`). The one
special case is ``events``: its ``ts`` column is parquet TIMESTAMP(NANOS),
which the engine session reads as bigint nanos (see session.py) and this
module converts to a proper µs TimestampType column via integer division
(``ts div 1000`` — integer div, never float div: nanos ≈ 1.7e18 exceeds
double's 53-bit mantissa, so float division would corrupt low microseconds).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: every fixture table (TESTDATA.md)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

T = TypeVar("T")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``events`` gets its ts converted (see module doc).

    No Spark job: the schema is read on the driver from one parquet
    footer (:func:`parquet_schema`) and passed as
    ``spark.read.schema(s).parquet(path)``. Spark's own inference
    (``spark.read.parquet(path)`` with no schema) launches one job per
    table to read that same footer. On 4 cores, resolving the ten tables
    in a cold perfbench set-up took 2.01 s with inference and 1.16 s from
    the footers (medians of 10 ``curator_batch`` runs); in a warm session,
    54 ms and 14 ms per sf0.01 table.

    The analyzed DataFrame is cached per (session, sf_dir, table): even
    without the job, a resolve pays the footer read, the file listing
    and analysis, which the cache keeps out of every query after the
    first. Sinks that read their own output back pass the schema they
    wrote with, for the same reason. A DataFrame is an
    immutable logical plan, so reuse is semantics-free; this is the same
    move a real deployment makes by resolving tables through a catalog
    (metastore schema cache) instead of re-listing files per query. The
    cache dies with the session object; fixture tables are never
    overwritten in-place (sinks write to fresh temp dirs).
    """
    cache = getattr(spark, "_mdis_table_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_table_cache = cache
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        if name == "events":
            df = _convert_event_ts(df)
        cache[key] = df
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one footer, so no Spark job runs.

    The footer is the one Spark's inference reads when ``mergeSchema``
    is off: a ``_common_metadata``, else a ``_metadata`` summary file,
    else the first data file in path order. The conversion is Spark's
    own (``ParquetFileFormat.readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``), so the session's type rules hold
    (``nanosAsLong``, ``inferTimestampNTZ``, the Spark schema a Spark
    writer stores in the footer), and the path may be any Hadoop URI.

    Where no single footer decides the schema, Spark infers it: the path
    does not exist, holds no data file, or holds a subdirectory
    (partition discovery adds columns no footer has). Its errors and
    partition columns stay Spark's own."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    status = _footer_file(fs, p) if fs.exists(p) else None
    if status is None:
        return spark.read.parquet(path).schema
    pq = jvm.org.apache.parquet
    skip_row_groups = pq.format.converter.ParquetMetadataConverter \
        .SKIP_ROW_GROUPS
    footer = pq.hadoop.ParquetFileReader.readFooter(conf, status,
                                                    skip_row_groups)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        pq.hadoop.Footer(status.getPath(), footer),
        parquet.ParquetToSparkSchemaConverter(state.conf()))
    return StructType.fromJson(json.loads(schema.json()))


def _footer_file(fs, p):
    """The Hadoop ``FileStatus`` whose footer Spark's inference reads
    for path ``p`` (see :func:`parquet_schema`), or None."""
    status = fs.getFileStatus(p)
    if not status.isDirectory():
        return status
    # summary files first, then data files in path order
    files = {}
    for kid in fs.listStatus(p):
        where = kid.getPath().toString()
        name = where.rsplit("/", 1)[-1]
        if _hidden(name):
            continue
        if kid.isDirectory():
            return None
        files[(name != "_common_metadata", name != "_metadata", where)] = kid
    return files[min(files)] if files else None


def _hidden(name: str) -> bool:
    """Spark's file-index filter (``InMemoryFileIndex``): names starting
    with ``_`` or ``.`` are not data, except the parquet summary files
    and ``_k=v`` partition dirs; nor are files still being copied."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def clear_table_cache(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop cached analyzed plans for ``sf_dir`` (or everything).

    The ``load_table`` cache assumes fixture dirs are IMMUTABLE for the
    session lifetime — true for the checked-in fixtures and for grown
    dirs written once. If a fixture dir is regenerated IN-PLACE inside a
    live session, the cached plan holds a stale file listing; call this
    first (r2 advisor item, io.py:53). ``perfbench/fixture.py`` skips a
    dir whose ``_COMPLETE`` marker names the same (scale, seed) for the
    same reason.
    """
    cache = getattr(spark, "_mdis_table_cache", None)
    if cache is not None:
        if sf_dir is None:
            cache.clear()
        else:
            for key in [k for k in cache if k[0] == sf_dir]:
                del cache[key]
    # derived-index caches (cached_index) hold plans or paths derived
    # from the same fixture bytes — same staleness rule
    idx = getattr(spark, "_mdis_cache", None)
    if idx is not None:
        if sf_dir is None:
            idx.clear()
        else:
            for key in [k for k in idx
                        if isinstance(k, tuple) and sf_dir in k]:
                del idx[key]


def cached_index(spark: SparkSession, tag: str, sf_dir: str,
                 build: Callable[[], T]) -> T:
    """The session's derived index ``tag`` over ``sf_dir``, built by
    ``build()`` on first use (sim_ann_lsh's bucketed table, the PQ
    codebooks). An index is built
    once per (session, sf_dir), not charged to every query that reads
    it; at 100 TB it is a table on storage. Keyed (tag, sf_dir), so
    ``clear_table_cache(spark, sf_dir)`` drops it with the fixture."""
    cache = getattr(spark, "_mdis_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_cache = cache
    key = (tag, sf_dir)
    if key not in cache:
        cache[key] = build()
    return cache[key]


def _eager_node(plan) -> str | None:
    """Class name of the first node in a JVM physical plan that would run
    query stages when the plan is executed (an AQE root, an exchange or a
    query stage), else None. Walks children and subquery plans by node
    class, never by plan text, so a path or column named ``Exchange...``
    is not a hit. A cached relation's scan is a leaf here: reading the
    cache does not re-run the plan that filled it."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if (cls == "AdaptiveSparkPlanExec" or "Exchange" in cls
                or cls.endswith("QueryStageExec")):
            return cls
        if cls == "InMemoryTableScanExec":
            continue
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return None


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition an under-parallel scan before CPU-heavy row expansion
    (guide §2.5 "one huge unsplittable file" remedy, r12 optimization).

    Parquet splits only at row-group boundaries, so a single-row-group
    file scans as ONE task no matter how small the configured split
    size — and the fixture tables are exactly that, which left every
    explode+hash map stage (shingling, tokenizing, fingerprint sums)
    on one core with the other 31 idle (measured: dedup_near_jaccard's
    shingle stage was single-task at every split setting).

    Round-robin repartition to the session's default parallelism, but
    ONLY when the plan is genuinely under-parallel (fewer partitions
    than half the task slots). At 100 TB the inputs carry thousands of
    row groups / files, the guard is a no-op, and no extra shuffle is
    paid — this is a small-input adaptation, not a tuned constant: both
    sides of the comparison derive from the live session. The round-
    robin exchange itself is retry-safe: Spark local-sorts input before
    round-robin placement (sortBeforeRepartition, SPARK-23207).

    Probe: the JVM-side physical-plan partition count (~1-4 ms, no
    job). Python-side ``df.rdd`` would ALSO work but builds the whole
    Python-serialization pipeline on first touch — measured ~1 s per
    fresh DataFrame, i.e. more than the win on some queries. CALLER
    CONTRACT: pass a scan-shaped plan (table load + filters/projects,
    no exchange) — under AQE an exchange-bearing plan would execute its
    query stages eagerly inside the probe. Since r13 the contract is
    ENFORCED (r12 verdict task 7): the probed plan is checked for
    exchange/shuffle nodes before ``execute()`` and a violating caller
    gets a ``ValueError`` instead of a silent double-execution.
    """
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    bad = _eager_node(plan)
    if bad is not None:
        raise ValueError(
            f"fan_out() caller contract violated: probed plan contains "
            f"{bad} — probing it would eagerly execute query stages. "
            "Pass a scan-shaped plan (load + filter/project).")
    n = plan.execute().getNumPartitions()
    if n * 2 >= slots:
        return df
    return df.repartition(slots)


def _convert_event_ts(df: DataFrame) -> DataFrame:
    """bigint-nanos → TimestampType(µs), truncating (positive epochs: floor)."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
