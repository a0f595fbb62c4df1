"""Scans, sources, and sinks (SURVEY.md §2.1).

Reference behavior reconstructed: reading curator TSV/CSV sheets and
JSON payloads, emitting TSV manifests, partitioned metadata writes.

Round-trip operators write to a per-call temp directory and read back —
the read-back result is what gets oracle-compared, so the write path is
exercised end-to-end. At 100 TB the partitioned sink is the layout
strategy: partition by a low-cardinality derived key (year) so readers
get partition pruning for free.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from manual_data_ingest_spark.io import load_table
from manual_data_ingest_spark.registry import register

import atexit as _atexit
import shutil as _shutil

_TMPDIRS: list[str] = []


def _tmpdir(prefix: str) -> str:
    """mkdtemp that REGISTERS cleanup: round-trip sinks create a dir per
    call, and a long-lived session (bench warmups, oracle sweeps) would
    otherwise accumulate them on disk — the leak class the r1 advisor
    flagged for stream dirs, fixed here for every file sink."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TMPDIRS.append(d)
    return d


def _reap_tmpdirs() -> None:  # pragma: no cover — process teardown
    for d in _TMPDIRS:
        _shutil.rmtree(d, ignore_errors=True)
    _TMPDIRS.clear()


_atexit.register(_reap_tmpdirs)



@register("scan_parquet", """
SELECT l_returnflag, count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
""")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # projection + count: the scan should read ONE column (ReadSchema
    # shows l_returnflag only — verified in the explain audit)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count("*").alias("cnt"))


@register("scan_csv_roundtrip", """
SELECT * FROM nation
""")
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # write CSV with header, re-read with an EXPLICIT schema (inference is
    # banned in the engine: curator sheets get declared schemas).
    # The LOSSLESS round-trip option set (adversarial sweep findings —
    # each option closes a real write/read asymmetry):
    #  - multiLine read: the writer QUOTES embedded newlines but the
    #    default line-split reader tears those records apart (25
    #    nations came back as 27 rows);
    #  - ignore*WhiteSpace=false on WRITE: the CSV writer TRIMS
    #    leading/trailing whitespace by default, silently corrupting
    #    whitespace-significant values;
    #  - nullValue '\\N' on both sides: by default NULL and '' both
    #    serialize to an empty field and both read back as NULL — a
    #    distinct null token keeps '' and NULL distinguishable.
    n = load_table(spark, sf_dir, "nation")
    out = _tmpdir("mdis_csv_")
    (n.write.mode("overwrite").option("header", True)
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false")
     .option("nullValue", "\\N").csv(out))
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ])
    return (spark.read.schema(schema).option("header", True)
            .option("multiLine", True).option("nullValue", "\\N").csv(out))


@register("scan_json_lines", """
SELECT * FROM region
""")
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    out = _tmpdir("mdis_jsonl_")
    r.write.mode("overwrite").json(out)
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ])
    return spark.read.schema(schema).json(out)


@register("source_generated", """
SELECT range AS id,
       range * 2 AS doubled,
       range % 7 AS mod7
FROM range(1000)
""")
def source_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic-data source: spark.range distributes the sequence across
    # partitions — the generator the driver's own testdata uses
    return (spark.range(1000)
            .select(F.col("id"),
                    (F.col("id") * 2).alias("doubled"),
                    (F.col("id") % 7).alias("mod7")))


@register("sink_partitioned", """
SELECT year(o_orderdate)::BIGINT AS o_year, count(*) AS cnt
FROM orders
GROUP BY 1
""")
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partitioned metadata write + partition-pruned read-back; the count
    # comes from the re-read so directory layout is what's verified
    o = load_table(spark, sf_dir, "orders")
    out = _tmpdir("mdis_part_")
    w = o.withColumn("o_year", F.year("o_orderdate"))
    w.write.mode("overwrite").partitionBy("o_year").parquet(out)
    # explicit schema on read-back: an all-empty input writes zero part
    # files and schema inference then fails — the empty-partition case
    # every production backfill hits (empty-input sweep finding)
    back = spark.read.schema(w.schema).parquet(out)
    return (back.groupBy(F.col("o_year").cast("long").alias("o_year"))
            .agg(F.count("*").alias("cnt")))


_BINFILE_DIRS: dict[str, str] = {}


def _binfile_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize each document's bytes as one file (test shim — in
    production the files ALREADY exist on the Globus mount / object
    store; the operator below is the scan, this is only fixture prep)."""
    if sf_dir not in _BINFILE_DIRS:
        import os

        d = _tmpdir("mdis_binfiles_")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for row in docs.toLocalIterator():
            if not row.text:
                continue  # NULL text has NO file on the mount; EMPTY
                # text would write a zero-byte file that Spark's file
                # sources SKIP (r7 null sweep: the "NULL text = empty
                # file" shim made the scan silently read 450/500; r7
                # advisor: an empty STRING hits the same skip, so the
                # oracle mirrors `text <> ''` and a probe pins it)
            with open(os.path.join(d, f"{row.doc_id}.bin"), "wb") as f:
                f.write(row.text.encode())
        _BINFILE_DIRS[sf_dir] = d
    return _BINFILE_DIRS[sf_dir]


@register("scan_binaryfile", """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE text IS NOT NULL AND text <> ''
""")
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-media scan via Spark's `binaryFile` source — the real
    ingestion path for multimodal corpora: each file arrives as one row
    (path, modificationTime, length, content binary); metadata extraction
    happens JVM-side on the bytes.

    Scale: binaryFile reads are partitioned across executors by file;
    `pathGlobFilter`/`recursiveFileLookup` prune at listing time. The
    reference's os.walk + per-file checksum loop becomes one distributed
    scan.
    """
    d = _binfile_dir(spark, sf_dir)
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.bin").load(d))
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"))


@register("sink_manifest_tsv", """
SELECT doc_id, source, md5(text) AS content_md5,
       n_chars, doc_id % 16 AS bucket
FROM documents
""")
def sink_manifest_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference emits TSV manifests; write tab-separated, re-read with
    # explicit schema, return the round-tripped relation
    d = load_table(spark, sf_dir, "documents")
    manifest = d.select(
        "doc_id", "source",
        F.md5("text").alias("content_md5"),
        "n_chars",
        F.pmod("doc_id", F.lit(16)).alias("bucket"))
    out = _tmpdir("mdis_tsv_")
    # same lossless option set as scan_csv_roundtrip: preserve
    # whitespace on write, keep NULL distinguishable from '', and read
    # multiLine so writer-quoted embedded newlines/tabs reassemble
    # (adversarial sweep: 500 manifest rows came back as 545)
    (manifest.write.mode("overwrite").option("sep", "\t")
     .option("header", True)
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false")
     .option("nullValue", "\\N").csv(out))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ])
    return (spark.read.schema(schema).option("sep", "\t")
            .option("header", True).option("multiLine", True)
            .option("nullValue", "\\N").csv(out))


def read_excel_sheet(spark: SparkSession, path: str, sheet: str | int = 0,
                     schema: "T.StructType | None" = None) -> DataFrame:
    """Curator Excel-sheet source (the reference ingests .xlsx metadata).

    Excel is not a splittable format — one sheet is one pandas read on
    the driver, then parallelized; fine for curator sheets (thousands of
    rows), wrong for bulk data, which arrives as CSV/TSV/parquet via the
    registered scan operators. This environment ships no Excel engine
    (openpyxl/xlrd absent), so the read is gated: the code path is real,
    the dependency is not — mirroring the multimodal decode stubs.
    """
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "read_excel_sheet needs openpyxl (not shipped in this "
            "environment); use the CSV/TSV scan operators instead") from exc
    import pandas as pd  # pragma: no cover — requires openpyxl

    pdf = pd.read_excel(path, sheet_name=sheet)  # pragma: no cover
    return spark.createDataFrame(pdf, schema=schema)  # pragma: no cover


@register("scan_excel", """
SELECT * FROM nation
""")
def scan_excel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered curator-sheet scan: the driver-visible surface for
    :func:`read_excel_sheet`.

    The real .xlsx path is attempted first; in this container (no Excel
    engine) the operator falls through to a CSV export of the SAME sheet
    and runs the IDENTICAL contract — driver-side pandas read of one
    small curator sheet, then ``createDataFrame`` with the DECLARED
    schema (inference banned). Curator sheets are small by contract
    (thousands of rows on one driver); bulk data never takes this path —
    it arrives via the distributed CSV/TSV/parquet scans above.
    """
    import os

    import pandas as pd

    n = load_table(spark, sf_dir, "nation")
    sheet_pdf = n.toPandas()  # curator-sheet scale: tens of rows
    d = _tmpdir("mdis_sheet_")
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ])
    try:
        xlsx = os.path.join(d, "nation.xlsx")
        sheet_pdf.to_excel(xlsx, index=False)  # needs openpyxl
        return read_excel_sheet(spark, xlsx, schema=schema)
    except (ImportError, ModuleNotFoundError, NotImplementedError):
        csv_path = os.path.join(d, "nation.csv")
        # lossless pandas round trip (the scan_csv_roundtrip recipe in
        # pandas spelling): a distinct NA token keeps NULL and ''
        # distinguishable, keep_default_na=False stops read_csv from
        # NA-ing empty/whitespace cells a curator legitimately typed
        sheet_pdf.to_csv(csv_path, index=False, na_rep="\\N")
        pdf = pd.read_csv(csv_path, keep_default_na=False,
                          na_values=["\\N"])
        return spark.createDataFrame(pdf, schema=schema)


@register("sink_merge_upsert", f"""
WITH merged AS (
    -- nullif: the hive-layout '' → NULL partition normalization the
    -- Spark side declares (see the operator docstring)
    SELECT user_id, nullif(event_type, '') AS event_type,
           event_id, ts::TIMESTAMP AS ts, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, nullif(event_type, '')
                               ORDER BY ts DESC, event_id DESC) = 1
)
SELECT event_type,
       count(*)                  AS n_keys,
       max(event_id)             AS max_event_id,
       floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
FROM merged GROUP BY event_type
""")
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-into-existing-data, the parquet-native way: dynamic
    partition overwrite.

    Flow (the 100 TB ingest loop, end-to-end):
    1. a base snapshot (latest record per key, events before Jan 20)
       is written partitioned by ``event_type`` — the standing table;
    2. the delta (events from Jan 20 on) is upserted: only the
       PARTITIONS the delta touches are read back, merged latest-wins,
       and rewritten with ``partitionOverwriteMode=dynamic`` — untouched
       partitions are never read or rewritten, which is what makes this
       a MERGE and not a full-table rebuild (no Delta/Iceberg in this
       container; dynamic overwrite is the vanilla-parquet equivalent);
    3. the whole table is re-read and summarized, so the oracle verifies
       the on-disk state equals latest-wins over ALL events.
    """
    from manual_data_ingest_spark.functions.rounding import rnd

    # DECLARED layout contract: hive-style partitioning cannot
    # represent an EMPTY-STRING partition value — Spark (like Hive)
    # writes it as __HIVE_DEFAULT_PARTITION__ and reads it back as
    # NULL, silently merging '' keys into the NULL partition AFTER the
    # per-key dedup had treated them as distinct (adversarial sweep).
    # The merge key therefore normalizes '' → NULL up front, on both
    # engines (nullif in the oracle).
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("event_type", F.nullif("event_type", F.lit(""))))
    cutoff = F.lit("2024-01-20").cast("timestamp")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "event_type", "event_id", "ts", "value"))

    out = _tmpdir("mdis_merge_")
    # 1. standing snapshot
    snap = latest(ev.filter(F.col("ts") < cutoff))
    snap.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit read-back schema: zero part files (empty input) breaks
    # inference — the empty-partition backfill case (empty-input sweep)
    snap_schema = snap.schema
    # 2. merge the delta into ONLY its partitions
    delta = latest(ev.filter(F.col("ts") >= cutoff))
    touched = [r.event_type
               for r in delta.select("event_type").distinct().collect()]
    # NULL partition key: `isin` is null-UNSAFE (SQL IN), so a delta
    # touching the NULL partition would overwrite it WITHOUT reading
    # the standing rows back — latest-wins silently drops every
    # snapshot-only key in that partition (r7 null sweep; the
    # __HIVE_DEFAULT_PARTITION__ directory is a partition like any
    # other and must be merged, not clobbered)
    touched_pred = F.col("event_type").isin(
        [t for t in touched if t is not None])
    if any(t is None for t in touched):
        touched_pred = touched_pred | F.col("event_type").isNull()
    existing = (spark.read.schema(snap_schema).parquet(out)
                .filter(touched_pred)
                .select("user_id", "event_type", "event_id", "ts", "value"))
    (latest(existing.unionByName(delta))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("event_type").parquet(out))
    # 3. verify on-disk state
    back = spark.read.schema(snap_schema).parquet(out)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n_keys"),
                 F.max("event_id").alias("max_event_id"),
                 rnd(F.sum("value")).alias("sum_value"))
            .select("event_type", "n_keys", "max_event_id", "sum_value"))


@register("scan_orc_roundtrip", """
SELECT * FROM supplier
""")
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # second columnar at-rest format: ORC write + schema-declared
    # read-back (Spark ships native vectorized ORC support; parity with
    # the parquet path, same pushdown/pruning machinery)
    s = load_table(spark, sf_dir, "supplier")
    out = _tmpdir("mdis_orc_")
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register("sink_bucketed_join", """
SELECT c_nationkey, count(*) AS n_orders,
       floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""")
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables → shuffle-free co-located join.

    Both sides are written `bucketBy(8, custkey)` (hash-bucketed files +
    catalog metadata); a join on the bucket key then needs NO exchange
    on either side — the scan itself satisfies the join's distribution
    requirement. This is THE layout decision for repeated fact-fact
    joins at 100 TB: pay one bucketed write, skip the shuffle on every
    subsequent join. The plan test asserts the only Exchange left is
    the final aggregate's. Result is oracled against the plain join.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    _reap_bucketed_tables(spark)
    # per-call unique names: never clobber a pre-existing table, safe
    # under concurrent sessions sharing a metastore; the returned plan
    # must stay LAZY over the catalog tables (the plan-audit test reads
    # it), so this call's tables are reaped on the NEXT call / at exit.
    import uuid

    tag = uuid.uuid4().hex[:12]
    d1 = _tmpdir("mdis_bucket_o_")
    d2 = _tmpdir("mdis_bucket_c_")
    t1, t2 = f"mdis_orders_b_{tag}", f"mdis_customer_b_{tag}"
    (o.select("o_orderkey", "o_custkey", "o_totalprice")
     .write.option("path", d1)
     .bucketBy(8, "o_custkey").sortBy("o_custkey")
     .saveAsTable(t1))
    (c.select("c_custkey", "c_nationkey")
     .write.option("path", d2)
     .bucketBy(8, "c_custkey").sortBy("c_custkey")
     .saveAsTable(t2))
    _BUCKETED_LIVE.append((t1, d1))
    _BUCKETED_LIVE.append((t2, d2))
    ob = spark.table(t1)
    cb = spark.table(t2)
    from manual_data_ingest_spark.functions.rounding import rnd
    return (ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_orders"),
                 rnd(F.sum("o_totalprice")).alias("sum_price")))


#: (table_name, data_dir) pairs from previous sink_bucketed_join calls,
#: reaped lazily so the previously returned lazy plan stays executable
#: until the next invocation (or process exit).
_BUCKETED_LIVE: list[tuple[str, str]] = []


def _reap_bucketed_tables(spark: SparkSession) -> None:
    import shutil

    while _BUCKETED_LIVE:
        table, path = _BUCKETED_LIVE.pop()
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass
        shutil.rmtree(path, ignore_errors=True)


def _reap_bucketed_at_exit() -> None:  # pragma: no cover — process teardown
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None and _BUCKETED_LIVE:
        _reap_bucketed_tables(active)


import atexit

atexit.register(_reap_bucketed_at_exit)


@register("source_date_series", """
SELECT r_regionkey, unnest(generate_series(DATE '1995-01-01',
                                           DATE '1995-12-01',
                                           INTERVAL 1 MONTH))::DATE AS month_start
FROM region
""")
def source_date_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    # calendar-spine generation (per-entity month series) — the
    # scaffold for gap-filling sparse time series before a left join;
    # sequence() is generated JVM-side, no driver loop, no UDF
    r = load_table(spark, sf_dir, "region")
    series = F.expr("sequence(DATE '1995-01-01', DATE '1995-12-01',"
                    " INTERVAL 1 MONTH)")
    return r.select("r_regionkey",
                    F.explode(series).alias("month_start"))


@register("sink_compaction", """
SELECT 64 AS files_before,
       ceil(count(*) / 50000.0)::BIGINT AS files_after,
       count(*) AS n_rows,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM lineitem
""")
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every long-lived
    100 TB table needs (streaming sinks and per-batch ingests fragment;
    a scan over 10⁶ tiny files is listing-bound and row-group-starved).

    Flow: a deliberately fragmented copy (64 files) is rewritten to
    ⌈rows / 50 000⌉ right-sized files via round-robin repartition, and
    the SUMMARY IS COMPUTED FROM THE COMPACTED FILES, so the oracle
    verifies rows and content survived the rewrite. The operator also
    asserts the on-disk file count equals the target. Row-based sizing
    keeps the target SQL-expressible; a production compactor sizes by
    bytes from the file listing (same plan, different scalar) and runs
    per-partition so only fragmented partitions rewrite.
    """
    import glob
    import math
    import os

    li = load_table(spark, sf_dir, "lineitem")
    frag = _tmpdir("mdis_frag_")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(glob.glob(os.path.join(frag, "part-*")))

    back = spark.read.schema(li.schema).parquet(frag)
    n_rows = back.count()  # scalar sizing decision (bytes in production)
    target = max(1, math.ceil(n_rows / 50_000))
    comp = _tmpdir("mdis_comp_")
    back.repartition(target).write.mode("overwrite").parquet(comp)
    n_comp = len(glob.glob(os.path.join(comp, "part-*")))
    assert n_comp == target, f"compaction wrote {n_comp} files, want {target}"

    from manual_data_ingest_spark.functions.rounding import rnd
    return (spark.read.schema(li.schema).parquet(comp)
            .agg(F.count("*").alias("n_rows"),
                 rnd(F.sum("l_quantity")).alias("sum_qty"))
            .select(F.lit(n_frag).cast("int").alias("files_before"),
                    F.ceil(F.col("n_rows") / 50_000.0).alias("files_after"),
                    "n_rows", "sum_qty"))


@register("scan_xml_roundtrip", """
SELECT * FROM region
""")
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # curator XML payloads: Spark 4 ships the native XML source (the
    # spark-xml donation). Write with an explicit rowTag, read back with
    # a DECLARED schema (inference banned, same contract as CSV/Excel);
    # entity escaping in free-text comments round-trips through the
    # writer. Small-dim shape here; at scale XML files split per-file
    # like JSON lines (one rowTag stream per file).
    r = load_table(spark, sf_dir, "region")
    out = _tmpdir("mdis_xml_")
    (r.write.mode("overwrite").format("xml")
     .option("rootTag", "regions").option("rowTag", "region").save(out))
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ])
    return (spark.read.schema(schema).format("xml")
            .option("rowTag", "region").load(out)
            .select("r_regionkey", "r_name"))


@register("sink_sorted_layout", """
SELECT 8 AS n_files,
       count(*)::BIGINT AS n_rows,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM lineitem
WHERE l_shipdate BETWEEN DATE '1996-03-01' AND DATE '1996-03-31'
""")
def sink_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-keyed data layout: rewrite lineitem with
    `sortWithinPartitions(l_shipdate)` and small parquet row groups,
    then answer a date-range query FROM the rewritten files with the
    filter pushed to the scan.

    Why it matters at 100 TB: parquet keeps min/max stats per row
    group; sorting the write clusters each date into few groups, so a
    one-month predicate skips almost every group (the poor man's
    Z-order — one sort key, zero extra infra). The pruning itself is
    measured from the file footers in tests/test_new_ops.py (sorted
    layout must leave most groups entirely outside the range) rather
    than hashed here, because row-group BOUNDARIES depend on writer
    byte-size flushes — layout is evidence, content is contract. The
    oracle verifies the roundtrip + filtered summary; 8 files is the
    deterministic repartition target.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = _tmpdir("mdis_sorted_") + "/lineitem"
    (li.repartition(8, "l_orderkey")
     .sortWithinPartitions("l_shipdate")
     .write.mode("overwrite")
     .option("parquet.block.size", 256 * 1024)
     .parquet(out))

    from manual_data_ingest_spark.functions.rounding import rnd
    back = spark.read.schema(li.schema).parquet(out).filter(
        F.col("l_shipdate").between("1996-03-01", "1996-03-31"))
    return (back.agg(F.count("*").alias("n_rows"),
                     rnd(F.sum("l_quantity")).alias("sum_qty"))
            .select(F.lit(8).cast("int").alias("n_files"), "n_rows", "sum_qty"))


@register("sink_bloom_layout", """
SELECT event_id, user_id, event_type
FROM events
WHERE event_id % 1009 = 7
ORDER BY event_id
""")
def sink_bloom_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered parquet layout (r11): rewrite events with a
    PARQUET BLOOM FILTER on `event_id` (writer options
    `parquet.bloom.filter.enabled#event_id` + NDV hint), then answer
    a sparse point-lookup set FROM the rewritten files.

    Why it matters at 100 TB: min/max row-group stats prune RANGE
    predicates (`sink_sorted_layout`), but a point lookup on a
    HIGH-CARDINALITY key that the file is NOT sorted by skips nothing
    — every group's [min,max] spans the probe. A bloom filter per
    row group answers "id definitely absent" in a few KB, so a
    needle-in-haystack id probe reads footers + bloom pages instead
    of data pages — the standard lakehouse lookup accelerator, zero
    extra infra. The bloom pages' presence is asserted from the
    footer metadata in tests/test_new_ops.py (layout is evidence);
    THIS oracle verifies the lookup CONTENT: the sparse id set
    `event_id % 1009 = 7` (~0.1% of rows; a pure expression — no
    window, no layout dependence) read back from the bloom-filtered
    files equals the same predicate on the source table. The modulus
    predicate pushes to the scan (PushedFilters shows it); a real
    deployment probes an IN-list of ids, which reaches the bloom
    reader the same way.
    """
    ev = load_table(spark, sf_dir, "events")
    out = _tmpdir("mdis_bloom_") + "/events"
    (ev.repartition(8)
     .write.mode("overwrite")
     .option("parquet.bloom.filter.enabled#event_id", "true")
     .option("parquet.bloom.filter.expected.ndv#event_id", "100000")
     .option("parquet.block.size", 256 * 1024)
     .parquet(out))

    back = spark.read.schema(ev.schema).parquet(out)
    return (back.filter(F.col("event_id") % 1009 == 7)
            .select("event_id", "user_id", "event_type")
            .orderBy("event_id"))


@register("scan_schema_evolution", """
SELECT CASE WHEN day(ts) <= 15 THEN '__legacy__'
            ELSE coalesce(event_type, '__legacy__') END
           AS event_type,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events
GROUP BY 1
""")
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution WITHOUT rewriting history: v1 files (written
    before `event_type` existed) and v2 files (with it) live in one
    dataset; `mergeSchema=true` reconciles the footers and the missing
    column reads as NULL — then `coalesce(event_type, '__legacy__')`
    gives the query a total column. Declared contract (oracle encodes
    it): after evolution, "column absent" (v1 file) and "value NULL"
    (v2 file) are indistinguishable by design — both are __legacy__;
    a consumer needing the distinction must carry an explicit
    schema-version column, not infer it from nullness.

    The 100 TB point: adding a column must never rewrite petabytes of
    old files — parquet's per-file self-describing schema makes old
    data readable under the new contract for free. mergeSchema costs a
    footer read per file at planning time, so a production deployment
    pins the merged schema in a catalog instead of re-inferring
    (`.schema(...)` on read — same execution, zero inference); the
    inference form is exercised here deliberately.
    """
    ev = load_table(spark, sf_dir, "events")
    base = _tmpdir("mdis_evo_")
    day = F.dayofmonth("ts")
    (ev.filter(day <= 15).select("event_id", "user_id", "value")
     .write.mode("overwrite").parquet(f"{base}/v=1"))
    (ev.filter(day > 15).select("event_id", "user_id", "value", "event_type")
     .write.mode("overwrite").parquet(f"{base}/v=2"))

    merged = (spark.read.option("mergeSchema", "true")
              .parquet(f"{base}/v=1", f"{base}/v=2"))
    return (merged
            .groupBy(F.coalesce("event_type", F.lit("__legacy__"))
                     .alias("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


@register("source_python_datasource", """
SELECT range::BIGINT AS id,
       (range % 8)::INT AS part,
       md5(range::VARCHAR) AS payload
FROM range(4000)
""")
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API — the
    extension point for sources Spark has no built-in reader for
    (internal services, bespoke formats). The reader declares 8 input
    partitions; each TASK generates its slice independently, so the
    source scales out like any file scan — no driver materialization.

    The synthetic payload is deterministic (md5 of the id), so the
    read is fully oracled — proving the custom-source path end to end:
    registration, partition planning, per-task iteration, schema
    enforcement.
    """
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)

    class _Part(InputPartition):
        def __init__(self, idx: int) -> None:
            self.idx = idx

    class _Reader(DataSourceReader):
        def partitions(self):
            return [_Part(i) for i in range(8)]

        def read(self, part):
            import hashlib

            for i in range(part.idx, 4000, 8):
                yield (i, i % 8,
                       hashlib.md5(str(i).encode()).hexdigest())

    class _MdisSynthetic(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mdis_synthetic"

        def schema(self) -> str:
            return "id bigint, part int, payload string"

        def reader(self, schema) -> DataSourceReader:
            return _Reader()

    try:
        spark.dataSource.register(_MdisSynthetic)
    except Exception:
        pass  # already registered in this session
    return spark.read.format("mdis_synthetic").load()


def _z16_sql(x: str, y: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit dims, as portable
    integer bit arithmetic (identical text works in Spark SQL and DuckDB)."""
    return " + ".join(
        f"((({x} >> {i}) & 1) * {1 << (2 * i)})"
        f" + ((({y} >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(8))


@register("sink_zorder_layout", f"""
WITH z AS (
  SELECT o_orderkey, o_totalprice,
         (o_custkey % 256)::BIGINT AS x,
         (datediff('day', DATE '1995-01-01', o_orderdate) // 10)::BIGINT AS y
  FROM orders
)
SELECT count(*) AS n_rows,
       floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS sum_price,
       min({_z16_sql('x', 'y')})::BIGINT AS min_z,
       max({_z16_sql('x', 'y')})::BIGINT AS max_z
FROM z
WHERE x BETWEEN 16 AND 31
  AND y BETWEEN 36 AND 73
""")
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional data layout.

    Single-key sorting (`sink_sorted_layout`) prunes one dimension and
    abandons the rest; interleaving the bits of TWO dims into one sort
    key bounds every file's span in BOTH dims, so custkey-band queries
    AND date-range queries each skip most files — the layout trick
    Delta/Iceberg OPTIMIZE ZORDER applies, here as 30 lines of bit
    arithmetic + repartitionByRange. The curve key is computed with
    one shared SQL expression string evaluated by BOTH engines, so the
    oracle verifies the interleave math itself (min_z/max_z of the
    2-d box), and the layout's per-file dual-dim locality is measured
    from the written parquet footers in tests. At 100 TB: widen to
    16-bit dims / 3 dims as needed; repartitionByRange samples the key
    distribution, so skew in either dim still yields balanced files.
    """
    o = load_table(spark, sf_dir, "orders")
    z = o.selectExpr(
        "o_orderkey", "o_totalprice",
        "CAST(o_custkey % 256 AS BIGINT) AS x",
        "CAST(datediff(o_orderdate, DATE '1995-01-01') DIV 10 AS BIGINT)"
        " AS y")
    z = z.selectExpr("*", f"CAST({_z16_sql('x', 'y')} AS BIGINT) AS zkey")
    out = _tmpdir("mdis_zorder_") + "/orders"
    (z.repartitionByRange(8, "zkey").sortWithinPartitions("zkey")
     .write.mode("overwrite")
     .option("parquet.block.size", 256 * 1024)
     .parquet(out))
    back = (spark.read.schema(z.schema).parquet(out)
            .filter(F.col("x").between(16, 31) & F.col("y").between(36, 73)))
    from manual_data_ingest_spark.functions.rounding import rnd
    return back.agg(
        F.count("*").alias("n_rows"),
        rnd(F.sum("o_totalprice")).alias("sum_price"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"))


@register("scan_manifest_pruned", """
SELECT (SELECT count(DISTINCT year(o_orderdate))
               + (count(*) FILTER (o_orderdate IS NULL) > 0)::INT
        FROM orders)::INTEGER AS n_files_total,
       (SELECT count(*) FROM (
            SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx
            FROM orders WHERE o_orderdate IS NOT NULL
            GROUP BY year(o_orderdate))
        WHERE mx >= TIMESTAMP '1996-06-01'
          AND mn <= TIMESTAMP '1997-03-31')::INTEGER AS n_files_selected,
       count(*) AS n_rows,
       floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS sum_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-06-01'
                      AND TIMESTAMP '1997-03-31'
""")
def scan_manifest_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based file pruning — the Iceberg/Delta planning trick
    without the table format.

    The dataset is laid out as one file group per year; a MANIFEST
    relation (path, min/max o_orderdate, rows) — KBs, built once at
    write time — is consulted at PLAN time, and only file groups whose
    [min,max] intersects the predicate are handed to the reader. Here
    a 10-month range selects 2 of 7 year-groups; the other five are
    never opened (asserted via inputFiles in tests). At 100 TB this is
    the difference between reading 100k parquet footers to plan a query
    and reading one manifest: planning cost is O(|manifest|), data cost
    is O(selected). The oracle checks the full-scan equivalence AND the
    expected selection counts, so a pruning bug that drops rows or
    opens extra groups both hash-fail.
    """
    o = load_table(spark, sf_dir, "orders")
    base = _tmpdir("mdis_manifest_")
    data = o.withColumn("y", F.year("o_orderdate"))
    (data.repartition("y").write.mode("overwrite")
     .partitionBy("y").parquet(f"{base}/orders"))
    manifest = (data.groupBy("y")
                .agg(F.min("o_orderdate").alias("min_dt"),
                     F.max("o_orderdate").alias("max_dt"),
                     F.count("*").alias("n_rows"))
                .collect())  # dim-sized (7 year-groups), not a fact collect

    lo, hi = "1996-06-01", "1997-03-31"
    import datetime as _dt
    lo_dt = _dt.datetime(1996, 6, 1)
    hi_dt = _dt.datetime(1997, 3, 31)
    selected = [m for m in manifest
                if m.max_dt is not None and m.min_dt is not None
                and m.max_dt >= lo_dt and m.min_dt <= hi_dt]
    paths = [f"{base}/orders/y={m.y}" for m in selected]
    # with the data schema given, zero selected paths (e.g. empty input
    # wrote no file groups) read as an empty relation
    back = (spark.read.schema(data.drop("y").schema).parquet(*paths)
            .filter(F.col("o_orderdate").between(lo, hi)))
    from manual_data_ingest_spark.functions.rounding import rnd
    return back.agg(
        F.count("*").alias("n_rows"),
        rnd(F.sum("o_totalprice")).alias("sum_price")).select(
        F.lit(len(manifest)).cast("int").alias("n_files_total"),
        F.lit(len(selected)).cast("int").alias("n_files_selected"),
        "n_rows", "sum_price")


@register("sink_time_travel", """
WITH v1 AS (SELECT * FROM events WHERE day(ts) <= 20),
v2_delta AS (SELECT * FROM events WHERE day(ts) > 20)
SELECT 'v1' AS version, count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users FROM v1
UNION ALL
SELECT 'v2', (SELECT count(*) FROM v1) + (SELECT count(*) FROM v2_delta),
       (SELECT count(DISTINCT user_id) FROM events)
""")
def sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning / time travel over plain parquet — the
    Iceberg capability expressed as an append-only version log.

    Each commit writes its files under a new snap dir and appends a
    version-log row (version, paths); a reader AS OF v resolves the
    log to the file list for v and reads exactly those files — old
    snapshots stay immutable and readable forever, and concurrent
    readers never see a half-written commit because the log row lands
    last. Here: v1 = days ≤ 20, v2 adds the remainder as a DELTA
    commit (v2 = v1 files + delta files — no rewrite, the Iceberg
    append shape). The oracle pins both versions' counts; immutability
    of v1-under-v2 is asserted in tests.
    """
    ev = load_table(spark, sf_dir, "events")
    base = _tmpdir("mdis_timetravel_")
    v1 = ev.filter(F.dayofmonth("ts") <= 20)
    delta = ev.filter(F.dayofmonth("ts") > 20)
    v1.write.mode("overwrite").parquet(f"{base}/snap-1")
    delta.write.mode("overwrite").parquet(f"{base}/snap-2-delta")
    log = [(1, [f"{base}/snap-1"]),
           (2, [f"{base}/snap-1", f"{base}/snap-2-delta"])]

    def read_as_of(v: int):
        paths = dict(log)[v]
        return spark.read.schema(ev.schema).parquet(*paths)

    out1 = read_as_of(1).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users")).select(
        F.lit("v1").alias("version"), "n_rows", "n_users")
    out2 = read_as_of(2).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users")).select(
        F.lit("v2").alias("version"), "n_rows", "n_users")
    return out1.unionByName(out2)


@register("source_python_stream", f"""
SELECT (v % 8)::BIGINT AS bucket,
       count(*) AS n,
       (sum(v * v))::BIGINT AS sq_checksum
FROM (SELECT unnest(generate_series(0, 999)) AS v)
GROUP BY 1
""")
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source in pure Python (Spark 4 Python Data
    Source API, `SimpleDataSourceStreamReader`): offsets are plain
    dicts, `read(start)` returns (rows, next_offset), and replay
    between offsets gives exactly-once — the plumbing a Kafka-less
    bespoke feed (REST poller, queue drain) needs, without a JVM
    connector. The deterministic 1000-row feed is aggregated per
    bucket and verified against the closed-form SQL of the same
    generator — proving rows crossed the Python source boundary
    losslessly. Batch twin: `source_python_datasource`.
    """
    from pyspark.sql.datasource import (DataSource,
                                        SimpleDataSourceStreamReader)
    from pyspark.sql.types import LongType, StructField, StructType

    class FeedReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            n = start["n"]
            if n >= 1000:
                return iter([]), {"n": n}
            rows = [(i,) for i in range(n, 1000)]
            return iter(rows), {"n": 1000}

        def readBetweenOffsets(self, start, end):
            return iter([(i,) for i in range(start["n"], end["n"])])

    class FeedSource(DataSource):
        @classmethod
        def name(cls):
            return "mdis_feed"

        def schema(self):
            return StructType([StructField("v", LongType())])

        def simpleStreamReader(self, schema):
            return FeedReader()

    spark.dataSource.register(FeedSource)
    st = spark.readStream.format("mdis_feed").load()
    from manual_data_ingest_spark.streaming.ops import run_to_batch
    out = run_to_batch(st, "append")
    return (out.groupBy((F.col("v") % 8).alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("v") * F.col("v")).alias("sq_checksum")))


@register("scan_footer_stats", """
SELECT count(*) AS total_rows,
       min(ts) AS min_ts,
       max(ts) AS max_ts
FROM events
""")
def scan_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only statistics: answer count/min/max from parquet
    FOOTERS, reading zero data pages.

    A one-row-per-file relation fans out over the cluster; each task
    opens only its files' footers (pyarrow) and emits per-row-group
    (rows, min, max) — the same stats the manifest build
    (`scan_manifest_pruned`) and row-group pruning rely on. The final
    aggregate folds them to table-level answers, oracled against the
    full-scan truth: a footer/stat-decoding bug hash-fails. At 100 TB
    this is the difference between a stats query costing one metadata
    RPC per file and a full scan; engines' "metadata-only query"
    optimizations do exactly this under the hood.
    """
    import os

    from pyspark.sql import types as T

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        files = [f"{path}/{f}" for f in sorted(os.listdir(path))
                 if f.endswith(".parquet")]
    else:
        files = [path]
    # r12: build the one-row-per-file relation from spark.range + a
    # literal array, NOT createDataFrame(local list) — first use of the
    # Python-local-data path constructs the whole Python⇄JVM serializer
    # pipeline (measured 5.0 s on a fresh session, ~0.3 s after; the
    # sweep clocked this op at 6.7 s warm for a 1 ms footer read).
    # range() is pure JVM; the path list is driver-side metadata
    # (file-count-sized) either way.
    paths = F.array(*[F.lit(f) for f in files])
    fdf = spark.range(len(files)).select(
        F.element_at(paths, (F.col("id") + 1).cast("int")).alias("path"))

    out_schema = T.StructType([
        T.StructField("n_rows", T.LongType()),
        T.StructField("min_ts_ns", T.LongType()),
        T.StructField("max_ts_ns", T.LongType()),
    ])

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows, mins, maxs = [], [], []
            for f in pdf["path"]:
                md = pq.ParquetFile(f).metadata
                idx = {md.schema.column(i).name: i
                       for i in range(len(md.schema))}["ts"]
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(idx).statistics
                    if rg.num_rows == 0 or st is None or st.min is None:
                        # empty row group / file: no stats to fold
                        # (empty-input sweep finding)
                        continue
                    rows.append(rg.num_rows)
                    mins.append(pd.Timestamp(st.min).value)  # ns
                    maxs.append(pd.Timestamp(st.max).value)
            yield pd.DataFrame({"n_rows": rows, "min_ts_ns": mins,
                                "max_ts_ns": maxs})

    stats = fdf.mapInPandas(read_footers, schema=out_schema)
    # fixture timestamps are TIMESTAMP(NANOS) read as ns integers
    return stats.agg(
        F.sum("n_rows").alias("total_rows"),
        F.expr("timestamp_micros(min(min_ts_ns) div 1000)").alias("min_ts"),
        F.expr("timestamp_micros(max(max_ts_ns) div 1000)").alias("max_ts"))


@register("scan_avro_roundtrip", """
SELECT * FROM nation
""")
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip, environment-gated like `scan_excel`: the
    spark-avro module is EXTERNAL (not on this container's classpath —
    verified: `Failed to find data source: avro`), so the real path is
    attempted first and, absent the jar, the identical schema contract
    is exercised through a parquet round-trip of the same relation.
    The oracle pins the relation either way; deploying the jar flips
    the strategy without changing the contract. Avro's role at 100 TB
    is the ROW-ORIENTED interchange lane (Kafka payloads, schema-
    registry evolution) beside parquet's columnar analytics lane.
    """
    n = load_table(spark, sf_dir, "nation")
    out = _tmpdir("mdis_avro_")
    try:
        n.write.mode("overwrite").format("avro").save(f"{out}/n")
        return spark.read.format("avro").load(f"{out}/n")
    except Exception:
        # spark-avro jar not deployed here — same contract via parquet
        n.write.mode("overwrite").parquet(f"{out}/n")
        return spark.read.schema(n.schema).parquet(f"{out}/n")


@register("scan_csv_badrecords", """
SELECT count(*) FILTER (doc_id % 10 <> 0 AND text IS NOT NULL
                        AND n_chars IS NOT NULL) AS n_parsed,
       count(*) FILTER (doc_id % 10 = 0 OR text IS NULL
                        OR n_chars IS NULL)  AS n_corrupt,
       (sum(CASE WHEN doc_id % 10 <> 0 AND text IS NOT NULL
                      AND n_chars IS NOT NULL
                 THEN n_chars ELSE 0 END))::BIGINT
           AS parsed_chars
FROM documents
""")
def scan_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input recovery at the PARSE layer: a CSV batch where
    every 10th record is broken (unbalanced quote — unparseable, not
    just invalid) read in PERMISSIVE mode with a corrupt-record
    column, so bad lines become quarantine rows instead of failing
    the job.

    The parse-layer complement to `ingest_quarantine` (semantic rules
    on parsed rows): real 100 TB feeds break at BOTH layers, and a
    pipeline that only handles one loses data or availability.
    PERMISSIVE + `columnNameOfCorruptRecord` keeps the scan streaming
    (no driver-side retry loop); FAILFAST is for contractual inputs,
    DROPMALFORMED silently loses data — the mode choice is the whole
    design decision, recorded here. The oracle pins the recovery
    accounting from the construction rule.

    Declared null contract (oracle encodes it; null fixture exercises
    it): a record with NULL text or NULL n_chars degrades to a line
    with FEWER TOKENS than the schema (concat_ws skips nulls), and
    Spark's CSV parser classifies token-count mismatch as malformed —
    so such records are CORRUPT at the parse layer, by design.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars")
    out = _tmpdir("mdis_badcsv_")
    # write the batch distributed: good rows are proper CSV, every 10th
    # row gets an unbalanced quote in the text field. The feed is a
    # SINGLE-LINE-RECORD contract (what real CSV batch feeds declare),
    # so the constructor escapes in the READER'S dialect and flattens
    # newlines to spaces — without this, a quoted text field containing
    # '"', '\\' or '\n' silently shifted records into the corrupt
    # bucket (adversarial sweep) even on the good-row rule. Engine
    # fact: Spark's CSV parser (univocity) BACKSLASH-escapes by
    # default (escape='\\'), NOT RFC-4180 "" doubling — and a trailing
    # unescaped backslash eats the closing quote. The output never
    # exposes text, so sanitization cannot change the answer — only
    # keep the parse accounting equal to the construction rule.
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", r"\\", r"\\\\"),  # \ -> \\
            '"', r'\\"'),                              # " -> \"
        r"[\n\r]", " ")
    path = f"{out}/batch.csv"
    good = d.filter(F.col("doc_id") % 10 != 0).select(
        F.concat_ws(",", F.col("doc_id"),
                    F.concat(F.lit('"'), clean, F.lit('"')),
                    F.col("n_chars")).alias("line"))
    bad = d.filter(F.col("doc_id") % 10 == 0).select(
        F.concat_ws(",", F.col("doc_id"),
                    F.concat(F.lit('"'), clean),  # unbalanced quote
                    F.col("n_chars")).alias("line"))
    good.unionByName(bad).write.mode("overwrite").text(path)

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .option("multiLine", False)
            .csv(path))
    back = back.cache()  # corrupt-column queries need the full row pass
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_parsed"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars"))
              .otherwise(0)).alias("parsed_chars"))


@register("scan_jsonl_badrecords", """
SELECT 'parsed' AS status,
       count(CASE WHEN doc_id % 10 <> 0 AND text IS NOT NULL
                       AND n_chars IS NOT NULL THEN 1 END) AS n_rows,
       sum(CASE WHEN doc_id % 10 <> 0 AND text IS NOT NULL
                     AND n_chars IS NOT NULL
                THEN n_chars ELSE 0 END)::BIGINT
           AS sum_chars
FROM documents
UNION ALL
SELECT 'corrupt',
       count(CASE WHEN doc_id % 10 = 0 AND text IS NOT NULL
                       AND n_chars IS NOT NULL THEN 1 END),
       0
FROM documents
""")
def scan_jsonl_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed JSONL recovery: a line-delimited JSON batch where
    every 10th record is truncated mid-object (unparseable), read in
    PERMISSIVE mode with a corrupt-record column — the JSON twin of
    `scan_csv_badrecords`, and the more common 100 TB case (event
    buses and API exports ship JSONL; truncated writes at rotation
    boundaries are their signature failure).

    The batch is written DISTRIBUTED (text sink of constructed lines,
    no driver loop); the corrupt lines become quarantine rows with the
    raw line preserved in `_corrupt` for replay — availability AND no
    data loss, which DROPMALFORMED/FAILFAST each sacrifice one of.
    The oracle pins the recovery accounting from the construction
    rule (every 10th doc), so the parse layer is verified against
    ground truth, not against itself.

    Declared null contract (oracle encodes it; null fixture exercises
    it): NULL text or n_chars nulls the whole constructed line
    (concat propagates NULL), the text sink emits an empty line, and
    Spark's JSON reader SKIPS blank lines — such records simply do
    not exist in the batch, neither parsed nor corrupt, by design.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars")
    out = _tmpdir("mdis_badjsonl_")
    path = f"{out}/batch.jsonl"
    # Java-regex pattern r'\\' matches ONE literal backslash (the r3
    # advisor caught the previous r'\\\\', which only matched PAIRS and
    # left a lone backslash unescaped → invalid JSON line miscounted as
    # corrupt); replacement r'\\\\' emits the two-char escape sequence.
    # Control characters must be \-escaped too (adversarial sweep): a
    # literal newline SPLITS the JSONL line into two malformed records,
    # and a literal tab inside a JSON string is invalid JSON — proper
    # escaping keeps the VALUE exact while the line stays one line.
    esc = F.regexp_replace(F.regexp_replace("text", r'\\', r'\\\\'),
                           '"', r'\\"')
    for ch, rep in (("\n", r"\\n"), ("\r", r"\\r"), ("\t", r"\\t")):
        esc = F.regexp_replace(esc, ch, rep)
    full = F.concat(F.lit('{"doc_id": '), F.col("doc_id"),
                    F.lit(', "text": "'), esc,
                    F.lit('", "n_chars": '), F.col("n_chars"), F.lit('}'))
    good = (d.filter(F.col("doc_id") % 10 != 0)
            .select(full.alias("line")))
    bad = (d.filter(F.col("doc_id") % 10 == 0)
           .select(F.substring(full, 1, 25).alias("line")))  # truncated
    good.unionByName(bad).write.mode("overwrite").text(path)

    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(path))
    # ONE conditional aggregate referencing data + _corrupt together
    # (a corrupt-only projection is disallowed by Spark: QUERY_ONLY_
    # CORRUPT_RECORD_COLUMN), fanned out via map-explode (the
    # ingest_validate trick) — also one scan instead of two.
    agg = back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.coalesce(F.sum(F.when(F.col("_corrupt").isNull(),
                                F.col("n_chars"))), F.lit(0))
        .cast("long").alias("good_chars"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_bad"))
    return agg.select(F.explode(F.create_map(
        F.lit("parsed"), F.struct(F.col("n_good").alias("n_rows"),
                                  F.col("good_chars").alias("sum_chars")),
        F.lit("corrupt"), F.struct(F.col("n_bad").alias("n_rows"),
                                   F.lit(0).cast("long")
                                   .alias("sum_chars"))))
        .alias("status", "v")).select("status", "v.n_rows", "v.sum_chars")


@register("scan_dpp_pruned", """
WITH top_year AS (
  SELECT year(o_orderdate) AS y
  FROM orders GROUP BY 1
  ORDER BY count(*) DESC, y LIMIT 1
)
SELECT month(o_orderdate)::BIGINT AS month,
       count(*)::BIGINT AS n_orders,
       floor((sum(floor(o_totalprice * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0)
             * 100.0 + 0.5) / 100.0 AS revenue
FROM orders
WHERE year(o_orderdate) = (SELECT y FROM top_year)
GROUP BY 1
""")
def scan_dpp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING demonstrated end to end — the physical
    design `sink_partitioned` writes and `scan_manifest_pruned`
    approximates by hand, executed by the engine itself: orders are
    laid out partitioned by year, the year filter arrives through a
    JOIN against a data-dependent dim-side aggregate (the busiest
    year — a literal would be folded into a static partition filter,
    observed), and at runtime Spark broadcasts the dim result into
    the scan as a DynamicPruningExpression — only that year's
    partition directories are read. At 100 TB this is THE
    mechanism that turns a fact-dim join with a selective dim filter
    into a 1/N-cost scan; plan-asserted (`dynamicpruning#` subquery in
    the scan's PartitionFilters) in tests/test_plans.py.

    The partitioned layout is written once per (session, sf_dir) and
    reused (immutable-fixture rule); revenue rides exact integer cents.
    """
    import os

    from manual_data_ingest_spark.functions.rounding import rnd

    key = ("dpp_orders", sf_dir)
    cache = getattr(spark, "_mdis_dpp_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_dpp_cache = cache
    out = cache.get(key)
    o = load_table(spark, sf_dir, "orders")
    fact_schema = o.withColumn("o_year", F.year("o_orderdate")).schema
    if out is None or not os.path.isdir(out):
        out = _tmpdir("mdis_dpp_")
        (o.withColumn("o_year", F.year("o_orderdate"))
         .write.mode("overwrite").partitionBy("o_year").parquet(out))
        cache[key] = out
    # explicit schema: zero part files (empty input) breaks inference
    po = spark.read.schema(fact_schema).parquet(out)
    # dim side: a REAL on-disk dim table (per-year stats) carrying the
    # selectivity on a NON-join column. Two drafts measurably failed:
    # a literal y = 1995 is folded by InferFiltersFromConstraints into
    # a STATIC PartitionFilter (pruning, but not DPP), and a bare
    # LIMIT-1 aggregate inserts no pruning subquery at all (DPP's
    # planner requires a likely-selective FILTER on the dim side).
    # The canonical shape — dim table + filter on another column +
    # equi-join on the partition key — is what fires.
    dim_key = ("dpp_dim", sf_dir)
    dim_out = cache.get(dim_key)
    if dim_out is None or not os.path.isdir(dim_out):
        stats = (load_table(spark, sf_dir, "orders")
                 .groupBy(F.year("o_orderdate").alias("y"))
                 .agg(F.count("*").alias("cnt")))
        dim_out = _tmpdir("mdis_dpp_dim_")
        # keep only the busiest year's row, tagged with its count, so
        # the read-back filter below is selective AND data-independent.
        # Tie-break matches the oracle (ORDER BY cnt DESC, y LIMIT 1):
        # on a count tie the smallest year wins on BOTH engines — the
        # old cnt == max(cnt) filter kept every tied year and the month
        # totals diverged (r6 advisor, medium). The limit happens at
        # dim BUILD time, on a <=7-row aggregate, not in the scanned
        # plan, so the DPP subquery shape below is unaffected.
        (stats.orderBy(F.desc("cnt"), F.asc("y")).limit(1)
         .write.mode("overwrite").parquet(dim_out))
        cache[dim_key] = dim_out
    dim = (spark.read.schema("y int, cnt bigint").parquet(dim_out)
           .filter(F.col("cnt") > 0).select("y"))
    return (po.join(dim, po.o_year == dim.y)
            .groupBy(F.month("o_orderdate").cast("long").alias("month"))
            .agg(F.count("*").alias("n_orders"),
                 rnd(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                           .cast("long")).cast("double") / 100.0, 2)
                 .alias("revenue")))


@register("scan_nested_pruned", """
SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
       floor((sum(floor(o_totalprice * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0)
             * 100.0 + 0.5) / 100.0 AS revenue
FROM orders
GROUP BY 1
""")
def scan_nested_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED SCHEMA PRUNING end to end: orders are laid out as a
    nested document (meta struct<status,priority>, money
    struct<price_cents,tax_cents>) — the shape every event-log and
    API-payload lake actually has — and the query touches ONLY
    meta.status and money.price_cents. Catalyst's nested-schema
    pruning (spark.sql.optimizer.nestedSchemaPruning, on by default)
    must push the LEAF selection into the parquet ReadSchema, so the
    scan decodes two leaf columns, not the whole structs:
    tests/test_plans.py asserts the formatted plan's ReadSchema
    carries meta.status and money.price_cents but NOT priority /
    tax_cents. At 100 TB this is the difference between reading 2
    columns and deserializing every nested payload field — the
    columnar win nested data silently loses when pruning breaks
    (e.g., behind exploded arrays or UDF boundaries).

    The nested layout is written once per (session, sf_dir) and
    cached (immutable-fixture rule, same as scan_dpp_pruned); money
    rides exact integer cents so the re-aggregated revenue is
    hash-stable. The oracle computes the same result from the FLAT
    base table — hash-equality proves the nested round trip lossless.
    """
    import os

    key = ("nested_orders", sf_dir)
    cache = getattr(spark, "_mdis_nested_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_nested_cache = cache
    out = cache.get(key)
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(F.col("o_orderstatus").alias("status"),
                 F.col("o_orderpriority").alias("priority")).alias("meta"),
        F.struct(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
                 .alias("price_cents"),
                 F.expr("floor(o_totalprice * 100.0 + 0.5) div 10")
                 .cast("long").alias("tax_cents")).alias("money"))
    if out is None or not os.path.isdir(out):
        out = _tmpdir("mdis_nested_")
        nested.write.mode("overwrite").parquet(out)
        cache[key] = out
    back = spark.read.schema(nested.schema).parquet(out)
    return (back.groupBy(F.col("meta.status").alias("status"))
            .agg(F.count("*").alias("n"),
                 (F.floor((F.sum("money.price_cents").cast("double") / 100.0)
                          * 100.0 + F.lit(0.5)) / 100.0)
                 .alias("revenue")))


@register("scan_agg_pushdown", """
SELECT min(l_quantity) AS min_qty,
       max(l_extendedprice) AS max_price,
       count(*) AS n_rows
FROM lineitem
""")
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown — MIN/MAX/COUNT answered from footer
    statistics without decoding a single data page: the v2 ParquetScan
    plans `PushedAggregation: [MIN(...), MAX(...), COUNT(*)]` and each
    task reads only row-group metadata. The manual twin is
    `scan_footer_stats` (pyarrow footer walk); this is the ENGINE doing
    it inside a plain `df.agg(...)` — tests/test_plans.py asserts the
    pushed aggregation on the executed plan.

    At 100 TB this is the difference between a metadata-only planning
    pass (~KBs per file) and a full-column scan for a table-level
    MIN/MAX/COUNT — the audit queries every ingest run fires. Engine
    facts: fires only on the DSv2 read path (`useV1SourceList` must
    exclude parquet — set on an isolated newSession), only without
    residual data filters, and min/max skip nulls exactly like the SQL
    aggregates they answer (footer stats exclude nulls; COUNT(*) uses
    row-group row counts, so null rows still count).
    """
    return _agg_pushdown_demo(spark, sf_dir)[0]


def _agg_pushdown_demo(spark: SparkSession, sf_dir: str):
    """Run the pushdown demo on an isolated v2-source session; return
    (result_df, executed_plan_str) — the join_skew_aqe pattern.

    Engine fact (empty-input sweep): the pushed-aggregate read path
    CRASHES on a parquet file with ZERO row groups (FAILED_READ_FILE —
    there is no footer statistic to answer from), so a production
    deployment gates pushdown on footer row-group presence; here the
    guard is try/fallback to the ordinary v1 aggregation, which is
    also what Spark itself does when pushdown support checks fail."""
    def _agg(df: DataFrame) -> DataFrame:
        return df.agg(F.min("l_quantity").alias("min_qty"),
                      F.max("l_extendedprice").alias("max_price"),
                      F.count(F.lit(1)).alias("n_rows"))

    s = spark.newSession()
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    res = _agg(s.read.parquet(f"{sf_dir}/lineitem.parquet"))
    try:
        out = res.localCheckpoint(eager=True)  # execute under demo confs
        plan = res._jdf.queryExecution().executedPlan().toString()
    except Exception:  # zero-row-group file: fall back to the v1 scan
        res = _agg(load_table(spark, sf_dir, "lineitem"))
        out = res.localCheckpoint(eager=True)
        plan = res._jdf.queryExecution().executedPlan().toString()
    return out, plan


@register("scan_metadata_columns", """
SELECT year(o_orderdate)::INTEGER AS o_year,
       count(*) AS n_rows,
       0::BIGINT AS min_ri,
       count(*) - 1 AS max_ri,
       1::BIGINT AS n_files
FROM orders GROUP BY 1
""")
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_metadata` HIDDEN COLUMNS — per-row file provenance served
    by the engine, no UDF: `_metadata.file_name` / `file_path` /
    `row_index` materialize only when selected (zero cost otherwise).
    The modern replacement for `input_file_name()` (used by
    `ingest_file_lineage`): unlike the SQL function it survives joins,
    works under DSv2, and adds the per-file ROW ORDINAL — the column
    every seekable-manifest / resumable-reader design needs.

    Layout under test: orders written one file per year partition
    (`repartition(year)` before `partitionBy`), so the contract is
    exact — every partition's row_index runs 0..n-1 and file count is
    1, which the oracle states from the construction rule. At 100 TB
    the same selection gives free per-file audit joins (which rows
    came from the corrupt file?) without a lineage sidecar.
    """
    o = load_table(spark, sf_dir, "orders")
    out = _tmpdir("mdis_meta_")
    w = o.withColumn("o_year", F.year("o_orderdate"))
    (w.repartition("o_year").write.mode("overwrite")
     .partitionBy("o_year").parquet(out))
    back = spark.read.schema(w.schema).parquet(out)
    return (back.select(F.col("o_year").cast("int").alias("o_year"),
                        F.col("_metadata.row_index").alias("ri"),
                        F.col("_metadata.file_name").alias("fn"))
            .groupBy("o_year")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("ri").alias("min_ri"),
                 F.max("ri").alias("max_ri"),
                 F.countDistinct("fn").alias("n_files")))


@register("sink_rebalance_write", """
SELECT l_returnflag,
       count(*) AS n,
       sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))::BIGINT
           AS cents
FROM lineitem GROUP BY l_returnflag
""")
def sink_rebalance_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE REBALANCE before a write — the engine-native answer to the
    output-file-size problem: a fixed `repartition(N)` is wrong at
    every other data volume, `coalesce` can't split, but the REBALANCE
    hint plans a round-robin exchange whose partitions AQE re-splits
    AND re-coalesces to the advisory size at RUNTIME — small-file
    storms and 10 GB mega-files both disappear without a hand-tuned N.
    tests/test_plans.py asserts REBALANCE_PARTITIONS on the executed
    plan and that the written file count landed BELOW the shuffle
    partition count (coalesce happened) yet above one (no single-file
    choke). The read-back aggregate is the oracle, so the rebalance is
    also proven value-neutral.
    """
    return _rebalance_write_demo(spark, sf_dir)[0]


def _rebalance_write_demo(spark: SparkSession, sf_dir: str):
    """Run the rebalance-write demo on an isolated session; return
    (result_df, (executed_plan_str, n_files_written))."""
    import os

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    li = (load_table(s, sf_dir, "lineitem")
          .select("l_returnflag",
                  F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
                  .cast("long").alias("cents")))
    out = _tmpdir("mdis_rebal_")
    w = li.hint("rebalance")
    w.write.mode("overwrite").parquet(out)
    plan = w._jdf.queryExecution().executedPlan().toString()
    n_files = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    back = spark.read.schema(li.schema).parquet(out)
    res = (back.groupBy("l_returnflag")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents")))
    return res, (plan, n_files)


@register("scan_csv_multiline", r"""
SELECT doc_id,
       md5(regexp_replace(text, '( \w+ )', chr(10) || '\1', 'g'))
           AS mtext_md5,
       length(regexp_replace(text, '( \w+ )', chr(10) || '\1', 'g'))::BIGINT
           AS mtext_len
FROM documents WHERE text IS NOT NULL
""")
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV records with EMBEDDED NEWLINES — the curator-sheet reality
    (free-text description cells) that breaks line-oriented parsing:
    quoted fields spanning physical lines round-trip only under
    `multiLine=true` with a matching quote/escape contract on write
    and read. Every doc gets real newlines injected (one per ~5 words)
    and the oracle pins the md5 of the EXACT reconstructed text, so a
    quote-handling or line-splitting bug anywhere in the round trip
    hash-fails.

    Engine fact, and the 100 TB design note: `multiLine=true` makes a
    CSV file UNSPLITTABLE (record boundaries are no longer physical
    lines, so input splits cannot start mid-file) — parallelism falls
    back to one task per FILE. Ship many medium files (as this sink's
    distributed write does naturally), or better, land multiline text
    in parquet; multiLine CSV is the interchange fallback, not the
    storage format.
    """
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", "text"))
    multi = d.select(
        "doc_id",
        F.regexp_replace("text", r"( \w+ )", "\n$1").alias("mtext"))
    out = _tmpdir("mdis_mlcsv_")
    # nullValue token on both sides: an EMPTY mtext is written as ""
    # under quoteAll but the reader's default nullValue="" turns it
    # back into NULL (adversarial sweep) — same lossless recipe as
    # scan_csv_roundtrip
    (multi.write.mode("overwrite").option("header", True)
     .option("quoteAll", True).option("escape", '"')
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false")
     .option("nullValue", "\\N").csv(out))
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("mtext", T.StringType())])
    back = (spark.read.schema(schema).option("header", True)
            .option("multiLine", True).option("escape", '"')
            .option("nullValue", "\\N").csv(out))
    return back.select(
        "doc_id",
        F.md5("mtext").alias("mtext_md5"),
        F.length("mtext").cast("long").alias("mtext_len"))
