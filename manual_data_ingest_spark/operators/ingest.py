"""Ingest / metadata-write operators — the reference's core (SURVEY.md §2.12).

Reconstructed semantics of `hubmapconsortium/manual-data-ingest`
(public-knowledge; empty mount — SURVEY.md §0): file manifests from
directory walks, uuid-api ID minting, ingest-validation-tools-style rule
checks, re-registration upsert, Donor→Sample→Dataset provenance
traversal. Every per-row API call in the reference becomes a set-based,
deterministic transformation here — the single biggest scalability win
of the Spark redesign (SURVEY.md §3.1).

Determinism rules: IDs derive from sha2 of natural keys (never
monotonically_increasing_id — nondeterministic across runs); surrogate
numbering is row_number over an explicit total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manual_data_ingest_spark.io import load_table
from manual_data_ingest_spark.functions.rounding import (epoch_day, rnd,
                                                         sql_rnd)
from manual_data_ingest_spark.registry import register


@register("ingest_manifest", """
SELECT doc_id, source,
       md5(text)                AS content_md5,
       n_chars,
       doc_id % 16              AS bucket,
       length(text)             AS measured_chars
FROM documents
""")
def ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # file-manifest analog of the reference's os.walk + checksum loop:
    # one distributed pass, checksum computed JVM-side (md5 hex parity
    # with DuckDB verified, SURVEY.md §2.14)
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source",
        F.md5("text").alias("content_md5"),
        "n_chars",
        F.pmod("doc_id", F.lit(16)).alias("bucket"),
        F.length("text").alias("measured_chars"))


@register("ingest_id_mint_scalable", """
SELECT doc_id,
       'MDI-' || upper(substring(sha256(
           coalesce(source, '') || '|' || doc_id::VARCHAR), 1, 12))
           AS minted_id,
       row_number() OVER (ORDER BY source NULLS FIRST, doc_id)
           AS surrogate_id
FROM documents
""")
def ingest_id_mint_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ID mint (uuid-api minting made deterministic): a
    content-derived ID (sha2 of the natural key) plus surrogate
    numbering over an explicit total order, computed without a
    single-partition window.

    Two-phase distributed ranking: phase 1 ranks within each ``source``
    partition THROUGH `with_exact_partitioned_rank` (r11 — the r10
    form ranked each source under a native per-source window, one task
    per source over the whole corpus: exactly the bounded-partition
    class the r10 sweep closed elsewhere, now caught by
    tools/window_audit.py; the primitive subdivides every source by
    doc_id quantile blocks, so a mega-source runs one task per BLOCK);
    phase 2 adds each source's cumulative row-count offset. Because
    ``source`` is the LEADING sort key, bucket-major order equals
    global order, so ``offset + local_rank == global row_number``
    exactly — the oracle's global row_number checks it. The only
    single-partition work is the offset scan over the per-source
    counts (one row per bucket, KBs at any corpus size) which is
    broadcast back; the full table never funnels through one task.
    """
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_partitioned_rank)
    # NULL-source contract, explicit on both engines: '' in the mint
    # key (concat_ws SKIPS null args, so a bare NULL source would
    # collide with a doc_id-only key shape), NULLS FIRST bucket order
    # (Spark's ASC default; DuckDB defaults NULLS LAST), and the
    # offsets join back is NULL-SAFE
    # (a plain equi-join on source silently DROPPED every null-source
    # document — the ingest_clean_nulls bug class, caught by the r7
    # null sweep; <=> keeps the broadcast-hash shape).
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    w_off = (Window.orderBy(F.asc_nulls_first("source"))
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        F.col("source").alias("off_source"),
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off"))
    ranked = with_exact_partitioned_rank(d, ["source"], "doc_id", [],
                                         rank_col="_lr")
    return (ranked.join(F.broadcast(offsets),
                        ranked["source"].eqNullSafe(F.col("off_source")))
            .select(
                "doc_id",
                F.concat(
                    F.lit("MDI-"),
                    F.upper(F.substring(
                        F.sha2(F.concat_ws("|",
                                           F.coalesce("source", F.lit("")),
                                           "doc_id"), 256),
                        1, 12))).alias("minted_id"),
                (F.col("off") + F.col("_lr"))
                .cast("long").alias("surrogate_id")))


@register("ingest_post_entities", """
WITH k AS (
    SELECT doc_id, source,
           sha256(coalesce(source, '') || '|' || doc_id::VARCHAR)
               AS idem_key
    FROM documents
)
SELECT doc_id, source, idem_key,
       CASE WHEN substring(idem_key, 1, 1) IN ('0','1','2','3')
            THEN 2 ELSE 1 END AS attempts,
       'created' AS status
FROM k
""")
def ingest_post_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-sink pattern: the reference's per-entity POST to
    uuid-api/entity-api, distributed.

    Shape: ``mapInPandas`` where each task opens ONE connection (here an
    in-process deterministic mock — no network in this container), posts
    every row with a content-derived IDEMPOTENCY key, retries transient
    failures, and emits a receipt row. That is the scalable form of the
    reference's sequential registration loop: connections are
    per-partition (not per-row), retries are per-row, and re-running the
    job re-sends the same idempotency keys so the service dedupes —
    exactly how a 1000-executor ingest writes to a real API.

    The mock is a pure function of the key (first hex nibble < 4 →
    one transient failure, then success), so the receipt table is
    deterministic and the oracle reproduces it in SQL.
    """
    import hashlib

    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("idem_key", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ])

    def post_partition(batches):
        import pandas as pd

        svc = _MockEntityApi()  # one connection per partition/task
        for pdf in batches:
            # NULL source keys as '' on both engines (Python would
            # stringify None as the literal "None"; the oracle's ||
            # propagated NULL) — same contract as ingest_id_mint_scalable.
            keys = [
                hashlib.sha256(
                    f"{'' if pd.isna(s) else s}|{i}".encode()).hexdigest()
                for s, i in zip(pdf["source"], pdf["doc_id"])
            ]
            receipts = [svc.post_with_retry(k) for k in keys]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "source": pdf["source"].to_numpy(),
                "idem_key": keys,
                "attempts": [r[0] for r in receipts],
                "status": [r[1] for r in receipts],
            })

    return d.mapInPandas(post_partition, schema=out_schema)


class _MockEntityApi:
    """Deterministic stand-in for the entity-api endpoint: transient
    failure iff the idempotency key's first hex nibble < 4 (a pure
    function of the key, so retries and receipts are reproducible).
    Swap for an HTTP session in production; the operator contract
    (connection per partition, idempotency key per row, bounded retry)
    is what's under test."""

    MAX_RETRIES = 3

    def post_with_retry(self, idem_key: str) -> tuple[int, str]:
        attempts = 0
        while attempts < self.MAX_RETRIES:
            attempts += 1
            if self._post_once(idem_key, attempts):
                return attempts, "created"
        return attempts, "failed"  # pragma: no cover — mock always succeeds by 2

    @staticmethod
    def _post_once(idem_key: str, attempt: int) -> bool:
        transient = int(idem_key[0], 16) < 4
        return not (transient and attempt == 1)


@register("ingest_validate", """
SELECT 'orders.o_custkey.null' AS rule,
       count(*) FILTER (WHERE o_custkey IS NULL) AS violations FROM orders
UNION ALL
SELECT 'lineitem.orphan_orderkey',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders.orphan_custkey',
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL   -- null FK = the .null rule, not an orphan
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'events.event_type.domain',
       (SELECT count(*) FROM events
        WHERE event_type NOT IN ('click','purchase','error','signup','view'))
UNION ALL
SELECT 'documents.n_chars.mismatch',
       (SELECT count(*) FROM documents WHERE length(text) <> n_chars)
""")
def ingest_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ingest-validation-tools-style rule table: null checks, FK
    orphans, controlled-vocabulary domains, self-consistency — one
    row per rule with its violation count.

    Plan shape (A/B-measured at the bench 4× replica, cold per-call):
    orders is scanned ONCE for both of its rules — the null count and
    the customer-orphan count ride one broadcast left join, and the
    one-row aggregate fans into two rule rows via a map-explode
    (duplicating the subtree across two union branches re-executed it:
    measured). 5-branch union → 4 branches, 6 scans → 5: 1.02 s →
    0.89 s cold; the remaining cost is join-build + stage scheduling,
    the documented local floor (each branch alone is 0.15-0.5 s).

    The FK key-set joins carry NO broadcast hint: the parent key sets
    here are customer keys and orders keys — fact-table-sized sets
    that are billions of longs at 100 TB, where a forced broadcast
    hint (which bypasses AQE's size check) is a guaranteed OOM. AQE
    broadcasts them when they fit (it does at every bench SF) and
    falls back to a shuffled join when they don't; additionally
    spark.sql.optimizer.runtime.bloomFilter pre-filters the fact side
    of the anti-joins at scale. tests/test_plans.py::
    test_no_forced_fact_table_broadcast_anywhere pins this registry-wide.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    ck = (customer.select(F.col("c_custkey").alias("o_custkey"))
          .withColumn("has_c", F.lit(1)))
    o2 = (orders.select("o_custkey")
          .join(ck, "o_custkey", "left")
          .agg(F.count(F.when(F.col("o_custkey").isNull(), 1))
               .cast("long").alias("n_null"),
               F.count(F.when(F.col("o_custkey").isNotNull()
                              & F.col("has_c").isNull(), 1))
               .cast("long").alias("n_orph")))
    r12 = o2.select(F.explode(F.create_map(
        F.lit("orders.o_custkey.null"), F.col("n_null"),
        F.lit("orders.orphan_custkey"), F.col("n_orph")))
        .alias("rule", "violations"))
    ok = orders.select("o_orderkey")
    li = (lineitem.select("l_orderkey")
          .join(ok, lineitem.l_orderkey == ok.o_orderkey, "left_anti")
          .agg(F.count("*").cast("long").alias("violations"))
          .select(F.lit("lineitem.orphan_orderkey").alias("rule"),
                  "violations"))
    dom = (events.filter(~F.col("event_type").isin(
        "click", "purchase", "error", "signup", "view"))
        .agg(F.count("*").cast("long").alias("violations"))
        .select(F.lit("events.event_type.domain").alias("rule"),
                "violations"))
    cons = (documents.filter(F.length("text") != F.col("n_chars"))
            .agg(F.count("*").cast("long").alias("violations"))
            .select(F.lit("documents.n_chars.mismatch").alias("rule"),
                    "violations"))
    return r12.unionByName(li).unionByName(dom).unionByName(cons)


@register("ingest_upsert_latest", """
SELECT user_id, event_type, event_id, ts::TIMESTAMP AS ts, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
""")
def ingest_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # re-registration overwrite semantics: latest record per natural key
    # wins. This is the batch shape of a Delta/Iceberg MERGE at scale —
    # one shuffle on the natural key, no driver involvement.
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id", "ts", "value"))


@register("ingest_scd2", """
WITH e AS (SELECT user_id, event_type, event_id, ts::TIMESTAMP AS ts, value
           FROM events)
SELECT user_id, event_type, event_id,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current,
       value
FROM e
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
""")
def ingest_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD-type-2 history build: each re-registration of a natural key
    # becomes a validity interval [valid_from, valid_to), the open
    # interval marking the current record. One shuffle on the natural
    # key + an in-partition sort — the batch shape of a Delta/Iceberg
    # MERGE-with-history at 100 TB (ingest_upsert_latest is the SCD1
    # companion).
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id", "event_type", "event_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "value")


_SALT_N = 8


@register("join_skew_salted", f"""
SELECT c_nationkey, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting; result == the plain join
    (which is the oracle).

    Pattern: the skewed (fact) side adds salt = hash(row) % N, the dim
    side is replicated N× with each salt value, and the join key becomes
    (key, salt) — a hot key's rows now spread over N reducers instead of
    one. AQE's skew-join split makes this manual pattern unnecessary for
    SORT-MERGE joins it can observe, but salting remains the tool for
    skewed AGGREGATIONS and for engines/paths AQE can't re-plan; kept
    here as the canonical demonstration, verified equal to the unsalted
    join. Salt derives from the ROW (xxhash64 of the full key), never
    rand() — deterministic retries.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    salted_o = o.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT_N)).cast("int"))
    salted_c = (c.withColumn(
        "salts", F.sequence(F.lit(0), F.lit(_SALT_N - 1)))
        .select("c_custkey", "c_nationkey",
                F.explode("salts").alias("salt")))
    return (salted_o.join(salted_c,
                          (F.col("o_custkey") == F.col("c_custkey"))
                          & (salted_o.salt == salted_c.salt))
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_orders"),
                 F.countDistinct("o_custkey").alias("n_custs")))


@register("provenance_chain", f"""
SELECT r_name,
       {sql_rnd('sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0'
                ' + 0.5) AS BIGINT))::DOUBLE / 100.0', 2)} AS revenue,
       count(*) AS n_lineitems
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey   = c_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
GROUP BY r_name
""")
def provenance_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Donor→Sample→Dataset analog: 5-way provenance traversal with a
    # rollup at the root. Dims (region, nation) broadcast; the fact-
    # fact joins shuffle on their keys and AQE handles skew. r10: the
    # leaf fact PRE-AGGREGATES per order below the join (l_orderkey is
    # the join key, so the rollup is join-transparent): the biggest
    # shuffle carries order-count rows instead of lineitem-count rows,
    # the orders join reuses the same orderkey distribution, and one
    # whole AQE stage round disappears (A/B: BASELINE.md r10). The
    # two-level re-aggregation makes float association VISIBLE (the
    # numeric sweep caught the first cut at 1e13 magnitudes), so
    # revenue moves as EXACT integer cents per lineitem term (PARITY
    # #21; decimal sums — no overflow at any scale) with ONE double
    # division at the root, identically on both engines.
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # long cents through the HOT per-order aggregate (a single order's
    # cents cannot overflow int64 — ~7 items/order leaves 1000x
    # headroom over the numeric sweep's 1e15-cent terms); the root
    # re-aggregate widens to decimal where rows are order-count-sized
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100.0 + F.lit(0.5)).cast("long")
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.sum(cents).alias("_rc"),
                      F.count("*").alias("_n")))
    return (per_order.join(o, per_order.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(rnd(F.sum(F.col("_rc").cast("decimal(19,0)"))
                     .cast("double") / 100.0, 2).alias("revenue"),
                 F.sum("_n").alias("n_lineitems")))


@register("ingest_clean_nulls", f"""
WITH c AS (
    SELECT c_custkey, c_nationkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
    FROM customer
)
SELECT c_nationkey,
       count(*) AS n_total,
       count(bal) AS n_kept,
       {sql_rnd('sum(coalesce(bal, 0.0))')} AS sum_filled
FROM c GROUP BY c_nationkey
""")
def ingest_clean_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # curator-sheet null handling: sentinel/invalid values (negative
    # balances) become NULL, then both policies side by side — dropna
    # (count of survivors, = count(bal)) and fillna-0 (sum of
    # coalesce) — per cohort, in ONE conditional-aggregation pass.
    # The r1-r6 three-aggregate + inner-join formulation had a NULL
    # JOIN KEY bug found by the r6 null-injected ORACLE sweep: an
    # equi-join never matches a NULL c_nationkey, so the null-cohort
    # row (and any cohort whose survivors count is zero) silently
    # vanished from the Spark side while the single-pass oracle kept
    # it. The single pass is also the better plan: one shuffle, no
    # joins (was three aggregates + two joins).
    c = load_table(spark, sf_dir, "customer")
    cleaned = c.select(
        "c_custkey", "c_nationkey",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal")).alias("bal"))
    return (cleaned.groupBy("c_nationkey")
            .agg(F.count("*").alias("n_total"),
                 F.count("bal").alias("n_kept"),
                 rnd(F.sum(F.coalesce(F.col("bal"), F.lit(0.0))))
                 .alias("sum_filled")))


@register("ingest_union_drifted", """
SELECT doc_id, source, text, NULL AS lang, NULL::BIGINT AS n_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, NULL, NULL, lang, n_chars
FROM documents WHERE doc_id % 2 = 1
""")
def ingest_union_drifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema-drift union: two sheet batches exporting DIFFERENT column
    # subsets merge by NAME with missing columns null-filled
    # (unionByName(allowMissingColumns=True)) — positional UNION would
    # silently misalign columns, the classic multi-batch ingest bug.
    d = load_table(spark, sf_dir, "documents")
    batch_a = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "text")
    batch_b = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    return batch_a.unionByName(batch_b, allowMissingColumns=True)


@register("ingest_file_lineage", """
SELECT 'documents.parquet' AS source_file, count(*) AS n_rows,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
""")
def ingest_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row-level file lineage via input_file_name(): every row knows the
    # physical file it came from — the provenance primitive behind
    # "which upload batch produced this record" questions, free at scan
    # time (no join against a manifest). Grouped by file basename so the
    # oracle is path-independent.
    d = load_table(spark, sf_dir, "documents")
    fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    return (d.select(fname.alias("source_file"), "doc_id")
            .groupBy("source_file")
            .agg(F.count("*").alias("n_rows"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


@register("ingest_quarantine", """
WITH flagged AS (
    SELECT l_quantity,
           concat_ws(',',
               CASE WHEN l_discount > 0.08 THEN 'discount_above_policy' END,
               CASE WHEN l_quantity >= 49 THEN 'quantity_outlier' END)
               AS reason
    FROM lineitem
)
SELECT CASE WHEN reason = '' THEN 'OK' ELSE reason END AS reason,
       count(*) AS n_rows,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM flagged
GROUP BY 1
""")
def ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue split: ONE pass evaluates every policy rule
    per row, quarantines violators (with the joined reason string) to
    their own sink, and ships clean rows onward — then summarizes from
    the FILES, so the oracle verifies the on-disk split is exhaustive
    and exclusive.

    The 100 TB points: (a) rules are evaluated once in the same
    codegen'd projection — N rules never mean N scans (contrast
    `ingest_validate`, the COUNTING twin, where each rule is an
    independent aggregate); (b) the split is ONE parquet write
    partitioned by `quarantined` (`quarantined=true/` is the
    quarantine sink, `quarantined=false/` the clean one), so the input
    is scanned once with no cached copy of the fact table (the writer
    only sorts each task's rows by `quarantined`: a local sort, no
    shuffle), and the read-back passes the written schema (no
    footer-inference job);
    (c) quarantine keeps full rows + machine-readable reasons so
    replay after a rule fix is a plain re-ingest of the quarantine
    directory. Clean files carry the same columns, with an empty
    `reason`. Reasons are a comma-joined string, not an array — the
    driver-hashability contract (PARITY.md #19).

    Each side is selected by a partition filter, never by path: an
    all-clean (or empty) batch writes no `quarantined=true` directory,
    and a by-path read of it would fail.
    """
    from manual_data_ingest_spark.io import fan_out

    # fan_out (r12): the fixture's single-row-group lineitem scans as
    # ONE task, so the whole rule-eval + sink write ran single-threaded
    # (sweep: 3.2 s warm). Round-robin to the session parallelism
    # before the write — at 100 TB the input arrives pre-split and the
    # guard no-ops (io.fan_out docstring).
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    reason = F.concat_ws(
        ",",
        F.when(F.col("l_discount") > 0.08, "discount_above_policy"),
        F.when(F.col("l_quantity") >= 49, "quantity_outlier"))
    flagged = li.withColumns({"reason": reason,
                              "quarantined": reason != ""})

    from manual_data_ingest_spark.sources.scans import _tmpdir
    split = _tmpdir("mdis_dlq_") + "/split"
    flagged.write.mode("overwrite").partitionBy("quarantined").parquet(split)

    from manual_data_ingest_spark.functions.rounding import rnd
    back = spark.read.schema(flagged.schema).parquet(split)
    q = back.filter(F.col("quarantined")).select("l_quantity", "reason")
    c = (back.filter(~F.col("quarantined"))
         .select("l_quantity", F.lit("OK").alias("reason")))
    return (q.unionByName(c)
            .groupBy("reason")
            .agg(F.count("*").alias("n_rows"),
                 rnd(F.sum("l_quantity")).alias("sum_qty")))


@register("ingest_incremental_agg", """
SELECT user_id, event_type,
       count(*)::BIGINT AS n_events,
       floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
FROM events
GROUP BY user_id, event_type
""")
def ingest_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-key
    aggregate (built from history, days 1-20) is REFRESHED by merging
    only the new delta (days 21+) — history is never rescanned; the
    refresh reads the small agg state from disk plus one day-slice.

    Merge law: count and sum are commutative monoids, so
    state ⊕ delta = groupBy(sum) over the union of partial states —
    the same partial/final split Spark runs inside one job, made
    durable across jobs. At 100 TB this turns a daily "distinct users,
    revenue to date" from a full-history scan into O(state + day).
    Rounding happens only on the FINAL merged sum (rounded partials
    would not re-aggregate). Oracle = full recompute over all events,
    proving refresh(state, delta) == recompute(history ∪ delta).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    agg = lambda df: (df.groupBy("user_id", "event_type")
                      .agg(F.count("*").alias("n_events"),
                           F.sum("value").alias("sum_value")))
    from manual_data_ingest_spark.sources.scans import _tmpdir
    state_dir = _tmpdir("mdis_aggstate_") + "/state"
    history = agg(ev.filter(day <= 20))
    history.write.mode("overwrite").parquet(state_dir)

    state = spark.read.schema(history.schema).parquet(state_dir)
    delta = agg(ev.filter(day > 20))
    return (state.unionByName(delta)
            .groupBy("user_id", "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 rnd(F.sum("sum_value")).alias("sum_value")))


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"]


@register("ingest_profile", "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, count(*) - count({c}) AS n_null,"
    f" count(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS))
def ingest_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of an incoming table — null count + exact
    distinct cardinality per column, the first report an ingest
    pipeline produces (drives schema checks, key detection, and the
    partition-column choice).

    ONE pass over the data: all per-column aggregates run in a single
    hash aggregate (Catalyst expands multi-DISTINCT into one Expand +
    aggregate, not N scans — the oracle's UNION-of-scans form is the
    anti-pattern at scale) and `stack` reshapes wide→long. At 100 TB
    exact distincts would swap to `approx_count_distinct` partials;
    same single-scan shape.
    """
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [(F.count("*") - F.count(c)).alias(f"{c}__null"),
                 F.countDistinct(c).alias(f"{c}__distinct")]
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}__null`, `{c}__distinct`"
                      for c in _PROFILE_COLS)
    return wide.select(F.expr(
        f"stack({len(_PROFILE_COLS)}, {stack})"
        " AS (col_name, n_null, n_distinct)"))


@register("ingest_manifest_diff", """
WITH old AS (
    SELECT doc_id, md5(text) AS content_md5 FROM documents
    WHERE doc_id % 10 <> 0
),
new AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN md5(text || '!')
                ELSE md5(text) END AS content_md5
    FROM documents
    WHERE doc_id % 10 <> 1
)
SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.content_md5 <> n.content_md5 THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*)::BIGINT AS n_files,
       min(coalesce(o.doc_id, n.doc_id))::BIGINT AS min_id,
       max(coalesce(o.doc_id, n.doc_id))::BIGINT AS max_id
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
GROUP BY 1
""")
def ingest_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest diff — the re-upload audit: compare the previous
    snapshot's checksum manifest against the incoming one and classify
    every file as added / removed / changed / unchanged. (Fixture
    derives two deterministic manifest views: ids ≡0 mod 10 appear
    only in NEW, ≡1 only in OLD, ≡0 mod 7 arrive content-mutated.)

    This is the gate a curator pipeline runs before committing an
    upload: `changed` triggers re-processing, `removed` triggers
    tombstones, and `unchanged` (the overwhelming majority at 100 TB)
    is SKIPPED — the diff is one full-outer hash join on the file key,
    shuffling only (id, md5) pairs, never content. Checksums come from
    the manifests; content is read zero times.
    """
    # presence rides EXPLICIT flags, not checksum nullability: a file
    # can be present with a NULL checksum (unreadable content, null
    # text), and inferring "added"/"removed" from old_md5 IS NULL
    # misclassified exactly those rows (r7 null sweep; the oracle
    # always keyed presence on the join key). The changed-comparison's
    # NULL semantics (NULL <> anything → not changed) match the oracle.
    d = load_table(spark, sf_dir, "documents")
    old = (d.filter(F.col("doc_id") % 10 != 0)
           .select("doc_id", F.md5("text").alias("old_md5"),
                   F.lit(True).alias("in_old")))
    new = (d.filter(F.col("doc_id") % 10 != 1)
           .select("doc_id",
                   F.when(F.col("doc_id") % 7 == 0,
                          F.md5(F.concat(F.col("text"), F.lit("!"))))
                   .otherwise(F.md5("text")).alias("new_md5"),
                   F.lit(True).alias("in_new")))
    j = old.join(new, "doc_id", "full_outer")
    status = (F.when(F.col("in_old").isNull(), "added")
              .when(F.col("in_new").isNull(), "removed")
              .when(F.col("old_md5") != F.col("new_md5"), "changed")
              .otherwise("unchanged"))
    return (j.select("doc_id", status.alias("status"))
            .groupBy("status")
            .agg(F.count("*").alias("n_files"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


@register("ingest_cdc_apply", """
WITH ops AS (
  SELECT user_id, ts, event_id, value,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error'  THEN 'D'
                         ELSE 'U' END AS op
  FROM events
), last AS (
  SELECT user_id, op AS last_op,
         floor(value * 1000000.0 + 0.5) / 1000000.0 AS last_value
  FROM ops
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
), counts AS (
  SELECT user_id,
         count(*) FILTER (op = 'I')::BIGINT AS n_inserts,
         count(*) FILTER (op = 'U')::BIGINT AS n_updates,
         count(*) FILTER (op = 'D')::BIGINT AS n_deletes
  FROM ops GROUP BY user_id
)
SELECT l.user_id, l.last_op, l.last_value,
       c.n_inserts, c.n_updates, c.n_deletes,
       CASE WHEN l.last_op = 'D' THEN 0 ELSE 1 END AS is_live
FROM last l JOIN counts c USING (user_id)
""")
def ingest_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC event log (insert/update/delete) to derive final state.

    The merge-into pattern every transactional ingest runs: an ordered
    op log per key collapses to the LAST op, and a trailing delete
    tombstones the key (`is_live = 0`). One shuffle on the key for the
    window + one partial-aggregated count pass, combined by a key join
    that AQE turns into a broadcast at dim scale. At 100 TB the op log
    is partitioned by ingest date, so the window reads only the
    key-partitioned delta, and the result merges into the snapshot via
    the dynamic-partition-overwrite sink (`sink_merge_upsert`).
    """
    ev = load_table(spark, sf_dir, "events")
    op = (F.when(F.col("event_type") == "signup", "I")
          .when(F.col("event_type") == "error", "D")
          .otherwise("U"))
    ops = ev.select("user_id", "ts", "event_id", "value", op.alias("op"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last = (ops.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("op").alias("last_op"),
                    rnd(F.col("value"), 6).alias("last_value")))
    counts = ops.groupBy("user_id").agg(
        F.count(F.when(F.col("op") == "I", 1)).alias("n_inserts"),
        F.count(F.when(F.col("op") == "U", 1)).alias("n_updates"),
        F.count(F.when(F.col("op") == "D", 1)).alias("n_deletes"))
    return (last.join(counts, "user_id")
            .withColumn("is_live",
                        F.when(F.col("last_op") == "D", 0).otherwise(1)))


@register("ingest_dq_suite", f"""
WITH m AS (
  SELECT count(*)::DOUBLE AS n,
         count(o_custkey)::DOUBLE AS n_cust,
         count(DISTINCT o_orderkey)::DOUBLE AS n_keys,
         min(o_totalprice) AS min_price,
         max(o_totalprice) AS max_price,
         count(DISTINCT o_orderstatus)::DOUBLE AS n_status
  FROM orders
)
SELECT 'completeness_custkey' AS metric,
       {sql_rnd('n_cust / n', 6)} AS value,
       CASE WHEN n_cust / n >= 0.999 THEN 1 ELSE 0 END AS ok FROM m
UNION ALL
SELECT 'uniqueness_orderkey', {sql_rnd('n_keys / n', 6)},
       CASE WHEN n_keys / n >= 0.999 THEN 1 ELSE 0 END FROM m
UNION ALL
SELECT 'min_totalprice_nonneg', {sql_rnd('min_price', 6)},
       CASE WHEN min_price >= 0.0 THEN 1 ELSE 0 END FROM m
UNION ALL
SELECT 'max_totalprice_bounded', {sql_rnd('max_price', 6)},
       CASE WHEN max_price <= 1000000.0 THEN 1 ELSE 0 END FROM m
UNION ALL
SELECT 'domain_orderstatus', n_status,
       CASE WHEN n_status <= 3.0 THEN 1 ELSE 0 END FROM m
""")
def ingest_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite — many constraints,
    ONE scan.

    Completeness, key uniqueness, value bounds and domain cardinality
    are all computed in a single aggregation pass and then graded
    against their declared expectations in long form (metric, value,
    ok). The 100 TB point is the fusion: a naive expectation runner
    issues one scan per rule (the measured-and-rejected shape from
    `ingest_validate`'s five-scan experiment applies in reverse here —
    these rules share one aggregate, so fusing IS the win); partial
    aggregation keeps the shuffle one row per task. Complements
    `ingest_validate` (row-level violations) with table-level metrics.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count("*").cast("double").alias("n"),
        F.count("o_custkey").cast("double").alias("n_cust"),
        F.countDistinct("o_orderkey").cast("double").alias("n_keys"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_orderstatus").cast("double").alias("n_status"))
    # ratio guarded for the empty-table case (ANSI division errors on
    # 0 denominators; NULL ratio -> rule graded failed, not a crash)
    _ratio = lambda num: F.when(F.col("n") > 0, num / F.col("n"))
    rows = [
        ("completeness_custkey", rnd(_ratio(F.col("n_cust")), 6),
         _ratio(F.col("n_cust")) >= 0.999),
        ("uniqueness_orderkey", rnd(_ratio(F.col("n_keys")), 6),
         _ratio(F.col("n_keys")) >= 0.999),
        ("min_totalprice_nonneg", rnd(F.col("min_price"), 6),
         F.col("min_price") >= 0.0),
        ("max_totalprice_bounded", rnd(F.col("max_price"), 6),
         F.col("max_price") <= 1000000.0),
        ("domain_orderstatus", F.col("n_status"),
         F.col("n_status") <= 3.0),
    ]
    # grade on the ONE aggregate row, then unpivot with stack() — a
    # UNION of per-metric selects would re-plan the aggregate (and its
    # scan) once per rule, which is exactly the shape this op exists
    # to avoid (plan-asserted single scan in tests/test_plans.py)
    wide = m.select(*[c for i, (_, val, cond) in enumerate(rows) for c in (
        val.alias(f"v{i}"),
        F.when(cond, 1).otherwise(0).alias(f"o{i}"))])
    stack_args = ", ".join(
        f"'{name}', v{i}, o{i}" for i, (name, _, _) in enumerate(rows))
    return wide.selectExpr(
        f"stack({len(rows)}, {stack_args}) AS (metric, value, ok)")


@register("ingest_backfill_plan", """
WITH spine AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                INTERVAL 1 DAY))::DATE AS day
), actual AS (
  SELECT (date_trunc('day', ts))::DATE AS day, count(*) AS actual_cnt
  FROM events GROUP BY 1
), state AS (
  SELECT day,
         CASE WHEN day(day) = 12 THEN actual_cnt - 1
              ELSE actual_cnt END AS state_cnt
  FROM actual WHERE day(day) <= 25
)
SELECT s.day,
       st.state_cnt,
       a.actual_cnt,
       CASE WHEN a.actual_cnt IS NULL AND st.state_cnt IS NULL THEN 'empty'
            WHEN st.state_cnt IS NULL THEN 'backfill'
            WHEN st.state_cnt <> a.actual_cnt THEN 'reprocess'
            ELSE 'ok' END AS action
FROM spine s
LEFT JOIN actual a ON s.day = a.day
LEFT JOIN state st ON s.day = st.day
""")
def ingest_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill/catchup planning computed IN the engine: a calendar
    spine outer-joined against the bookkeeping state (what was
    processed, with counts) and the actual data (what exists) labels
    every partition `ok` / `backfill` (never processed) / `reprocess`
    (processed but counts drifted — here day 12 is simulated stale) /
    `empty` (no data, nothing expected).

    This is the scheduler's catchup decision as a set-based query: at
    100 TB the state relation is one row per (table, partition) — KBs —
    and the actual counts come from partition-level metadata (manifest
    counts, `ingest_manifest_diff`'s shape), so planning a month's
    backfill reads zero data files. The spine LEFT JOINs broadcast;
    nothing shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    spine = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-31',"
        " INTERVAL 1 DAY)) AS day")
    actual = (ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
              .agg(F.count("*").alias("actual_cnt")))
    state = (actual.filter(F.dayofmonth("day") <= 25)
             .select("day",
                     F.when(F.dayofmonth("day") == 12,
                            F.col("actual_cnt") - 1)
                     .otherwise(F.col("actual_cnt")).alias("state_cnt")))
    action = (F.when(F.col("actual_cnt").isNull()
                     & F.col("state_cnt").isNull(), "empty")
              .when(F.col("state_cnt").isNull(), "backfill")
              .when(F.col("state_cnt") != F.col("actual_cnt"), "reprocess")
              .otherwise("ok"))
    return (spine.join(F.broadcast(actual), "day", "left")
            .join(F.broadcast(state), "day", "left")
            .select("day", "state_cnt", "actual_cnt", action.alias("action")))


@register("provenance_impact_cascade", """
WITH changed AS (
  SELECT s_suppkey FROM supplier WHERE s_suppkey % 20 = 0
), li AS (
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE EXISTS (SELECT 1 FROM changed WHERE s_suppkey = l_suppkey)
), ord AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE EXISTS (SELECT 1 FROM li WHERE l_orderkey = o_orderkey)
), cust AS (
  SELECT DISTINCT c_nationkey FROM customer
  WHERE EXISTS (SELECT 1 FROM ord WHERE o_custkey = c_custkey)
)
SELECT 'suppliers' AS level, (SELECT count(*) FROM changed) AS n_affected
UNION ALL SELECT 'orders',    (SELECT count(*) FROM li)
UNION ALL SELECT 'customers', (SELECT count(*) FROM ord)
UNION ALL SELECT 'nations',   (SELECT count(*) FROM cust)
""")
def provenance_impact_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream impact analysis — the INVALIDATION cascade: given a
    set of changed upstream entities (5 % of suppliers), which derived
    artifacts must re-run, level by level (orders touched → customers
    affected → nations reported).

    The reverse of `provenance_chain`'s rollup: each hop is a SEMI
    join against the previous frontier, so the fact tables are probed,
    never materialized into the result — the frontier stays a key set
    and shrinks as it coarsens (20 k lineitem keys → 15 k orders →
    dim-sized). At 100 TB this is how a curator pipeline answers
    'supplier X corrected its metadata — what do we reprocess?'
    without a graph database: each frontier broadcasts once it is
    dim-sized, and the cascade is as deep as the schema, not iterative.
    """
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    changed = s.filter(F.col("s_suppkey") % 20 == 0).select("s_suppkey")
    lvl1 = (li.join(changed, li.l_suppkey == changed.s_suppkey, "left_semi")
            .select("l_orderkey").distinct())
    lvl2 = (o.join(lvl1, o.o_orderkey == lvl1.l_orderkey, "left_semi")
            .select("o_custkey").distinct())
    lvl3 = (c.join(lvl2, c.c_custkey == lvl2.o_custkey, "left_semi")
            .select("c_nationkey").distinct())
    rows = [("suppliers", changed), ("orders", lvl1),
            ("customers", lvl2), ("nations", lvl3)]
    out = None
    for name, df in rows:
        row = df.agg(F.count("*").alias("n_affected")) \
                .select(F.lit(name).alias("level"), "n_affected")
        out = row if out is None else out.unionByName(row)
    return out


@register("ingest_k_anonymity", f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS grp_n
  FROM customer GROUP BY 1, 2
)
SELECT count(*) AS n_groups,
       count(*) FILTER (grp_n < 5) AS n_violating,
       (sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END))::BIGINT
           AS n_rows_suppressed,
       {sql_rnd("sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)::DOUBLE"
                " / sum(grp_n)", 6)} AS suppression_frac,
       min(grp_n) AS min_group
FROM g
""")
def ingest_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k = 5) over the quasi-identifier pair
    (nation, market segment): any group smaller than k re-identifies
    its members, so a release either suppresses those rows or
    generalizes the identifiers — this op reports how much data that
    costs (`suppression_frac`) and how far the worst group is from k.

    Governance twin of `text_pii_scrub`: scrubbing removes DIRECT
    identifiers; k-anonymity measures INDIRECT (linkage) risk. One
    grouped pass + a constant-size summary — at 100 TB the
    quasi-identifier groupBy partial-aggregates like any rollup, so
    auditing a release candidate costs one scan.
    """
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count("*").alias("grp_n")))
    small = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)
    return g.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(F.col("grp_n") < 5, 1)).alias("n_violating"),
        F.sum(small).alias("n_rows_suppressed"),
        rnd(F.sum(small).cast("double") / F.sum("grp_n"), 6)
        .alias("suppression_frac"),
        F.min("grp_n").alias("min_group"))


@register("ingest_dp_release", f"""
WITH g AS (
  SELECT c_mktsegment, count(*) AS true_n FROM customer GROUP BY 1
), noised AS (
  SELECT c_mktsegment, true_n,
         ('0x' || substring(md5(c_mktsegment || '|dp-seed'), 1, 8))::BIGINT
             / 4294967296.0 AS u
  FROM g
)
SELECT c_mktsegment,
       true_n,
       (true_n + round(CASE WHEN u < 0.5
                            THEN  (1.0 / 0.5) * ln(2.0 * u)
                            ELSE -(1.0 / 0.5) * ln(2.0 - 2.0 * u)
                       END))::BIGINT AS released_n,
       {sql_rnd('0.5', 6)} AS epsilon
FROM noised
""")
def ingest_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release MECHANISM (Laplace, ε = 0.5,
    sensitivity 1) over per-segment counts — mechanism-faithful, seed-
    deterministic: the uniform draw derives from a salted hash of the
    group key (so both engines, and every re-run, release the SAME
    noised counts — a real deployment swaps in a secret-keyed PRF,
    identical plumbing), and the noise is the exact inverse-CDF
    Laplace transform of that uniform.

    The engineering point for 100 TB releases: noise is a MAP over the
    aggregated groups (dim-sized), so DP costs nothing at scale; what
    matters is the count aggregation underneath being one partial-
    aggregated pass, and the per-release ε accounting column that a
    privacy budget ledger sums downstream.
    """
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment").agg(F.count("*").alias("true_n"))
    u = (F.conv(F.substring(F.md5(F.concat(F.col("c_mktsegment"),
                                           F.lit("|dp-seed"))), 1, 8), 16, 10)
         .cast("double") / 4294967296.0)
    lap = F.when(u < 0.5, (1.0 / 0.5) * F.log(2.0 * u)) \
           .otherwise(-(1.0 / 0.5) * F.log(2.0 - 2.0 * u))
    return g.select(
        "c_mktsegment", "true_n",
        (F.col("true_n") + F.round(lap)).cast("long").alias("released_n"),
        rnd(F.lit(0.5), 6).alias("epsilon"))


@register("ingest_partition_skew_report", """
WITH per_part AS (
  SELECT date_trunc('month', o_orderdate) AS part_month,
         count(*) AS n_rows,
         count(DISTINCT o_custkey) AS n_keys
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_rows) AS DOUBLE) / count(*) AS mean_rows,
         max(n_rows) AS max_rows,
         count(*) AS n_parts
  FROM per_part
)
SELECT strftime(p.part_month, '%Y-%m') AS part_month,
       CAST(p.n_rows AS BIGINT) AS n_rows,
       CAST(p.n_keys AS BIGINT) AS n_keys,
       floor(CAST(p.n_rows AS DOUBLE) / t.mean_rows * 10000.0 + 0.5)
           / 10000.0 AS skew_vs_mean,
       CASE WHEN CAST(p.n_rows AS DOUBLE) > 1.5 * t.mean_rows
            THEN 1 ELSE 0 END AS is_hot
FROM per_part p, tot t
""")
def ingest_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew report for the write-planning decision: rows and
    distinct keys per candidate partition (order month), each
    partition's size relative to the mean, and a hot flag at 1.5× —
    the report that decides whether a partition column needs
    sub-bucketing or salting BEFORE the 100 TB write happens (a hot
    partition turns into a straggler task and an unsplittable file).

    Exact-integer counts; the mean and ratios are single divisions of
    exact ints, so the hot flag cannot flip between engines.

    100 TB: one aggregate over the partition key (with partial
    aggregation the exchange carries one row per key per task), and
    the stats row is a scalar broadcast back over the key-cardinality
    report — the facts are read once.
    """
    o = load_table(spark, sf_dir, "orders")
    per_part = (o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                          .alias("part_month"))
                .agg(F.count("*").alias("n_rows"),
                     F.countDistinct("o_custkey").alias("n_keys")))
    tot = per_part.agg(
        (F.sum("n_rows").cast("double") / F.count("*")).alias("mean_rows"))
    return (per_part.crossJoin(F.broadcast(tot))
            .select(F.date_format("part_month", "yyyy-MM").alias("part_month"),
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("n_keys").cast("long").alias("n_keys"),
                    rnd(F.col("n_rows").cast("double") / F.col("mean_rows"),
                        4).alias("skew_vs_mean"),
                    F.when(F.col("n_rows").cast("double")
                           > 1.5 * F.col("mean_rows"), 1).otherwise(0)
                    .alias("is_hot")))


@register("ingest_gdpr_erasure", """
WITH del_users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
), del_cust AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), del_orders AS (
  SELECT o_orderkey FROM orders
  SEMI JOIN del_cust ON o_custkey = c_custkey
), audit AS (
  SELECT 'events' AS table_name,
         (SELECT count(*) FROM events) AS n_before,
         (SELECT count(*) FROM events
          SEMI JOIN del_users USING (user_id)) AS n_erased
  UNION ALL
  SELECT 'customer',
         (SELECT count(*) FROM customer),
         (SELECT count(*) FROM del_cust)
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM del_orders)
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem
          SEMI JOIN del_orders ON l_orderkey = o_orderkey)
)
SELECT table_name, n_before, n_erased,
       n_before - n_erased AS n_after,
       floor(CAST(n_erased AS DOUBLE) / n_before * 1000000.0 + 0.5)
           / 1000000.0 AS erased_frac
FROM audit
""")
def ingest_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: a deterministic request set
    (every 97th user/customer key stands in for the DSAR queue) is
    cascaded through the schema's foreign keys — customer → their
    orders → those orders' lineitems, plus the user's events — and
    each table reports before/erased/after counts. This is the dry-run
    report a GDPR erasure job publishes BEFORE rewriting 100 TB, and
    the verification artifact after.

    Completes the governance tier (`text_pii_scrub` masks,
    `ingest_k_anonymity` audits group sizes, `ingest_dp_release`
    noises aggregates — this one deletes). All semi-join cascades: the
    request set and its order-key frontier stay key-sized and
    broadcast; each fact is scanned once for its count pair.

    At 100 TB the erase itself is `sink_merge_upsert`'s
    partition-overwrite path driven by exactly these frontier sets;
    erased_frac per table is the blast-radius number an operator
    checks before approving.
    """
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    del_users = (ev.filter(F.col("user_id") % 97 == 0)
                 .select("user_id").distinct())
    del_cust = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_orders = (o.join(F.broadcast(del_cust),
                         F.col("o_custkey") == F.col("c_custkey"),
                         "left_semi")
                  .select("o_orderkey"))

    def audit(name, df, erased):
        return (df.agg(F.count("*").alias("n_before"))
                .crossJoin(erased.agg(F.count("*").alias("n_erased")))
                .select(F.lit(name).alias("table_name"), "n_before",
                        "n_erased"))

    rows = (audit("events", ev,
                  ev.join(F.broadcast(del_users), "user_id", "left_semi"))
            .unionAll(audit("customer", c, del_cust))
            .unionAll(audit("orders", o, del_orders))
            .unionAll(audit("lineitem", li,
                            li.join(del_orders,
                                    F.col("l_orderkey") == F.col("o_orderkey"),
                                    "left_semi"))))
    return rows.select(
        "table_name", "n_before", "n_erased",
        (F.col("n_before") - F.col("n_erased")).alias("n_after"),
        rnd(F.when(F.col("n_before") > 0,
                   F.col("n_erased").cast("double") / F.col("n_before")), 6)
        .alias("erased_frac"))


@register("ingest_freshness_slo", f"""
WITH mx AS (SELECT max(ts) AS global_max FROM events)
SELECT event_type,
       count(*) AS n,
       max(ts) AS last_seen,
       {sql_rnd("date_diff('second', max(ts), (SELECT global_max FROM mx))"
                " / 3600.0", 6)} AS lag_hours,
       CASE WHEN date_diff('second', max(ts), (SELECT global_max FROM mx))
                 <= 24 * 3600 THEN 1 ELSE 0 END AS slo_ok
FROM events
WHERE event_type IS NOT NULL
GROUP BY event_type
""")
def ingest_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO report: per source (event_type), last-seen
    timestamp and its lag behind the freshest record anywhere, graded
    against a 24 h staleness budget.

    The reference's curator pipelines `[PK, med]` alert on stale feeds
    before registration; this is that check as one aggregation. The lag
    anchor is max(ts) over the whole table — NOT wall-clock now(), which
    would be nondeterministic and untestable — so the report is a pure
    function of the data. One partial-agg shuffle on event_type; the
    one-row global max broadcasts. At 100 TB the per-source agg reads
    partition-pruned tails (ts-sorted layout), not full history.
    """
    ev = load_table(spark, sf_dir, "events")
    per = (ev.filter(F.col("event_type").isNotNull())
           .groupBy("event_type")
           .agg(F.count("*").alias("n"), F.max("ts").alias("last_seen")))
    gmax = ev.agg(F.max("ts").alias("global_max"))
    lag_h = (F.col("global_max").cast("long")
             - F.col("last_seen").cast("long")) / 3600.0
    return (per.crossJoin(F.broadcast(gmax))
            .select("event_type", "n", "last_seen",
                    rnd(lag_h, 6).alias("lag_hours"),
                    F.when(lag_h <= 24.0, 1).otherwise(0).alias("slo_ok")))


@register("ingest_late_data_report", f"""
WITH arr AS (
    SELECT event_type, event_id, ts,
           max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_watermark
    FROM events WHERE event_type IS NOT NULL
), late AS (
    SELECT event_type,
           CASE WHEN high_watermark > ts
                THEN date_diff('microsecond', ts, high_watermark) / 1000000.0
                ELSE 0.0 END AS lateness_s
    FROM arr
)
SELECT event_type,
       count(*) AS n_events,
       count(*) FILTER (WHERE lateness_s > 0) AS n_late,
       {sql_rnd('max(lateness_s)', 6)} AS max_lateness_s,
       {sql_rnd("coalesce(avg(CASE WHEN lateness_s > 0 THEN lateness_s END),"
                " 0.0)", 6)} AS avg_lateness_s
FROM late GROUP BY event_type
""")
def ingest_late_data_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile: per source, how many events arrive
    BEHIND the running event-time high-watermark (arrival order =
    event_id, the mint sequence) and by how much — the measurement that
    sizes `stream_watermark_late`'s watermark delay instead of guessing
    it.

    The preceding high-watermark is a strict-prefix running MAX per
    source — since r10 it rides the distributed running-max primitive
    (functions/ranking.py: max-combining bucket offsets), so a handful
    of sources over an entity-scale stream never funnels one window
    task per source; lateness is the event-time shortfall and
    everything after is a partial agg. At 100 TB arrival order is the
    ingestion log offset and the same prefix-max state is what
    Structured Streaming's watermark tracker keeps per shard.
    """
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_running_max)

    ev = load_table(spark, sf_dir, "events")
    hw = with_exact_running_max(
        ev.filter(F.col("event_type").isNotNull()),
        "ts", "event_id", [], out_col="_hwm",
        partition_by=["event_type"], inclusive=False)
    hwm = F.col("_hwm")
    late_us = F.when(hwm > F.col("ts"),
                     F.unix_micros(hwm) - F.unix_micros("ts")).otherwise(0)
    late_s = late_us / 1_000_000.0
    return (hw.select("event_type", late_s.alias("lateness_s"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.count(F.when(F.col("lateness_s") > 0, 1)).alias("n_late"),
                 rnd(F.max("lateness_s"), 6).alias("max_lateness_s"),
                 rnd(F.coalesce(F.avg(F.when(F.col("lateness_s") > 0,
                                             F.col("lateness_s"))),
                                F.lit(0.0)), 6).alias("avg_lateness_s")))


@register("ingest_row_fingerprint", """
WITH h AS (
    SELECT o_orderstatus,
           md5(o_orderkey::VARCHAR || '|' ||
               coalesce(o_custkey::VARCHAR, '') || '|' ||
               coalesce(o_orderstatus, '') || '|' ||
               coalesce(printf('%.2f', o_totalprice), '') || '|' ||
               coalesce(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '') || '|' ||
               coalesce(o_orderpriority, '')) AS row_md5
    FROM orders
)
SELECT o_orderstatus AS partition_key,
       count(*) AS n_rows,
       count(DISTINCT row_md5) AS n_distinct_rows,
       bit_xor(('0x' || substr(row_md5, 1, 15))::BIGINT) AS xor_digest
FROM h GROUP BY o_orderstatus
""")
def ingest_row_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed change detection: a canonical per-row md5 over
    EVERY column (typed rendering pinned: 2dp money, second-precision
    timestamps, empty string for NULL), rolled up per partition key —
    two snapshots of a table compare by fingerprint without comparing
    rows, the cheap half of `ingest_manifest_diff`.

    The canonical rendering IS the contract: float formatting and
    timestamp formatting are pinned to forms both engines produce
    byte-identically (printf %.2f, yyyy-MM-dd HH:mm:ss), because a
    fingerprint that renders differently across engines is useless for
    cross-system audits. Map-side hash, one grouped pass; the group
    digest is a bit_xor FOLD of 60-bit hash prefixes — order-
    insensitive (so partition layout never matters), constant-size,
    and any single changed row flips it (a min/max digest, the first
    draft, misses every change that isn't the extremal row — caught by
    this operator's own mutation test).
    """
    # fan_out (r12): six typed renderings + an md5 per row on the
    # single-row-group orders scan ran one-task (sweep: 2.5 s warm);
    # round-robin ahead of the hash stage — scale guard per io.fan_out.
    from manual_data_ingest_spark.io import fan_out

    o = fan_out(load_table(spark, sf_dir, "orders"))
    row_md5 = F.md5(F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(F.col("o_custkey").cast("string"), F.lit("")),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        # format_string renders a NULL arg as the literal "null" (it
        # never returns NULL for null args, unlike DuckDB's printf) —
        # the isNotNull guard keeps the canonical NULL rendering ''
        F.coalesce(F.when(F.col("o_totalprice").isNotNull(),
                          F.format_string("%.2f", "o_totalprice")),
                   F.lit("")),
        F.coalesce(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
                   F.lit("")),
        F.coalesce(F.col("o_orderpriority"), F.lit(""))))
    return (o.select(F.col("o_orderstatus").alias("partition_key"),
                     row_md5.alias("row_md5"))
            .groupBy("partition_key")
            .agg(F.count("*").alias("n_rows"),
                 F.countDistinct("row_md5").alias("n_distinct_rows"),
                 F.bit_xor(F.expr(
                     "cast(conv(substring(row_md5, 1, 15), 16, 10) as bigint)"))
                 .alias("xor_digest")))


@register("ingest_volume_anomaly", f"""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
    FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
), w AS (
    SELECT event_type, day, n,
           avg(n)  OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mu,
           stddev_samp(n) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sigma,
           count(*) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_hist
    FROM daily
)
SELECT event_type, day, n,
       {sql_rnd('mu', 6)} AS trailing_mean,
       CASE WHEN n_hist >= 3 AND sigma > 0
            THEN floor(abs(n - mu) / sigma * 1000000.0 + 0.5) / 1000000.0
       END AS zscore,
       CASE WHEN n_hist >= 3 AND sigma > 0 AND abs(n - mu) / sigma > 3.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM w
""")
def ingest_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-volume anomaly detection: each (source, day)'s event count
    z-scored against its own trailing 7-day window — the "did the crawl
    break / double-ingest" alarm that runs before anything downstream
    trusts the day's data.

    Daily rollup (one partial-agg shuffle) then trailing-frame windows
    over the DAY-sized series — the window input is days×types, not
    events, so the frame computation is free at any corpus size. Cold
    starts (< 3 days of history) and zero-variance windows emit NULL
    z-scores rather than fake confidence; the 3σ flag is the standard
    control-chart rule. Complements `ingest_freshness_slo` (late feed)
    with the volume axis (wrong-sized feed).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type").isNotNull()
                       & F.col("ts").isNotNull())
             .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
             .agg(F.count("*").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-7, -1))
    mu, sigma = F.avg("n").over(w), F.stddev_samp("n").over(w)
    n_hist = F.count("*").over(w)
    z = F.abs(F.col("n") - F.col("mu")) / F.col("sigma")
    return (daily.select("event_type", "day", "n",
                         mu.alias("mu"), sigma.alias("sigma"),
                         n_hist.alias("n_hist"))
            .select("event_type", "day", "n",
                    rnd(F.col("mu"), 6).alias("trailing_mean"),
                    rnd(F.when((F.col("n_hist") >= 3) & (F.col("sigma") > 0),
                               z), 6).alias("zscore"),
                    F.when((F.col("n_hist") >= 3) & (F.col("sigma") > 0)
                           & (z > 3.0), 1).otherwise(0).alias("is_anomaly")))


@register("ingest_reconcile_totals", f"""
WITH line_units AS (
  -- exact integers: cents × (100+tax_c) × (100−disc_c); 1 dollar = 1e6 units
  SELECT l_orderkey,
         -- HUGEINT first factor: a wild rate overflows the bigint
         -- triple product and DuckDB errors rather than promotes
         sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT)
             * (100 + CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT))
             * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
             AS line_units
  FROM lineitem GROUP BY l_orderkey
), recon AS (
  SELECT o_orderpriority,
         abs(coalesce(line_units, 0)
             - CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) * 10000)
             AS diff_units
  FROM orders LEFT JOIN line_units ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(CASE WHEN diff_units <= 10000 THEN 1 END) AS n_reconciled,
       count(CASE WHEN diff_units > 10000 THEN 1 END) AS n_mismatched,
       {sql_rnd('max(diff_units)::DOUBLE / 1000000.0', 2)} AS max_abs_diff
FROM recon GROUP BY o_orderpriority
""")
def ingest_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: does each order header
    total equal its lineitems' Σ price·(1+tax)·(1−discount)? Per
    priority class: reconciled / mismatched counts (±$0.01) and the
    worst discrepancy — the ledger-integrity audit every ingest of
    transactional feeds runs before publishing.

    The comparison is EXACT integer arithmetic end to end: 2dp money
    and rates are re-scaled to integer cents/percent (floor(x·100+.5),
    the shared rounder), so one line is ≤ 2e11 units and a 7-line order
    sums far inside 2^53 — no float threshold can flip a verdict
    across engines (the PARITY #21 class, applied to money). One
    orderkey-keyed rollup + one id join; headerless orders reconcile
    against 0 via the LEFT join, orphan lineitems are
    `ingest_validate`'s referential check, not this one.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cents = lambda c: F.floor(F.col(c) * 100.0 + F.lit(0.5)).cast("long")
    # DECIMAL factors (HUGEINT in the oracle): a wild tax/discount rate
    # makes the triple product exceed int64, and both engines ERROR on
    # bigint multiplication overflow rather than promote — the audit
    # must REPORT an absurd row as mismatched, not die on it
    dec12 = "decimal(12,0)"
    units = (cents("l_extendedprice").cast(dec12)
             * (F.lit(100) + cents("l_tax")).cast(dec12)
             * (F.lit(100) - cents("l_discount")).cast(dec12))
    lu = li.groupBy("l_orderkey").agg(F.sum(units).alias("line_units"))
    diff = F.abs(F.coalesce(F.col("line_units"), F.lit(0).cast("decimal(38,0)"))
                 - (cents("o_totalprice") * 10000).cast("decimal(38,0)"))
    recon = (o.join(lu, o.o_orderkey == lu.l_orderkey, "left")
             .select("o_orderpriority", diff.alias("diff_units")))
    return (recon.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.count(F.when(F.col("diff_units") <= 10000, 1))
                 .alias("n_reconciled"),
                 F.count(F.when(F.col("diff_units") > 10000, 1))
                 .alias("n_mismatched"),
                 rnd(F.max("diff_units").cast("double") / 1000000.0, 2)
                 .alias("max_abs_diff")))


_PSI_BUCKET_SQL = """CASE WHEN n_chars < 150 THEN 'b1'
              WHEN n_chars < 250 THEN 'b2'
              WHEN n_chars < 350 THEN 'b3'
              WHEN n_chars < 450 THEN 'b4'
              ELSE 'b5' END"""


@register("ingest_psi_drift", f"""
WITH binned AS (
  SELECT source, {_PSI_BUCKET_SQL} AS bin
  FROM documents WHERE n_chars IS NOT NULL
), per_src AS (
  SELECT source, bin, count(*) AS c FROM binned GROUP BY source, bin
), src_tot AS (
  SELECT source, sum(c)::BIGINT AS tot FROM per_src GROUP BY source
), global_bins AS (
  SELECT bin, sum(c)::BIGINT AS gc FROM per_src GROUP BY bin
), gtot AS (SELECT sum(gc)::BIGINT AS g FROM global_bins),
grid AS (
  SELECT s.source, b.bin, s.tot, b.gc, (SELECT g FROM gtot) AS g,
         coalesce(p.c, 0)::BIGINT AS c
  FROM src_tot s CROSS JOIN global_bins b
  LEFT JOIN per_src p ON p.source = s.source AND p.bin = b.bin
)
SELECT source,
       {sql_rnd("sum((greatest(c::DOUBLE / tot::DOUBLE, 0.000001)"
                " - greatest(gc::DOUBLE / g::DOUBLE, 0.000001))"
                " * ln(greatest(c::DOUBLE / tot::DOUBLE, 0.000001)"
                " / greatest(gc::DOUBLE / g::DOUBLE, 0.000001)))", 6)}
           AS psi
FROM grid GROUP BY source
""")
def ingest_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's length distribution
    against the corpus: PSI = Σ(p−q)·ln(p/q) over fixed bins — the
    standard model-ops drift score (<0.1 stable, >0.25 investigate),
    here answering "which feed's documents stopped looking like the
    corpus" before that drift poisons a training mix.

    Bins are explicit integer CASE edges (never quantile-derived at
    query time — edges must be FROZEN for PSI to compare runs); empty
    cells are clamped at 1e-6 on BOTH engines (the standard PSI
    epsilon), and ln appears only inside the 6dp-rounded bounded sum
    (PARITY #31). Everything reduces on (source, bin) partials; the
    5-bin × source grid is dim-sized, built from two broadcastable
    aggregates.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull())
    bucket = (F.when(F.col("n_chars") < 150, "b1")
              .when(F.col("n_chars") < 250, "b2")
              .when(F.col("n_chars") < 350, "b3")
              .when(F.col("n_chars") < 450, "b4")
              .otherwise("b5"))
    per_src = (d.select("source", bucket.alias("bin"))
               .groupBy("source", "bin").agg(F.count("*").alias("c")))
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("tot"))
    gbins = per_src.groupBy("bin").agg(F.sum("c").alias("gc"))
    gtot = gbins.agg(F.sum("gc").alias("g"))
    grid = (src_tot.crossJoin(F.broadcast(gbins))
            .join(F.broadcast(gtot))
            .join(per_src, ["source", "bin"], "left")
            .select("source", "bin", "tot", "gc", "g",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    p = F.greatest(F.col("c").cast("double") / F.col("tot").cast("double"),
                   F.lit(0.000001))
    q = F.greatest(F.col("gc").cast("double") / F.col("g").cast("double"),
                   F.lit(0.000001))
    return (grid.groupBy("source")
            .agg(rnd(F.sum((p - q) * F.log(p / q)), 6).alias("psi")))


@register("ingest_missing_hours_report", """
WITH hours AS (
  SELECT DISTINCT event_type,
         (epoch_us(ts) // 3600000000)::BIGINT AS hr
  FROM events WHERE ts IS NOT NULL
), gaps AS (
  SELECT event_type, hr,
         lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS prev_hr
  FROM hours
)
SELECT event_type,
       prev_hr + 1 AS gap_start_hr,
       hr - 1 AS gap_end_hr,
       hr - prev_hr - 1 AS missing_hours
FROM gaps WHERE prev_hr IS NOT NULL AND hr - prev_hr > 1
""")
def ingest_missing_hours_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-outage report: for each event type, the exact hour ranges
    with NO data between observed hours — the feed-gap evidence an
    on-call engineer needs ("purchases missing 14:00-16:00") where
    `ingest_freshness_slo` only says the feed is currently stale and
    `agg_gapfill_timeseries` silently papers over the hole. (Hour
    grain because the fixtures are day-dense; the day-grain report is
    this plan with the divisor swapped.)

    The distinct (type, hour) collapse bounds the lag window input to
    hours, not events; one type-keyed shuffle. Gaps are pure integer
    epoch-hour arithmetic. The complement of gap-FILLING: this
    operator makes holes VISIBLE, the gapfill family makes them
    disappear — a pipeline needs both, in that order.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hours = (ev.select("event_type",
                       (F.unix_micros("ts") / F.lit(3600000000))
                       .cast("long").alias("hr"))
             .distinct())
    w = Window.partitionBy("event_type").orderBy("hr")
    gaps = hours.withColumn("prev_hr", F.lag("hr").over(w))
    return (gaps.filter(F.col("prev_hr").isNotNull()
                        & (F.col("hr") - F.col("prev_hr") > 1))
            .select("event_type",
                    (F.col("prev_hr") + 1).alias("gap_start_hr"),
                    (F.col("hr") - 1).alias("gap_end_hr"),
                    (F.col("hr") - F.col("prev_hr") - 1)
                    .alias("missing_hours")))


@register("ingest_mix_shift_chi2", f"""
WITH wk AS (
  SELECT date_trunc('week', ts)::DATE AS week, event_type,
         count(*) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY week, event_type
), wt AS (SELECT week, sum(c)::BIGINT AS wtot FROM wk GROUP BY week),
g AS (SELECT event_type, sum(c)::BIGINT AS gc FROM wk GROUP BY event_type),
gt AS (SELECT sum(gc)::BIGINT AS g FROM g),
grid AS (
  SELECT w.week, e.event_type, w.wtot, e.gc, (SELECT g FROM gt) AS g,
         coalesce(k.c, 0)::BIGINT AS c
  FROM wt w CROSS JOIN g e
  LEFT JOIN wk k ON k.week = w.week AND k.event_type = e.event_type
)
SELECT week,
       {sql_rnd('sum(power(c::DOUBLE - wtot::DOUBLE * gc::DOUBLE'
                ' / g::DOUBLE, 2) / (wtot::DOUBLE * gc::DOUBLE'
                ' / g::DOUBLE))', 6)} AS chi2,
       (sum(power(c::DOUBLE - wtot::DOUBLE * gc::DOUBLE / g::DOUBLE, 2)
            / (wtot::DOUBLE * gc::DOUBLE / g::DOUBLE))
        > 9.487729036781154) AS shifted
FROM grid GROUP BY week
""")
def ingest_mix_shift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix-shift detector: χ² of each week's event-type
    mix against the corpus mix, flagged at the 95% critical value for
    4 dof (shared literal, the `ml_ab_srm_check` discipline — no
    inverse-CDF at query time). `ingest_volume_anomaly` pages when a
    feed's VOLUME moves; this pages when volume looks fine but the
    COMPOSITION drifted (a silent client release stops sending one
    event type).

    The (week, type) counts are one grouped pass; the expectation grid
    is weeks×types (dim-sized) built from two broadcastable rollups.
    Counts exact integers; χ² is a fixed IEEE sequence per cell,
    rounded 6dp; the flag compares the UNROUNDED double to the shared
    literal identically on both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wk = (ev.groupBy(F.date_trunc("week", "ts").cast("date").alias("week"),
                     "event_type")
          .agg(F.count("*").alias("c")))
    wt = wk.groupBy("week").agg(F.sum("c").alias("wtot"))
    g = wk.groupBy("event_type").agg(F.sum("c").alias("gc"))
    gt = g.agg(F.sum("gc").alias("g"))
    grid = (wt.crossJoin(F.broadcast(g)).join(F.broadcast(gt))
            .join(wk, ["week", "event_type"], "left")
            .select("week", "event_type", "wtot", "gc", "g",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    exp = (F.col("wtot").cast("double") * F.col("gc").cast("double")
           / F.col("g").cast("double"))
    term = F.pow(F.col("c").cast("double") - exp, 2) / exp
    chi2 = F.sum(term)
    return (grid.groupBy("week")
            .agg(rnd(chi2, 6).alias("chi2"),
                 (chi2 > 9.487729036781154).alias("shifted")))


@register("ingest_rate_limit_audit", """
WITH pm AS (
  SELECT user_id,
         ((epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000) // 86400000000)::BIGINT AS day,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id, day
)
SELECT user_id,
       count(*) AS n_hot_days,
       max(n)::BIGINT AS peak_per_day,
       sum(n)::BIGINT AS events_in_hot_days
FROM pm WHERE n >= 3
GROUP BY user_id
HAVING max(n) >= 5
""")
def ingest_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit / abuse audit: users whose per-DAY event rate peaked
    at ≥5, with their hot-day count and volume — the bot-and-runaway-
    client detector every public ingest endpoint runs, and the input
    to a throttling policy ("99.9% of humans never exceed N/day" is
    read off this table's complement). Day grain because the fixtures
    are low-frequency (max 2/minute anywhere); a production endpoint
    runs the identical plan at minute grain — only the divisor
    changes.

    The (user, day) pre-aggregation is the load-bearing move: the
    shuffle carries day-buckets, not raw events, and the hot filter
    (n ≥ 3) prunes before the per-user rollup — at 100 TB the benign
    buckets (almost all of them) never leave partial aggregation.
    Exact integer thresholds; same shape as a `transformWithState`
    per-key counter in the streaming deployment.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    pm = (ev.select("user_id",
                    epoch_day(F.col("ts")).alias("day"))
          .groupBy("user_id", "day").agg(F.count("*").alias("n")))
    return (pm.filter(F.col("n") >= 3)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_hot_days"),
                 F.max("n").alias("peak_per_day"),
                 F.sum("n").alias("events_in_hot_days"))
            .filter(F.col("peak_per_day") >= 5))


@register("ingest_double_submit_guard", """
WITH seq AS (
  SELECT user_id, event_type, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts, event_id) AS gap_us
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type,
       count(*) AS n_rapid_repeats,
       count(DISTINCT user_id) AS n_users,
       min(gap_us) AS min_gap_us
FROM seq WHERE gap_us IS NOT NULL AND gap_us <= 1800000000
GROUP BY event_type
""")
def ingest_double_submit_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat detector: a user firing the SAME event type again
    within 30 minutes of the last one — the double-click / retry-storm
    signature that exact-key dedup (`stream_dedup`, `dedup_exact`)
    misses because each submission mints a fresh event_id. Per type:
    repeat count, affected users, tightest gap.

    The lag window partitions on the natural duplicate key
    (user, type) so ONLY repeat candidates ever sit adjacent — no
    pair join, no threshold scan; the 30-minute bound is exact
    integer µs. At ingest time the same predicate becomes the
    drop/flag rule; here it is the audit that sizes the problem first
    (the `ingest_missing_hours_report` philosophy: measure, then fix).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy("ts", "event_id"))
    seq = ev.withColumn("gap_us",
                        F.unix_micros("ts")
                        - F.lag(F.unix_micros("ts")).over(w))
    return (seq.filter(F.col("gap_us").isNotNull()
                       & (F.col("gap_us") <= 1800000000))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_rapid_repeats"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.min("gap_us").alias("min_gap_us")))


@register("ingest_checksum_manifest", """
WITH rows_h AS (
    SELECT source,
           doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || '|' || text), 1, 15))::BIGINT
               % 1000000007 AS h
    FROM documents
)
SELECT source,
       count(*) AS n_rows,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       sum(h)::BIGINT AS content_checksum
FROM rows_h
GROUP BY source
""")
def ingest_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source transfer-validation manifest: row count, id range,
    and an ORDER-INDEPENDENT content checksum (sum of bounded per-row
    md5-derived integers) — what a receiving system compares after a
    bulk copy to prove nothing was dropped, duplicated, or mutated,
    without re-reading the sender's data in any particular order.

    The checksum must commute because at 100 TB neither side can
    afford a canonical sort: each row hashes independently
    (md5 of id|text → first 15 hex chars as int64, mod 1e9+7 so a
    9-billion-row partition cannot overflow the int64 sum), and the
    per-partition sums combine map-side — the whole manifest is one
    hash aggregate over the scan, the same shape as
    `ingest_row_fingerprint`'s per-row pass but collapsed to one row
    per source partition. md5 hex parity across engines is the
    established §2.14 contract.
    """
    d = load_table(spark, sf_dir, "documents")
    h = (F.expr("cast(conv(substring(md5(concat(cast(doc_id as string),"
                " '|', text)), 1, 15), 16, 10) as bigint)")
         % F.lit(1_000_000_007))
    return (d.select("source", "doc_id", h.alias("h"))
            .groupBy("source")
            .agg(F.count("*").alias("n_rows"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"),
                 F.sum("h").alias("content_checksum")))


@register("ingest_late_arriving_dims", """
WITH dims AS (
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 0
)
SELECT o_orderpriority,
       coalesce(c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_orders,
       (c_mktsegment IS NULL)::INT AS is_late
FROM orders LEFT JOIN dims ON o_custkey = c_custkey
GROUP BY 1, 2, 4
""")
def ingest_late_arriving_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling: facts whose dimension row has
    not landed yet (here: customers with non-positive balance stand in
    for not-yet-loaded dim rows) are NOT dropped and NOT blocked —
    they aggregate under an explicit 'UNKNOWN' bucket with a late flag,
    so the report totals reconcile with the fact count while the
    backfill join (re-run when the dim catches up) reassigns them.
    The inner-join alternative silently loses fact rows; the
    wait-for-dims alternative blocks the pipeline — this shape is the
    standard third way.

    Scale shape: dim side is filtered then broadcast (keys+segment
    only); the aggregate runs on the join output with map-side
    partials over (priority, segment) — bounded cardinality. The
    UNKNOWN coalesce happens before grouping so the late bucket is a
    first-class group, not a post-pass.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dims = (c.filter(F.col("c_acctbal") > 0)
            .select("c_custkey", "c_mktsegment"))
    return (o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey, "left")
            .groupBy("o_orderpriority",
                     F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
                     .alias("segment"),
                     F.col("c_mktsegment").isNull().cast("int")
                     .alias("is_late"))
            .agg(F.count("*").alias("n_orders"))
            .select("o_orderpriority", "segment", "n_orders", "is_late"))


@register("ingest_fk_coverage_report", f"""
WITH li AS (
    SELECT count(*) AS n,
           count(o.o_orderkey) AS m_ord,
           count(p.p_partkey) AS m_part,
           count(s.s_suppkey) AS m_supp
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
)
SELECT 'lineitem.l_orderkey->orders' AS edge, n::BIGINT AS n_rows,
       m_ord::BIGINT AS n_matched,
       CASE WHEN n > 0 THEN {sql_rnd('m_ord / n::DOUBLE', 4)} END
           AS coverage_pct
FROM li
UNION ALL
SELECT 'lineitem.l_partkey->part', n::BIGINT, m_part::BIGINT,
       CASE WHEN n > 0 THEN {sql_rnd('m_part / n::DOUBLE', 4)} END FROM li
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', n::BIGINT, m_supp::BIGINT,
       CASE WHEN n > 0 THEN {sql_rnd('m_supp / n::DOUBLE', 4)} END FROM li
UNION ALL
SELECT 'orders.o_custkey->customer', count(*)::BIGINT,
       count(c.c_custkey)::BIGINT,
       CASE WHEN count(*) > 0
            THEN {sql_rnd('count(c.c_custkey) / count(*)::DOUBLE', 4)} END
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation', count(*)::BIGINT,
       count(n.n_nationkey)::BIGINT,
       CASE WHEN count(*) > 0
            THEN {sql_rnd('count(n.n_nationkey) / count(*)::DOUBLE', 4)} END
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'supplier.s_nationkey->nation', count(*)::BIGINT,
       count(n.n_nationkey)::BIGINT,
       CASE WHEN count(*) > 0
            THEN {sql_rnd('count(n.n_nationkey) / count(*)::DOUBLE', 4)} END
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
UNION ALL
SELECT 'nation.n_regionkey->region', count(*)::BIGINT,
       count(r.r_regionkey)::BIGINT,
       CASE WHEN count(*) > 0
            THEN {sql_rnd('count(r.r_regionkey) / count(*)::DOUBLE', 4)} END
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def ingest_fk_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity COVERAGE across every FK edge of the star
    schema in one report: child rows, matched rows, match fraction —
    the daily data-quality panel that complements `ingest_validate`
    (which counts VIOLATIONS for a rule subset). 7 edges, one row
    each.

    Shape: lineitem's three edges share ONE scan — three left joins
    against the parent KEY projections feed a single aggregate whose
    three match-counts fan out via map-explode (the `ingest_validate`
    r4 pattern); the other four edges are one dim-sized branch each.
    No join carries a broadcast hint: parent keysets scale with their
    tables, and AQE picks broadcast only when a side fits
    (tests/test_plans.py::test_no_forced_fact_table_broadcast_anywhere
    covers this op like every other). Degenerate guard: coverage_pct
    is NULL (not DIVIDE_BY_ZERO) on an empty child table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    ok = orders.select(F.col("o_orderkey").alias("k_ord"))
    pk = part.select(F.col("p_partkey").alias("k_part"))
    sk = supplier.select(F.col("s_suppkey").alias("k_supp"))
    li3 = (li.select("l_orderkey", "l_partkey", "l_suppkey")
           .join(ok, li.l_orderkey == ok.k_ord, "left")
           .join(pk, li.l_partkey == pk.k_part, "left")
           .join(sk, li.l_suppkey == sk.k_supp, "left")
           .agg(F.count("*").alias("n"),
                F.count("k_ord").alias("m_ord"),
                F.count("k_part").alias("m_part"),
                F.count("k_supp").alias("m_supp")))
    li_rows = (li3.select(F.col("n"), F.explode(F.create_map(
        F.lit("lineitem.l_orderkey->orders"), F.col("m_ord"),
        F.lit("lineitem.l_partkey->part"), F.col("m_part"),
        F.lit("lineitem.l_suppkey->supplier"), F.col("m_supp")))
        .alias("edge", "n_matched"))
        .select("edge", F.col("n").alias("n_rows"), "n_matched"))

    def one_edge(label, child, ckey, parent, pkey_col):
        p = parent.select(F.col(pkey_col).alias("pk"))
        return (child.select(F.col(ckey))
                .join(p, F.col(ckey) == F.col("pk"), "left")
                .agg(F.count("*").alias("n_rows"),
                     F.count("pk").alias("n_matched"))
                .select(F.lit(label).alias("edge"), "n_rows", "n_matched"))

    edges = li_rows
    for spec in (
            ("orders.o_custkey->customer", orders, "o_custkey",
             customer, "c_custkey"),
            ("customer.c_nationkey->nation", customer, "c_nationkey",
             nation, "n_nationkey"),
            ("supplier.s_nationkey->nation", supplier, "s_nationkey",
             nation, "n_nationkey"),
            ("nation.n_regionkey->region", nation, "n_regionkey",
             region, "r_regionkey")):
        edges = edges.unionByName(one_edge(*spec))
    return edges.select(
        "edge", F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.when(F.col("n_rows") > 0,
               rnd(F.col("n_matched") / F.col("n_rows").cast("double"), 4))
        .alias("coverage_pct"))


@register("ingest_id_gap_islands", """
WITH keys AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey IS NOT NULL
), adj AS (
  SELECT k, lead(k) OVER (ORDER BY k) - k - 1 AS gap
  FROM keys
)
SELECT count(*)::BIGINT AS n_keys,
       min(k)::BIGINT AS key_min,
       max(k)::BIGINT AS key_max,
       (max(k) - min(k) + 1 - count(*))::BIGINT AS n_missing,
       count(CASE WHEN gap > 0 THEN 1 END)::BIGINT AS n_gaps,
       coalesce(max(gap), 0)::BIGINT AS max_gap
FROM adj
""")
def ingest_id_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit of the order-key space (gaps-and-islands):
    how many ids are missing, in how many gaps, and how wide the worst
    one is — the CDC-completeness check a curator runs when a feed
    claims contiguous surrogate keys (the TPC-H-style fixture keys are
    deliberately SPARSE, so the audit reports real gaps). Missing-hours
    (`ingest_missing_hours_report`) is this audit's time-axis sibling;
    this is the key-axis one.

    Scale shape — the naive form (the oracle) is one GLOBAL ordered
    window over every distinct key, a single-partition sort at 100 TB.
    Here adjacency is TWO-LEVEL: keys range-bucket by `k div 2^16`
    (order-preserving, so within-bucket lead() covers every adjacent
    pair except bucket-boundary ones), per-bucket windows run in
    parallel, and the boundary gaps come from a lead() over the
    BUCKET-level min/max table — 2^16× smaller than the key space; if
    even that outgrows one task, recurse the same trick (the
    `ingest_id_mint_scalable` hierarchy). Same answer as the oracle
    (hash-equality proves it), no global sort of the keys.
    All arithmetic is exact BIGINT.
    """
    o = load_table(spark, sf_dir, "orders")
    keys = (o.filter(F.col("o_orderkey").isNotNull())
            .select(F.col("o_orderkey").alias("k")).distinct()
            .withColumn("b", F.expr("k div 65536")))
    win = Window.partitionBy("b").orderBy("k")
    inner = (keys.withColumn("gap", F.lead("k").over(win) - F.col("k") - 1)
             .filter(F.col("gap") > 0)
             .agg(F.count("*").alias("n_gaps_in"),
                  F.max("gap").alias("max_gap_in")))
    buckets = keys.groupBy("b").agg(F.min("k").alias("bmin"),
                                    F.max("k").alias("bmax"))
    wb = Window.orderBy("b")
    edge = (buckets.withColumn("gap", F.lead("bmin").over(wb)
                               - F.col("bmax") - 1)
            .filter(F.col("gap") > 0)
            .agg(F.count("*").alias("n_gaps_edge"),
                 F.max("gap").alias("max_gap_edge")))
    tot = keys.agg(F.count("*").alias("n_keys"),
                   F.min("k").alias("key_min"),
                   F.max("k").alias("key_max"))
    return (tot.crossJoin(F.broadcast(inner)).crossJoin(F.broadcast(edge))
            .select(
                "n_keys", "key_min", "key_max",
                (F.col("key_max") - F.col("key_min") + 1 - F.col("n_keys"))
                .cast("long").alias("n_missing"),
                (F.coalesce("n_gaps_in", F.lit(0))
                 + F.coalesce("n_gaps_edge", F.lit(0)))
                .cast("long").alias("n_gaps"),
                F.greatest(F.coalesce("max_gap_in", F.lit(0)),
                           F.coalesce("max_gap_edge", F.lit(0)))
                .cast("long").alias("max_gap")))
