"""End-to-end composite pipelines — the realistic whole-job shapes.

Each is ONE DataFrame plan composing operators that are individually
oracled elsewhere: Catalyst fuses the stages (dedup window → quality
filters → projections) into a single job with no intermediate
materialization — the property that makes the composition cheaper than
running the pieces separately, and the reason a pipeline user migrates
to an engine instead of chaining scripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manual_data_ingest_spark.io import load_table
from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd
from manual_data_ingest_spark.registry import register

_STOP_DUCK = "len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))"
_STOP_SPARK = "size(filter(split(text, ' '), t -> t IN ('the', 'a')))"


@register("pipeline_llm_prep", f"""
WITH deduped AS (
    SELECT doc_id, lang, source, text
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) = 1
),
scored AS (
    SELECT doc_id, lang, source,
           len(string_split(text, ' ')) AS n_tokens,
           {_STOP_DUCK} AS n_stop,
           list_sum(list_transform(string_split(text, ' '), x -> length(x)))
               ::DOUBLE / len(string_split(text, ' ')) AS avg_tok,
           md5(text) AS content_md5
    FROM deduped
)
SELECT doc_id, lang, source, n_tokens, content_md5,
       CASE WHEN n_stop > 0 THEN 'en' ELSE 'und' END AS pred_lang
FROM scored
WHERE n_tokens BETWEEN 40 AND 100000
  AND n_stop >= 2
  AND avg_tok BETWEEN 3 AND 10
""")
def pipeline_llm_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training-data prep, end to end in one plan:
    exact dedup (normalized md5, min doc_id wins) → Gopher-style quality
    gate (token band, stopword minimum, mean-token-length band) →
    language tag → training manifest (id, lang, checksum).

    One shuffle (the dedup window); everything downstream is map-side
    and fused by Catalyst — at 100 TB this runs as two stages total.

    r12 optimization (guide §2.3 "project before the exchange" / §8
    "decide with small rows"): the quality metrics and both digests are
    computed in the SCAN stage, so the dedup window's exchange carries
    ~100 bytes/row of scores + digests instead of the full document
    text (the only consumer of `text` is map-side arithmetic). The
    dedup key, survivor rule (min doc_id per normalized digest) and
    every output value are unchanged — the gates just evaluate against
    columns computed before the shuffle instead of after.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_stop = F.expr(_STOP_SPARK)
    avg_tok = (F.aggregate(F.transform(toks, F.length), F.lit(0),
                           lambda a, v: a + v).cast("double") / n_tok)
    scored = d.select(
        "doc_id", "lang", "source",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stop"),
        avg_tok.alias("avg_tok"),
        F.md5("text").alias("content_md5"),
        F.md5(F.lower(F.trim("text"))).alias("_norm_key"))
    w = Window.partitionBy("_norm_key").orderBy("doc_id")
    deduped = (scored.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).drop("rn", "_norm_key"))
    return (deduped
            .filter((F.col("n_tokens") >= 40) & (F.col("n_tokens") <= 100000)
                    & (F.col("n_stop") >= 2)
                    & (F.col("avg_tok") >= 3) & (F.col("avg_tok") <= 10))
            .select("doc_id", "lang", "source", "n_tokens", "content_md5",
                    F.when(F.col("n_stop") > 0, "en").otherwise("und")
                    .alias("pred_lang")))


@register("pipeline_ingest_register", """
WITH validated AS (
    SELECT doc_id, source, text, n_chars
    FROM documents
    WHERE length(text) = n_chars          -- consistency gate
),
minted AS (
    SELECT doc_id, source,
           'MDI-' || upper(substring(sha256(source || '|' || doc_id::VARCHAR),
                                     1, 12)) AS minted_id,
           md5(text) AS content_md5,
           doc_id % 16 AS bucket
    FROM validated
)
SELECT bucket, count(*) AS n_docs,
       count(DISTINCT minted_id) AS n_ids,
       min(minted_id) AS first_id
FROM minted
GROUP BY bucket
""")
def pipeline_ingest_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole registration script as one distributed job:
    validate (consistency gate) → mint deterministic IDs → build the
    manifest → WRITE it partitioned by bucket → read back and summarize
    per partition.

    The write/read-back is part of the operator (like sink_partitioned):
    what's verified is the on-disk partitioned registration manifest a
    downstream indexer would consume. Per-row uuid-api/entity-api POSTs
    of the reference become this one bulk metadata write.
    """
    d = load_table(spark, sf_dir, "documents")
    manifest = (d.filter(F.length("text") == F.col("n_chars"))
                .select("doc_id", "source",
                        F.concat(
                            F.lit("MDI-"),
                            F.upper(F.substring(
                                F.sha2(F.concat_ws("|", "source", "doc_id"),
                                       256), 1, 12))).alias("minted_id"),
                        F.md5("text").alias("content_md5"),
                        F.pmod("doc_id", F.lit(16)).alias("bucket")))
    from manual_data_ingest_spark.sources.scans import _tmpdir
    out = _tmpdir("mdis_register_")
    manifest.write.mode("overwrite").partitionBy("bucket").parquet(out)
    # explicit schema: zero part files (empty input) breaks inference
    back = spark.read.schema(manifest.schema).parquet(out)
    return (back.groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("minted_id").alias("n_ids"),
                 F.min("minted_id").alias("first_id")))


@register("pipeline_seq_pack", """
WITH toks AS (
    SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
    FROM documents
),
packed AS (
    SELECT source, n_tok,
           sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM toks
)
SELECT source,
       sum(n_tok)::BIGINT AS total_tokens,
       ceil(sum(n_tok) / 512.0)::BIGINT AS n_sequences,
       count_if((cum - n_tok) // 512 <> (cum - 1) // 512)::BIGINT
           AS n_straddle_docs,
       floor((sum(n_tok) / (ceil(sum(n_tok) / 512.0) * 512.0)) * 1000000.0
             + 0.5) / 1000000.0 AS fill_ratio
FROM packed
GROUP BY source
""")
def pipeline_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing audit: per shard (``source``),
    concatenate documents in doc_id order and cut every 512 tokens;
    report how many training sequences result, how many documents
    straddle a cut (lose context at the boundary), and the fill ratio
    of the packed stream.

    A doc spans tokens [cum - n_tok, cum); it straddles iff its first
    and last token land in different 512-blocks. This is the packing
    bookkeeping a dataloader needs BEFORE writing shards. r10: the
    per-source running sum rides the PARTITIONED distributed
    running-sum primitive (functions/ranking.py) — a handful of
    sources over an entity-scale corpus must not funnel each source's
    whole stream through one window task; sub-bucketed by doc_id
    quantiles, every source packs in parallel AND distributed.
    """
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_running_sum)

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    # r10: the per-source cumulative token count runs through the
    # PARTITIONED distributed running-sum primitive — a handful of
    # sources over an entity-scale corpus would otherwise funnel each
    # source's whole stream through one window task (the class the
    # r9-r10 rank work eliminated at the global level)
    packed = with_exact_running_sum(toks, "n_tok", "doc_id", [],
                                    out_col="cum",
                                    partition_by=["source"])
    straddle = (F.floor((F.col("cum") - F.col("n_tok")) / 512)
                != F.floor((F.col("cum") - 1) / 512))
    n_seq = F.ceil(F.sum("n_tok") / 512.0)
    return (packed
            .groupBy("source")
            .agg(F.sum("n_tok").alias("total_tokens"),
                 n_seq.alias("n_sequences"),
                 F.count_if(straddle).alias("n_straddle_docs"),
                 rnd(F.sum("n_tok") / (n_seq * 512.0), 6)
                 .alias("fill_ratio")))


@register("pipeline_training_mix", f"""
WITH dedup AS (
    SELECT * FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) = 1
),
train AS (SELECT * FROM dedup WHERE doc_id % 20 <> 0),
ng AS (
    SELECT doc_id, unnest(list_distinct(
        [array_to_string(l[i:i+7], ' ')
         FOR i IN generate_series(1, greatest(len(l) - 7, 1))])) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
contaminated AS (
    SELECT DISTINCT tr.doc_id
    FROM ng tr JOIN ev ON tr.g = ev.g
    WHERE tr.doc_id % 20 <> 0
),
clean AS (
    SELECT t.*,
           len(string_split(t.text, ' ')) AS n_tokens,
           {_STOP_DUCK.replace('text', 't.text')} AS n_stop
    FROM train t ANTI JOIN contaminated c ON t.doc_id = c.doc_id
),
gated AS (SELECT * FROM clean WHERE n_tokens >= 40 AND n_stop >= 2),
sampled AS (
    SELECT * FROM gated
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY md5(doc_id::VARCHAR))
            <= ceil(count(*) OVER (PARTITION BY lang) * 0.2)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       ceil(sum(n_tokens) / 512.0)::BIGINT AS n_sequences
FROM sampled GROUP BY source
""")
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-to-training-mix pipeline as ONE Spark plan:
    exact dedup → drop the held-out eval docs → benchmark
    decontamination (8-gram overlap, eval n-grams broadcast) → quality
    gate (token band + stopword floor) → 20% stratified sample per
    language → per-source packing budget (docs, tokens, sequences).

    Every stage is individually oracled elsewhere (`dedup_exact`,
    `dedup_decontaminate`, `pipeline_llm_prep`, `sample_stratified`,
    `pipeline_seq_pack`); this operator pins their COMPOSITION —
    the order matters (dedup before sampling, decontaminate before the
    gate) and the end-to-end result is what a user actually ships. The
    dedup window / lang window / final agg are the only wide stages.

    The decontamination join carries NO broadcast hint (r5 verdict
    note 5, closed r6): AQE sizes the eval-n-gram side at runtime —
    a fixed MB-scale benchmark suite broadcasts (verified in
    tests/test_plans.py: the executed plan at fixture scale is a
    BroadcastHashJoin), while a corpus-fraction eval split degrades
    to the shuffle shape of `dedup_decontaminate` instead of OOMing
    the driver. Same-session A/B at 4×: 2.59 s hinted →
    2.65 s unhinted (parity within noise; BASELINE.md r6).
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    dedup = (d.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).drop("rn"))
    train = dedup.filter(F.col("doc_id") % 20 != 0)

    from manual_data_ingest_spark.operators.dedup import ngrams

    ng = ngrams(d, 8, F.explode, "g")
    ev = ng.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    contaminated = (ng.filter(F.col("doc_id") % 20 != 0)
                    .join(ev, "g")
                    .select("doc_id").distinct())

    toks = F.split("text", " ")
    clean = (train.join(contaminated, "doc_id", "left_anti")
             .withColumn("n_tokens", F.size(toks))
             .withColumn("n_stop", F.expr(_STOP_SPARK)))
    gated = clean.filter((F.col("n_tokens") >= 40) & (F.col("n_stop") >= 2))

    # r10: the 20% proportional per-lang sample is a FULL ranking (the
    # cut is a fraction of the partition, so no group-limit pushdown
    # applies) — ride the partitioned rank primitive instead of one
    # window task per lang; buckets come from the md5 hex prefix
    # (monotone in the string order), the exact sort stays on the full
    # digest, and n_lang arrives from the same per-bucket counts
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_partitioned_rank)

    ordered = gated.withColumn("_ord", F.md5(F.col("doc_id").cast("string")))
    sampled = (with_exact_partitioned_rank(
        ordered, ["lang"], "_ord", ["doc_id"], rank_col="rn",
        total_col="n_lang",
        bucket_proxy=F.expr(
            "cast(conv(substring(_ord, 1, 15), 16, 10) as bigint)"))
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") * 0.2)))
    return (sampled.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.ceil(F.sum("n_tokens") / 512.0).alias("n_sequences")))


@register("pipeline_rag_index", f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), c AS (
  SELECT doc_id, source,
         (s // 40)::INT AS chunk_idx,
         len(l[s+1:s+50]) AS n_toks,
         md5(array_to_string(l[s+1:s+50], ' ')) AS chunk_md5
  FROM w, unnest(generate_series(0, greatest(len(l) - 1, 0), 40)) AS g(s)
), k AS (
  SELECT *, row_number() OVER (PARTITION BY chunk_md5
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT source,
       count(*) AS n_chunks,
       count(*) FILTER (rn = 1) AS n_indexed,
       {sql_rnd("1.0 - count(*) FILTER (rn = 1)::DOUBLE / count(*)", 6)}
           AS dup_frac,
       (sum(n_toks) FILTER (rn = 1))::BIGINT AS indexed_toks
FROM k GROUP BY source
""")
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RAG-indexing pipeline: overlap-chunk every document
    (50-token windows, stride 40), exact-dedup the chunks CORPUS-WIDE
    by content digest (first occurrence in (doc_id, position) order
    wins), and report per-source index volume — the everything-before-
    the-embedding-model slice of a retrieval build.

    One fused plan: map-only chunking rides the scan, the dedup window
    is the single content-digest shuffle, and the per-source rollup
    partial-aggregates. The n_indexed chunks (≈ corpus minus
    boilerplate) are exactly the rows a 100 TB pipeline would hand to
    the embedding stage — dedup BEFORE embedding is the cost lever:
    every duplicate chunk dropped here saves a GPU call downstream.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", F.split("text", " ").alias("l"))
    starts = F.expr("sequence(0, greatest(size(l) - 1, 0), 40)")
    c = (base.select("doc_id", "source", F.explode(starts).alias("s"), "l")
         .select("doc_id", "source",
                 (F.col("s") / 40).cast("int").alias("chunk_idx"),
                 F.size(F.expr("slice(l, s + 1, 50)")).alias("n_toks"),
                 F.md5(F.concat_ws(" ", F.expr("slice(l, s + 1, 50)")))
                 .alias("chunk_md5")))
    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
    k = c.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, 1)
    return (k.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count(kept).alias("n_indexed"),
        rnd(1.0 - F.count(kept).cast("double") / F.count("*"), 6)
        .alias("dup_frac"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_toks")))
        .alias("indexed_toks")))


@register("pipeline_incremental_refresh", f"""
WITH old AS (
  SELECT doc_id, md5(text) AS sig,
         length(text) AS score            -- previously materialized metric
  FROM documents WHERE doc_id % 10 <> 0
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' refreshed'
              ELSE text END AS text
  FROM documents
), diff AS (
  SELECT n.doc_id, n.text,
         CASE WHEN o.sig IS NULL THEN 'added'
              WHEN md5(n.text) <> o.sig THEN 'changed'
              ELSE 'unchanged' END AS status,
         o.score AS old_score
  FROM new n LEFT JOIN old o ON n.doc_id = o.doc_id
), refreshed AS (
  SELECT doc_id, status,
         CASE WHEN status = 'unchanged' THEN old_score
              ELSE length(text) END AS score
  FROM diff
)
SELECT status,
       count(*) AS n_docs,
       (sum(score))::BIGINT AS score_sum
FROM refreshed GROUP BY status
""")
def pipeline_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed incremental corpus refresh: manifest diff → selective
    recompute → merge. Previously materialized per-doc metrics are
    REUSED for unchanged docs (the overwhelming majority at 100 TB);
    only `added`/`changed` docs re-run the metric, and the merged
    relation is exactly what a full recompute would produce — the
    refresh==recompute law `ingest_incremental_agg` pins for
    aggregates, here at the per-document pipeline level.

    One hash join on the doc key decides everything; the expensive
    metric (stand-in: length; in production the full `text_*` +
    dedup battery) runs over ~24 % of the corpus (1/10 added + 1/7
    changed). The composition is the point: `ingest_manifest_diff`
    (what changed) + `pipeline_llm_prep`-class scoring (recompute) +
    `sink_merge_upsert` semantics (merge) in one plan.
    """
    d = load_table(spark, sf_dir, "documents")
    old = (d.filter(F.col("doc_id") % 10 != 0)
           .select("doc_id", F.md5("text").alias("sig"),
                   F.length("text").alias("old_score")))
    new = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" refreshed")))
        .otherwise(F.col("text")).alias("text"))
    diff = (new.join(old, "doc_id", "left")
            .withColumn("status",
                        F.when(F.col("sig").isNull(), "added")
                        .when(F.md5("text") != F.col("sig"), "changed")
                        .otherwise("unchanged")))
    refreshed = diff.select(
        "status",
        F.when(F.col("status") == "unchanged", F.col("old_score"))
        .otherwise(F.length("text")).alias("score"))
    return (refreshed.groupBy("status")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("score").alias("score_sum")))


@register("pipeline_feature_store", """
WITH snaps AS (
  SELECT unnest([TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22',
                 TIMESTAMP '2024-01-29']) AS snap
), ev AS (
  SELECT user_id, ts::TIMESTAMP AS ts, event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
), feat AS (
  SELECT e.user_id, s.snap,
         count(*) AS frequency,
         sum(e.cents) AS monetary_c,
         min(CAST(date_diff('day', e.ts, s.snap) AS BIGINT)) AS recency_days,
         sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM ev e JOIN snaps s ON e.ts < s.snap
  GROUP BY e.user_id, s.snap
), lab AS (
  SELECT e.user_id, s.snap, count(*) AS n_purch
  FROM ev e JOIN snaps s
    ON e.event_type = 'purchase'
   AND e.ts >= s.snap AND e.ts < s.snap + INTERVAL 7 DAY
  GROUP BY e.user_id, s.snap
)
SELECT f.user_id,
       strftime(f.snap, '%Y-%m-%d') AS snapshot,
       CAST(f.frequency AS BIGINT) AS frequency,
       CAST(f.monetary_c AS BIGINT) AS monetary_cents,
       f.recency_days,
       floor(CAST(f.n_err AS DOUBLE) / f.frequency * 1000000.0 + 0.5)
           / 1000000.0 AS error_rate,
       CASE WHEN l.n_purch IS NULL THEN 0 ELSE 1 END AS label
FROM feat f
LEFT JOIN lab l ON l.user_id = f.user_id AND l.snap = f.snap
""")
def pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store training-table build with POINT-IN-TIME
    correctness: three weekly snapshot dates; per (user, snapshot) the
    RFM features (frequency, monetary, recency, error rate) aggregate
    ONLY events strictly before the snapshot, and the label (purchase
    within the following 7 days) only events after — the leakage bug
    this pipeline exists to prevent is features computed "as of now"
    against labels from the past.

    Scale shape: the snapshot spine is a 3-row broadcast; each event
    row fans out only to the snapshots it precedes (≤ |snaps| copies —
    a bounded multiplier, not a range-join explosion) and both the
    feature and label aggregates ride one (user, snap) distribution.
    At 100 TB with hundreds of snapshots the fan-out bound is the
    retention window (events only feed snapshots within their horizon).

    Everything emitted is exact-integer arithmetic (counts, cents,
    date diffs) except the error rate — one rounded division.
    """
    from manual_data_ingest_spark.io import load_events

    ev = (load_events(spark, sf_dir)
          .select("user_id", "ts", "event_type",
                  F.floor(F.col("value") * 100.0 + 0.5).cast("long")
                  .alias("cents")))
    snaps = spark.createDataFrame(
        [("2024-01-15",), ("2024-01-22",), ("2024-01-29",)], ["s"]
    ).select(F.to_timestamp("s").alias("snap"))

    feat = (ev.join(F.broadcast(snaps), F.col("ts") < F.col("snap"))
            .groupBy("user_id", "snap")
            .agg(F.count("*").alias("frequency"),
                 F.sum("cents").alias("monetary_c"),
                 F.min(F.datediff(F.col("snap"), F.col("ts")).cast("long"))
                 .alias("recency_days"),
                 F.sum(F.when(F.col("event_type") == "error", 1)
                       .otherwise(0)).alias("n_err")))
    lab = (ev.filter(F.col("event_type") == "purchase")
           .join(F.broadcast(snaps),
                 (F.col("ts") >= F.col("snap"))
                 & (F.col("ts") < F.col("snap") + F.expr("INTERVAL 7 DAYS")))
           .groupBy("user_id", "snap")
           .agg(F.count("*").alias("n_purch")))
    return (feat.join(lab, ["user_id", "snap"], "left")
            .select("user_id",
                    F.date_format("snap", "yyyy-MM-dd").alias("snapshot"),
                    "frequency",
                    F.col("monetary_c").alias("monetary_cents"),
                    "recency_days",
                    rnd(F.col("n_err").cast("double") / F.col("frequency"),
                        6).alias("error_rate"),
                    F.when(F.col("n_purch").isNull(), 0).otherwise(1)
                    .alias("label")))


@register("pipeline_attribution", """
WITH purch AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS pts,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts::TIMESTAMP AS tts, event_type, event_id AS touch_id
  FROM events WHERE event_type IN ('click', 'view', 'signup')
), attributed AS (
  SELECT event_id, cents, event_type FROM (
    SELECT p.event_id, p.cents, t.event_type,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY t.tts DESC, t.touch_id) AS rn
    FROM purch p
    JOIN touch t ON t.user_id = p.user_id
                AND t.tts < p.pts
                AND t.tts >= p.pts - INTERVAL 1 HOUR
  ) WHERE rn = 1
), base AS (
  SELECT count(*) AS n_purchases,
         sum(cents) AS total_cents
  FROM purch
)
SELECT a.event_type AS channel,
       count(*) AS n_attributed,
       floor(CAST(sum(a.cents) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
           AS attributed_revenue,
       floor(CAST(count(*) AS DOUBLE)
             / (SELECT n_purchases FROM base) * 1000000.0 + 0.5)
           / 1000000.0 AS purchase_share
FROM attributed a
GROUP BY a.event_type
""")
def pipeline_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's revenue is
    credited to the LAST click/view/signup by the same user within the
    preceding hour; per-channel attributed revenue and purchase share.
    The composition is the backward as-of join (`join_asof` semantics)
    feeding a channel rollup — the attribution job every
    events-warehouse runs, expressed in the engine's existing
    primitives.

    Determinism: the as-of pick tie-breaks (touch ts DESC, touch id);
    revenue is exact integer cents; the share is an exact-int ratio.

    100 TB: user_id carries the shuffle, the 1-hour band bounds the
    per-purchase candidate fan-out (without it, last-touch degenerates
    to per-user cross products — the same load-bearing tolerance as
    the as-of trio), and the per-purchase window collapses candidates
    before the channel aggregate.
    """
    from manual_data_ingest_spark.io import load_events

    ev = load_events(spark, sf_dir)
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", F.col("ts").alias("pts"),
                     F.floor(F.col("value") * 100.0 + 0.5).cast("long")
                     .alias("cents")))
    touch = (ev.filter(F.col("event_type").isin("click", "view", "signup"))
             .select(F.col("user_id").alias("t_user"),
                     F.col("ts").alias("tts"), "event_type",
                     F.col("event_id").alias("touch_id")))
    w = Window.partitionBy("event_id").orderBy(
        F.col("tts").desc(), F.col("touch_id"))
    attributed = (purch.join(
        touch, (F.col("t_user") == F.col("user_id"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1))
    base = purch.agg(F.count("*").alias("n_purchases"))
    return (attributed.groupBy(F.col("event_type").alias("channel"))
            .agg(F.count("*").alias("n_attributed"),
                 rnd(F.sum("cents").cast("double") / 100.0)
                 .alias("attributed_revenue"))
            .crossJoin(F.broadcast(base))
            .select("channel", "n_attributed", "attributed_revenue",
                    rnd(F.col("n_attributed").cast("double")
                        / F.col("n_purchases"), 6).alias("purchase_share")))


def _bpe_cte(iters: int) -> str:
    """Shared WITH-chain of the BPE merge loop (used by the trainer AND
    the encoder oracle): each iteration counts adjacent token pairs,
    picks the (count DESC, pair ASC) winner, and rewrites the corpus
    with the pair fused."""
    parts = ["WITH d0 AS (SELECT doc_id, ' ' || text || ' ' AS t FROM documents)"]
    for i in range(1, iters + 1):
        parts.append(f""", c{i} AS (
    SELECT pair, count(*) AS cnt FROM (
        SELECT unnest([l[j] || ' ' || l[j+1]
                       for j in generate_series(1, len(l) - 1)]) AS pair
        FROM (SELECT string_split(trim(t), ' ') AS l FROM d{i-1})
        WHERE len(l) >= 2)
    GROUP BY pair
), t{i} AS (
    SELECT pair, cnt FROM c{i} ORDER BY cnt DESC, pair LIMIT 1
), d{i} AS (
    SELECT doc_id,
           replace(t, ' ' || pair || ' ',
                   ' ' || replace(pair, ' ', '_') || ' ') AS t
    FROM d{i-1}, t{i}
)""")
    return "".join(parts)


def _bpe_oracle(iters: int) -> str:
    """Unrolled DuckDB twin of BPE training: the learned merge table."""
    sel = "\nUNION ALL ".join(
        f"SELECT {i} AS iteration, pair AS merged_pair, cnt FROM t{i}"
        for i in range(1, iters + 1))
    return _bpe_cte(iters) + "\n" + sel


def _bpe_encode_oracle(iters: int) -> str:
    """Unrolled DuckDB twin of BPE ENCODING: the corpus after the same
    merge chain, reduced to per-doc token statistics."""
    return _bpe_cte(iters) + f"""
SELECT d.doc_id,
       len(string_split(trim(s.text), ' ')) AS n_tok_raw,
       len(string_split(trim(d.t), ' ')) AS n_tok_enc,
       len(list_filter(string_split(trim(d.t), ' '),
                       x -> contains(x, '_'))) AS n_merged
FROM d{iters} d JOIN documents s USING (doc_id)"""


_BPE_ITERS = 3


@register("pipeline_bpe_train", _bpe_oracle(_BPE_ITERS))
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style tokenizer training over the corpus: ``_BPE_ITERS``
    rounds of (count adjacent token pairs globally) → (merge the most
    frequent pair corpus-wide) → repeat; emits the learned merge table
    (iteration, pair, frequency) — the core loop of byte-pair-encoding
    vocabulary construction, run as pure DataFrame algebra.

    Deterministic merge rule: winner = (count DESC, pair ASC); the
    rewrite is single-delimiter string replacement, which both engines
    scan LEFT-TO-RIGHT NON-OVERLAPPING with the matched text consumed
    (probe-verified identical on ``' a b a b '`` and ``' a a a '``) —
    alternating repeats merge conservatively, identically on both
    engines. Each round's top-1 is a 1-row broadcast into the next
    rewrite — the full loop stays ONE lazy plan, no driver collect.

    100 TB: per round = one explode + one partial-agg shuffle of (pair,
    count) partials + a 1-row broadcast; rounds compose linearly. This
    is exactly how production BPE trainers distribute (pair-count
    reduce, driver-side argmax of a TINY aggregate, broadcast rule) —
    with real vocab sizes the argmax batches the top-k pairs per round
    instead of top-1.
    """
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select("doc_id", F.concat(F.lit(" "), "text", F.lit(" "))
                      .alias("t"))
    merges = []
    for i in range(1, _BPE_ITERS + 1):
        toks = cur.select(F.split(F.trim("t"), " ").alias("l"))
        pairs = (toks.filter(F.size("l") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(1, size(l) - 1),"
                     " j -> concat(element_at(l, j), ' ',"
                     " element_at(l, j + 1)))")).alias("pair")))
        counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
        top1 = counts.orderBy(F.col("cnt").desc(), "pair").limit(1)
        merges.append(top1.select(F.lit(i).alias("iteration"),
                                  F.col("pair").alias("merged_pair"),
                                  "cnt"))
        cur = (cur.crossJoin(F.broadcast(top1))
               .select("doc_id",
                       F.expr("replace(t, ' ' || pair || ' ',"
                              " ' ' || replace(pair, ' ', '_') || ' ')")
                       .alias("t")))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@register("text_bpe_encode", _bpe_encode_oracle(_BPE_ITERS))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus — the ENCODE half of
    the ``pipeline_bpe_train`` pair (a tokenizer you can only train but
    not apply is half a tokenizer). Re-derives the same ``_BPE_ITERS``
    (count DESC, pair ASC) merges as the trainer (each round's winner is
    a 1-row broadcast into the next rewrite, the whole chain one lazy
    plan) and emits per-doc encoding stats: raw token count, encoded
    token count, and how many encoded tokens are merged units
    (underscore-fused — the fixture corpus is underscore-free, so the
    count is exactly the applied merges).

    100 TB: encoding with a FIXED merge table is embarrassingly
    parallel (map-only rewrite per document); here the merges are
    re-derived in-plan to stay self-contained, adding the trainer's
    per-round pair-count shuffles. Production splits the two: train
    once, broadcast the merge list, encode map-only — exactly how the
    plan decomposes (the final three rewrites + stats are shuffle-free).
    """
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select("doc_id", F.concat(F.lit(" "), "text", F.lit(" "))
                      .alias("t"))
    for _ in range(_BPE_ITERS):
        toks = cur.select(F.split(F.trim("t"), " ").alias("l"))
        pairs = (toks.filter(F.size("l") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(1, size(l) - 1),"
                     " j -> concat(element_at(l, j), ' ',"
                     " element_at(l, j + 1)))")).alias("pair")))
        top1 = (pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "pair").limit(1))
        cur = (cur.crossJoin(F.broadcast(top1))
               .select("doc_id",
                       F.expr("replace(t, ' ' || pair || ' ',"
                              " ' ' || replace(pair, ' ', '_') || ' ')")
                       .alias("t")))
    enc = cur.select("doc_id", F.split(F.trim("t"), " ").alias("l"))
    raw = docs.select("doc_id",
                      F.size(F.split(F.trim("text"), " ")).alias("n_tok_raw"))
    return (raw.join(enc, "doc_id")
            .select("doc_id", "n_tok_raw",
                    F.size("l").alias("n_tok_enc"),
                    F.size(F.filter("l", lambda x: x.contains("_")))
                    .alias("n_merged")))


_TES_BUCKET_DUCK = "('0x' || substr(md5(doc_id::VARCHAR || '|nbsplit'), 1, 4))::INT % 10"
_TES_BUCKET_SPARK = ("cast(conv(substring(md5(concat(cast(doc_id as string),"
                     " '|nbsplit')), 1, 4), 16, 10) as int) % 10")


@register("pipeline_train_eval_split", f"""
WITH tagged AS MATERIALIZED (
    SELECT doc_id, lang, text,
           CASE WHEN {_TES_BUCKET_DUCK} <= 7 THEN 'train' ELSE 'test' END
               AS split
    FROM documents
), tok AS MATERIALIZED (
    SELECT doc_id, lang, split, unnest(string_split(text, ' ')) AS token
    FROM tagged
), cls AS MATERIALIZED (
    SELECT lang AS cand, token, count(*) AS cnt FROM tok
    WHERE split = 'train' GROUP BY 1, 2
), tot AS (SELECT cand, sum(cnt)::DOUBLE AS tot FROM cls GROUP BY 1),
vocab AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tok
          WHERE split = 'train'),
langs AS (SELECT DISTINCT lang AS cand FROM tagged WHERE split = 'train'),
priors AS (
    SELECT lang AS cand, ln(count(*)::DOUBLE /
           (SELECT count(*) FROM tagged WHERE split = 'train')) AS logprior
    FROM tagged WHERE split = 'train' GROUP BY lang
), scored AS (
    SELECT t.doc_id, t.lang, l.cand,
           sum(ln((coalesce(c.cnt, 0) + 1.0)
                  / (tt.tot + (SELECT v FROM vocab)))) AS loglik
    FROM tok t
    CROSS JOIN langs l
    LEFT JOIN cls c ON c.cand = l.cand AND c.token = t.token
    JOIN tot tt ON tt.cand = l.cand
    WHERE t.split = 'test'
    GROUP BY t.doc_id, t.lang, l.cand
), pred AS (
    SELECT doc_id, lang, cand AS predicted
    FROM (SELECT s.*, p.logprior + s.loglik AS score FROM scored s
          JOIN priors p ON p.cand = s.cand)
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand) = 1
)
SELECT lang AS actual, predicted, count(*) AS n_docs
FROM pred GROUP BY lang, predicted
""")
def pipeline_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe model evaluation END TO END in one plan: hash-split
    the corpus 80/20 at DOCUMENT granularity (salted, so independent of
    every other doc_id hash in the engine), train the naive-Bayes
    language model ONLY on the train split, score ONLY the held-out
    split, emit the held-out confusion matrix.

    This is `ml_naive_bayes` made honest: resubstitution accuracy
    overstates every model, and the difference between the two
    operators' matrices IS the generalization gap. The split is the
    `sample_train_val_test` hash contract (map-side, reproducible under
    backfills); training state stays broadcastable aggregates; the test
    corpus never shuffles. The composition order — split BEFORE any
    training statistic — is the contract the leakage bug violates.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_TES_BUCKET_SPARK)
    tagged = d.select(
        "doc_id", "lang", "text",
        F.when(bucket <= 7, "train").otherwise("test").alias("split"))
    tok = tagged.select("doc_id", "lang", "split",
                        F.explode(F.split("text", " ")).alias("token"))
    train_tok = tok.filter(F.col("split") == "train")
    train_docs = tagged.filter(F.col("split") == "train")
    cls = (train_tok.groupBy(F.col("lang").alias("cand"), "token")
           .agg(F.count("*").alias("cnt")))
    tot = cls.groupBy("cand").agg(F.sum("cnt").cast("double").alias("tot"))
    vocab = train_tok.select("token").distinct().agg(
        F.count("*").cast("double").alias("v"))
    n_train = train_docs.agg(F.count("*").alias("n_train"))
    priors = (train_docs.groupBy(F.col("lang").alias("cand"))
              .agg(F.count("*").alias("n_lang"))
              .crossJoin(F.broadcast(n_train))
              .select("cand", F.log(F.col("n_lang").cast("double")
                                    / F.col("n_train")).alias("logprior")))
    langs = train_docs.select(F.col("lang").alias("cand")).distinct()
    scored = (tok.filter(F.col("split") == "test")
              .crossJoin(F.broadcast(langs))
              .join(F.broadcast(cls), ["cand", "token"], "left")
              .join(F.broadcast(tot), "cand")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc_id", "lang", "cand")
              .agg(F.sum(F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                               / (F.col("tot") + F.col("v"))))
                   .alias("loglik")))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("logprior") + F.col("loglik")).desc(), F.col("cand"))
    pred = (scored.join(F.broadcast(priors), "cand")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    return (pred.groupBy(F.col("lang").alias("actual"),
                         F.col("cand").alias("predicted"))
            .agg(F.count("*").alias("n_docs")))


@register("pipeline_filter_funnel", f"""
WITH scored AS (
  SELECT doc_id, source,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
         CASE WHEN text IS NULL OR length(text) < 40 THEN 'r1_too_short'
              WHEN lang NOT IN ('en', 'de', 'fr') THEN 'r2_lang'
              WHEN (length(text) - length(replace(text, ' ', '')) + 1) < 20
                  THEN 'r3_too_few_words'
              WHEN ('0x' || substr(md5(text), 1, 4))::INT % 20 = 0
                  THEN 'r4_sampled_out'
              ELSE 'kept' END AS verdict
  FROM documents
)
SELECT verdict,
       count(*) AS n_docs,
       {sql_rnd('count(*)::DOUBLE / sum(count(*)) OVER ()', 6)} AS share
FROM scored GROUP BY verdict
""")
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel attribution: run the cleaning cascade (min length →
    language allowlist → min words → hash downsample) as ONE CASE
    expression that records WHICH rule dropped each document — per-rule
    drop counts and shares. When a corpus shrinks 40% overnight, this
    table says which rule did it; a pipeline of bare `.filter()`s
    cannot (the drops are indistinguishable).

    First-match-wins ordering makes attribution exclusive (a short
    German doc counts as 'too_short', not 'lang'), mirroring the
    real cascade's short-circuit. Map-side verdict + one bounded-key
    agg; the denominator is a window sum over the ≤5 GROUPED rows (ONE scan — the broadcast-scalar variant re-scanned documents for the total; A/B at 4×: 0.31 s → 0.06 s). The kept-set itself is
    the same predicate composed — this operator is the OBSERVABILITY
    twin the `pipeline_llm_prep` cascade reads.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = (F.length("text")
               - F.length(F.regexp_replace("text", " ", "")) + 1)
    bucket = F.expr(
        "cast(conv(substring(md5(text), 1, 4), 16, 10) as int) % 20")
    verdict = (F.when(F.col("text").isNull()
                      | (F.length("text") < 40), "r1_too_short")
               .when(~F.col("lang").isin("en", "de", "fr"), "r2_lang")
               .when(n_words < 20, "r3_too_few_words")
               .when(bucket == 0, "r4_sampled_out")
               .otherwise("kept"))
    return (d.select(verdict.alias("verdict"))
            .groupBy("verdict")
            .agg(F.count("*").alias("n_docs"))
            .select("verdict", "n_docs",
                    rnd(F.col("n_docs").cast("double")
                        / F.sum("n_docs").over(Window.partitionBy())
                        .cast("double"), 6).alias("share")))


@register("pipeline_eval_pack", """
WITH tagged AS (
  SELECT doc_id, lang, text,
         ('0x' || substr(md5(doc_id::VARCHAR || '|evalpack'), 1, 4))::INT
             % 10 AS bucket
  FROM documents WHERE text IS NOT NULL
), train_digests AS (
  SELECT DISTINCT md5(text) AS th FROM tagged WHERE bucket <= 7
), eligible AS (
  SELECT t.doc_id, t.lang
  FROM tagged t
  WHERE t.bucket = 9
    AND NOT EXISTS (SELECT 1 FROM train_digests d
                    WHERE d.th = md5(t.text))
)
SELECT doc_id, lang, rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR)) AS rk
  FROM eligible
) WHERE rk <= 10
""")
def pipeline_eval_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-pack assembly, the last mile before a benchmark ships:
    take the held-out hash bucket, DROP any doc whose exact content
    also appears in the train buckets (a duplicated doc straddling
    the split would leak eval answers into training — the
    `dedup_decontaminate` failure mode at the split boundary), then
    draw a balanced 10-per-language sample by hash rank.

    Composes three already-oracled stages in ONE plan: salted-hash
    split (`sample_train_val_test`), content-digest anti-join
    (`dedup_exact`'s key, broadcast from the small eval side's
    perspective — the digest set shuffles, never the text), and
    per-stratum hash-rank sampling (`sample_stratified`). Everything
    is engine-reproducible: re-running after a backfill mints the
    SAME eval pack unless content actually changed.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    bucket = F.expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string),"
        " '|evalpack')), 1, 4), 16, 10) as int) % 10")
    tagged = d.select("doc_id", "lang", "text", bucket.alias("bucket"))
    train_digests = (tagged.filter(F.col("bucket") <= 7)
                     .select(F.md5("text").alias("th")).distinct())
    eligible = (tagged.filter(F.col("bucket") == 9)
                .withColumn("th", F.md5("text"))
                .join(train_digests, "th", "left_anti")
                .select("doc_id", "lang"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")))
    return (eligible.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("doc_id", "lang", "rk"))


@register("pipeline_preference_pairs", """
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk_top,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars ASC, doc_id) AS rk_bot,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents WHERE text IS NOT NULL
)
SELECT t.lang, t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.n_chars AS chosen_chars, b.n_chars AS rejected_chars, t.rk_top AS pair_rank
FROM (SELECT * FROM scored WHERE rk_top <= 3 AND n_lang >= 10) t
JOIN (SELECT * FROM scored WHERE rk_bot <= 3 AND n_lang >= 10) b
  ON b.lang = t.lang AND b.rk_bot = t.rk_top
WHERE t.doc_id <> b.doc_id
""")
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly (DPO/RLHF data prep): per language,
    pair the 3 highest-quality documents (chosen) with the 3 lowest
    (rejected), matched by rank — the contrastive training pairs a
    reward model or DPO run consumes. Quality here is the length
    proxy; in production the ORDER BY is the reward-model score and
    the plan is unchanged — which is the point: pair minting is a
    WINDOW SPEC, not bespoke code.

    Deterministic under re-runs: (score, doc_id) total order, no
    sampling. r10 scale restructure: the r5 form computed BOTH rank
    directions plus the partition count as three window columns over
    one select — elegant, but three window specs defeat Spark's
    group-limit pushdown, so each lang's WHOLE population rode one
    window task. Split form: each direction is a lone
    row_number ≤ 3 filter (InferWindowGroupLimit prunes to 3 rows per
    input partition BEFORE the lang shuffle) and the ≥10-docs stratum
    guard arrives as a broadcast per-lang aggregate — the window
    tasks now carry O(partitions × 3) rows at any scale.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    scored = d.select("doc_id", "lang", "n_chars")
    counts = (scored.groupBy("lang").agg(F.count("*").alias("n_lang"))
              .filter(F.col("n_lang") >= 10).drop("n_lang"))
    wt = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    wb = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), "doc_id")
    t = (scored.withColumn("rk_top", F.row_number().over(wt))
         .filter(F.col("rk_top") <= 3)
         .join(F.broadcast(counts), "lang")
         .select("lang", F.col("doc_id").alias("chosen_id"),
                 F.col("n_chars").alias("chosen_chars"),
                 F.col("rk_top").alias("pair_rank")))
    b = (scored.withColumn("rk_bot", F.row_number().over(wb))
         .filter(F.col("rk_bot") <= 3)
         .join(F.broadcast(counts), "lang")
         .select("lang", F.col("doc_id").alias("rejected_id"),
                 F.col("n_chars").alias("rejected_chars"),
                 F.col("rk_bot").alias("pair_rank")))
    return (t.join(b, ["lang", "pair_rank"])
            .filter(F.col("chosen_id") != F.col("rejected_id"))
            .select("lang", "chosen_id", "rejected_id",
                    "chosen_chars", "rejected_chars", "pair_rank"))


@register("pipeline_dataset_card", f"""
WITH docs AS (
  SELECT doc_id, lang, source, n_chars, md5(text) AS th,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_words
  FROM documents WHERE text IS NOT NULL
), dups AS (
  SELECT count(*) - count(DISTINCT th) AS n_dup_rows FROM docs
)
SELECT count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       sum(n_words)::BIGINT AS total_words,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       {sql_rnd('avg(n_chars::DOUBLE)', 2)} AS avg_chars,
       (SELECT n_dup_rows FROM dups)::BIGINT AS n_exact_dup_rows,
       CASE WHEN count(*) > 0 THEN
         {sql_rnd('(SELECT n_dup_rows FROM dups)::DOUBLE / count(*)', 6)}
       END AS dup_rate
FROM docs
""")
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card — the README table of a corpus release:
    sizes, language/source diversity, length profile, and the exact-
    duplicate rate. Every number a consumer checks before training on
    a published dataset, produced by the SAME engine that built it
    (a card generated by a different tool than the pipeline is how
    cards drift from reality).

    One pass computes every non-distinct stat as fused partial
    aggregates; the duplicate count is the lone extra aggregate
    (count − distinct digests, 32-byte keys). At 100 TB the two exact
    distincts (lang, source) are dim-cardinality and the digest
    distinct swaps for `agg_hll_partitioned`'s sketch with the error
    bound printed ON the card.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    n_words = (F.length("text")
               - F.length(F.regexp_replace("text", " ", "")) + 1)
    docs = d.select("doc_id", "lang", "source", "n_chars",
                    F.md5("text").alias("th"), n_words.alias("n_words"))
    dups = docs.agg((F.count("*") - F.countDistinct("th"))
                    .alias("n_dup_rows"))
    card = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_words").alias("total_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        rnd(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"))
    return (card.join(F.broadcast(dups))
            .select("n_docs", "n_langs", "n_sources", "total_words",
                    "min_chars", "max_chars", "avg_chars",
                    F.col("n_dup_rows").alias("n_exact_dup_rows"),
                    # 0/0 crashes under ANSI on the empty corpus
                    F.when(F.col("n_docs") > 0,
                           rnd(F.col("n_dup_rows").cast("double")
                               / F.col("n_docs"), 6))
                    .alias("dup_rate")))


_ABLATE_SETS = (
    ("none", ()), ("len", ("f_len",)), ("tok_len", ("f_tok",)),
    ("stop", ("f_stop",)), ("len+tok_len", ("f_len", "f_tok")),
    ("len+stop", ("f_len", "f_stop")),
    ("tok_len+stop", ("f_tok", "f_stop")),
    ("all", ("f_len", "f_tok", "f_stop")),
)


def _ablation_oracle() -> str:
    flags = f"""
SELECT len(string_split(text, ' ')) AS n_tokens,
       (len(string_split(text, ' ')) BETWEEN 40 AND 100000) AS f_len,
       (list_sum(list_transform(string_split(text, ' '), x -> length(x)))
            ::DOUBLE / len(string_split(text, ' '))
        BETWEEN 3 AND 10) AS f_tok,
       ({_STOP_DUCK} >= 2) AS f_stop
FROM documents
"""
    branches = []
    for name, fs in _ABLATE_SETS:
        cond = " AND ".join(fs) if fs else "TRUE"
        branches.append(f"""
SELECT '{name}' AS filter_set,
       count(*) FILTER (WHERE {cond})::BIGINT AS n_docs,
       coalesce(sum(n_tokens) FILTER (WHERE {cond}), 0)::BIGINT AS n_tokens,
       CASE WHEN count(*) > 0 THEN
         {sql_rnd('count(*) FILTER (WHERE ' + cond + ')::DOUBLE / count(*)', 4)}
       END AS pct_docs_kept
FROM f""")
    return (f"WITH f AS MATERIALIZED ({flags})"
            + " UNION ALL ".join(branches))


@register("pipeline_quality_filter_ablation", _ablation_oracle())
def pipeline_quality_filter_ablation(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Quality-filter ABLATION table: for each of the 8 subsets of the
    three `text_quality` rules (length band, mean-token-length band,
    stopword minimum), how many documents and tokens survive applying
    that subset — the measurement a curation run does BEFORE
    committing a filter stack to a 100 TB pass (is `stop` dropping 40%
    of tokens for nothing? does `len` subsume it?). DataComp/Gopher-
    style filter ablations are exactly this table, minus the GPU evals.

    Shape: ONE scan computes the three per-doc booleans map-side
    (whole-stage codegen, no shuffle); all 8 subset counts are
    conditional aggregates of the SAME one-row reduction — the scan is
    never repeated (plan-asserted: tests/test_plans.py pins a single
    documents scan); the 8 output rows fan out of the one-row
    aggregate via the `ingest_validate` map-explode pattern. The
    token sums are exact integers; pct is one fixed IEEE division.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    char_sum = F.aggregate(F.transform(toks, F.length), F.lit(0),
                           lambda acc, v: acc + v)
    avg_tok = char_sum.cast("double") / n_tok
    flags = d.select(
        n_tok.alias("n_tokens"),
        ((n_tok >= 40) & (n_tok <= 100000)).alias("f_len"),
        ((avg_tok >= 3) & (avg_tok <= 10)).alias("f_tok"),
        (F.expr(_STOP_SPARK) >= 2).alias("f_stop"))
    aggs = [F.count("*").alias("total")]
    for name, fs in _ABLATE_SETS:
        cond = F.lit(True)
        for fcol in fs:
            cond = cond & F.col(fcol)
        aggs.append(F.count(F.when(cond, 1)).alias(f"d_{name}"))
        aggs.append(F.coalesce(F.sum(F.when(cond, F.col("n_tokens"))),
                               F.lit(0)).cast("long").alias(f"t_{name}"))
    one = flags.agg(*aggs)
    rows = F.explode(F.array(*[
        F.struct(F.lit(name).alias("filter_set"),
                 F.col(f"d_{name}").alias("n_docs"),
                 F.col(f"t_{name}").alias("n_tokens"))
        for name, _ in _ABLATE_SETS])).alias("r")
    return (one.select(rows, F.col("total"))
            .select(F.col("r.filter_set").alias("filter_set"),
                    F.col("r.n_docs").alias("n_docs"),
                    F.col("r.n_tokens").alias("n_tokens"),
                    F.when(F.col("total") > 0,
                           rnd(F.col("r.n_docs").cast("double")
                               / F.col("total"), 4))
                    .alias("pct_docs_kept")))


@register("pipeline_curriculum_order_scalable", f"""
WITH q AS (
    SELECT doc_id,
           CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(length(string_split(text, ' ')) AS DOUBLE) AS ttr
    FROM documents
), b AS (
    SELECT doc_id, ttr,
           ntile(4) OVER (ORDER BY ttr DESC, doc_id) AS bucket
    FROM q
)
SELECT doc_id, bucket, {sql_rnd('ttr', 4)} AS quality,
       row_number() OVER (PARTITION BY bucket
                          ORDER BY md5(doc_id::VARCHAR), doc_id)
           AS seq_in_bucket
FROM b
""")
def pipeline_curriculum_order_scalable(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Curriculum ordering for LLM training: documents scored by a
    deterministic quality proxy (type-token ratio — the fixture docs
    are word-soup, so richer heuristics reduce to this), quartiled
    into curriculum buckets (bucket 1 = cleanest first), then
    deterministically SHUFFLED within each bucket by md5(doc_id) —
    the `sample_epoch_shuffle` move, so a training run consumes
    quality-ordered phases with no intra-phase ordering bias.

    The oracle's `ntile(4)` would funnel every document through one
    global-sort WindowExec task. Here the quartile comes from the
    distributed exact-rank primitive (functions/ranking.py):
    approx-quantile cuts on the quality score bucket the corpus,
    per-bucket PARTITIONED windows rank locally, cumulative bucket
    offsets restore the exact global rank, and the SQL tile rule
    converts rank → quartile — hash-identical to the serial ntile for
    any cut placement. The intra-phase shuffle (seq_in_bucket) is a
    per-bucket window too, so no stage single-partitions the corpus."""
    from manual_data_ingest_spark.functions.ranking import (
        ntile_from_rank, with_exact_global_rank)

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks).cast("double")).alias("ttr"))
    ranked = with_exact_global_rank(q, "ttr", ["doc_id"],
                                    descending=True, total_col="_n_tot")
    b = ranked.withColumn(
        "bucket", ntile_from_rank(F.col("global_rank"),
                                  F.col("_n_tot"), 4))
    return b.select(
        "doc_id", "bucket", rnd(F.col("ttr"), 4).alias("quality"),
        F.row_number().over(
            Window.partitionBy("bucket")
            .orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")),
                     "doc_id")).alias("seq_in_bucket"))


@register("pipeline_token_shard", """
WITH toks AS (
  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), ranked AS (
  SELECT source, doc_id, n_tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tok DESC, doc_id) - 1 AS r
  FROM toks
), assigned AS (
  SELECT source, n_tok,
         CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS shard
  FROM ranked
)
SELECT source, shard::BIGINT AS shard,
       count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS total_tokens
FROM assigned GROUP BY 1, 2
""")
def pipeline_token_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment for a training dataloader — the
    sizing knob `pipeline_seq_pack` audits, decided: docs are ranked by
    token count within their source and dealt SERPENTINE
    (0..7,7..0,…) across 8 shards — the classic one-pass LPT
    approximation: each 16-doc block contributes once to every shard
    from both ends of the size distribution, so shard token totals
    stay within a block of each other without any sequential greedy
    state. Emits the per-(source, shard) manifest a loader consumes.

    Deterministic: rank on (n_tok DESC, doc_id) — integer keys, no
    float anywhere. Scale: the ranking window partitions by SOURCE
    (stratified sharding — each source spreads over all shards), so
    no global sort exists and sources rank in parallel; at 100 TB a
    skewed single source would swap the exact rank for bucketed ranks
    (`agg_spearman_grid`'s move) with the same serpentine arithmetic.
    Balance quality is pinned in tests/test_unit_operators.py
    (max/min shard token ratio ≤ 1.05 per fixture SF).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (d.filter(F.col("text").isNotNull()
                     & F.col("source").isNotNull())
            .select("source", "doc_id",
                    F.size(F.split("text", " ")).cast("long")
                    .alias("n_tok")))
    # r10: full per-source serpentine rank through the partitioned rank
    # primitive (the docstring's promised "bucketed ranks" swap, now an
    # owned primitive); n_tok is LOW-CARDINALITY so the dominant-tie
    # subdivision rides the doc_id tie-break
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_partitioned_rank)

    toks = with_exact_partitioned_rank(
        toks, ["source"], "n_tok", ["doc_id"], descending=True,
        rank_col="_rnk", tie_proxy=F.col("doc_id"))
    r = F.col("_rnk") - 1
    shard = F.when((r.cast("long") / 8).cast("long") % 2 == 0, r % 8) \
             .otherwise(7 - (r % 8))
    return (toks.withColumn("shard", shard.cast("long"))
            .groupBy("source", "shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens")))
