"""Deduplication operators (SURVEY.md §2.13) — north-star additions.

Exact dedup: normalize → md5 → keep min doc_id per digest. The fixture
has zero exact duplicates, so the operator runs on a self-union (copy
with offset ids) — dedup must demonstrably REMOVE something.

The family (every near-dup strategy a training-data pipeline uses):
- ``dedup_near_jaccard`` (oracled): exact shingle-Jaccard via inverted-
  index POSTING LISTS — one shingle pass, pair expansion per posting,
  map-only doc sizes; J = common / (|A| + |B| - common), integer
  arithmetic + one IEEE division → bit-identical across engines.
  ``dedup_near_jaccard_capped`` adds the stop-shingle df cutoff (with a
  measured caveat — see its docstring).
- ``dedup_near_minhash`` (rows-only): hand-rolled MinHash-LSH —
  per-shingle xxhash64 under 16 seeds → per-doc signature minima →
  4 bands of 4 → band-bucket join → candidate pairs. LSH internals
  aren't portable SQL; the pytest suite pins recall vs Jaccard truth.
- ``dedup_simhash`` (oracled): weighted 32-bit SimHash, pigeonhole
  chunk blocking, hamming ≤ 2.
- ``dedup_embedding`` (oracled): cosine near-dup removal over vectors.
- ``dedup_clusters`` (oracled): connected components over the pair
  graph — iterative min-label propagation vs a recursive-CTE oracle.

Scale: postings shuffle by shingle (frequency-capped when the corpus is
power-law); MinHash shuffles fixed-size signatures instead of raw
postings; banding keeps the bucket join linear in near-dup density;
AQE's skew-join split handles hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manual_data_ingest_spark.io import fan_out, load_table
from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd
from manual_data_ingest_spark.registry import register

_N_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = 4
_OFFSET = 1_000_000  # self-union copy id offset

_SHINGLE_SQL = """
SELECT doc_id, unnest(list_distinct(
         [array_to_string(l[i:i+4], ' ')
          for i in generate_series(1, greatest(len(l) - 4, 1))])) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      WHERE text IS NOT NULL)
"""


def ngrams(df: DataFrame, n: int, fn, name: str) -> DataFrame:
    """``(doc_id, name)``: ``fn`` (``F.explode``, ``F.size``) of the
    distinct ``n``-token windows of ``text`` (one window, the whole
    text, below ``n`` tokens).

    ``text`` is split once, in its own projection. Higher-order functions
    are interpreted, so a ``split`` inside the lambda ran once per window:
    O(tokens²) per document. ``_toks`` is referenced twice below, so
    CollapseProject keeps the split out of the lambda. ``fn`` applies in
    the same select: an explode of a projected array attribute would get
    an inferred ``size(...) > 0`` filter, pushed down with the split
    substituted back in. Both are pinned by
    tests/test_plans.py::test_ngram_kernels_split_text_once."""
    toks = df.select("doc_id", F.split("text", " ").alias("_toks"))
    return toks.select("doc_id", fn(F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))"))).alias(name))


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct 5-token shingles per document.

    NULL text is filtered, and the filter is LOAD-BEARING: without it
    `concat_ws` (which SKIPS null args rather than propagating) turns
    every null-text document into one `''` shingle, so ALL null docs
    share a posting and pair up mutually at jaccard 1.0 — 50 nulls made
    1225 bogus "perfect duplicate" pairs on the r7 null-injected sweep,
    and at 100 TB the blowup is quadratic in the null count. The oracle
    never had the bug (`array_to_string(NULL)` stays NULL and drops);
    its WHERE clause mirrors this filter for definitional parity."""
    # fan_out BEFORE the explode: the shingle transform + explode is the
    # CPU-heavy map stage of every consumer, and the fixture scan is one
    # task (single-row-group parquet) — r12 guard, no-op on well-split
    # input (io.fan_out docstring)
    return ngrams(fan_out(docs.filter(F.col("text").isNotNull())), 5,
                  F.explode, "shingle")


@register("dedup_exact", f"""
WITH all_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_OFFSET} AS doc_id, text FROM documents
)
SELECT doc_id, md5(lower(trim(text))) AS content_md5
FROM all_docs
QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id) = 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-groupBy exact dedup on a self-union (fixture has 0 natural
    # exact dupes); min doc_id per normalized digest wins — one shuffle
    # on the digest, the canonical 100 TB exact-dedup shape.
    # groupBy().min(), NOT the rn=1 window: on a digest key nearly
    # every group is a singleton, so InferWindowGroupLimit's partial
    # group-limit prunes nothing pre-shuffle while the hash aggregate
    # partial-combines map-side AND skips the per-partition sort
    # (A/B at 4×: 0.48 → 0.34 s median-of-5; same rows, BASELINE.md r4)
    # r12: the self-union is an EXPLODE of the two ids per row, not a
    # two-branch union — one scan of documents instead of two, and the
    # digest is computed once per document instead of once per branch
    # (guide §2.4: the union's second scan was a removable pass; same
    # rows by construction — min over {id, id+OFFSET} per digest group).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    both = d.select(
        digest.alias("content_md5"),
        F.explode(F.array(F.col("doc_id"),
                          F.col("doc_id") + _OFFSET)).alias("doc_id"))
    return (both.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "content_md5"))


@register("dedup_near_jaccard", f"""
WITH sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       {sql_rnd('common::DOUBLE / (sa.n + sb.n - common)', 6)} AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
""")
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (5-token shingle) Jaccard near-dup pairs ≥ 0.5 — the
    deterministic companion that verifies the MinHash candidates.

    Inverted-index design (one shingle pass, vs a naive 3-pass
    self-join): postings = groupBy(shingle) → sorted doc list; pairs
    expand per posting as array combinations (|d| choose 2) and
    aggregate to co-occurrence counts; per-doc shingle sizes come from
    a MAP-ONLY pass over documents (no explode, no shuffle) and join
    back broadcast. Shuffles: 1×(shingle), 1×(pair) — the minimum.
    At 100 TB add a posting-frequency cutoff (stop-shingles contribute
    candidates, not precision) before the quadratic expansion.
    """
    d = load_table(spark, sf_dir, "documents")
    return _jaccard_pairs(d, 0.5)


def _jaccard_pairs(d: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard pairs >= threshold (filter on the RAW
    quotient, round-6 only in the output — rounding before the filter
    would admit/reject edge pairs differently from the SQL oracle).

    The posting shuffle keys on ``xxhash64(shingle)`` rather than the
    ~30-byte shingle string: ~4x less shuffle volume and long-vs-long
    grouping comparisons. Measured (median of 3): 3.17 -> 2.78 s at
    sf0.1, 3.73 -> 3.15 s at 4x replicas, ~even at 16x where the
    quadratic pair expansion (not the shuffle) dominates — the shuffle
    -volume win matters most exactly where 100 TB lives, before postings
    get hot. Collisions would merge two postings (2^-64 per pair, ~3e-8
    over a 1M-shingle corpus); the oracle keys on the raw string, so the
    cross-engine hash-equality gate at three SFs IS the collision
    regression check."""
    sh = _shingles(d).select("doc_id", F.xxhash64("shingle").alias("shingle"))
    postings = (sh.groupBy("shingle")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
                .filter(F.size("ds") >= 2))
    pair_arr = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")
    pairs = (postings.select(F.explode(pair_arr).alias("p"))
             .groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
             .agg(F.count("*").alias("common")))
    sizes = ngrams(fan_out(d), 5, F.size, "n")
    jac = F.col("common").cast("double") / (F.col("sa.n") + F.col("sb.n")
                                            - F.col("common"))
    # no broadcast hint on sizes: tiny here, but one-row-per-doc at scale
    # — AQE picks broadcast when it actually fits
    return (pairs
            .join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
            .filter(jac >= threshold)
            .select("id_a", "id_b", rnd(jac, 6).alias("jaccard")))


_SH_BITS = 32          # SimHash width (md5-derived 32-bit token hashes)
_SH_HAMMING = 2        # near-dup threshold
_SH_CHUNKS = 4         # pigeonhole blocking: 4 byte-chunks guarantee any
#                        pair at hamming <= 3 shares at least one exact chunk


def _simhash_fp_sql(hash_expr: str, shift: str,
                    bits: int = _SH_BITS) -> tuple[str, str]:
    """(bit-sum select list, fingerprint expr) for a weighted ``bits``-wide
    SimHash. ``shift`` is the dialect's right-shift spelling with {h}/{b}
    placeholders — Spark ``shiftright(h, b)``, DuckDB ``h >> b``."""
    sums = ", ".join(
        f"sum(cnt * ((({shift.format(h=hash_expr, b=b)}) & 1) * 2 - 1)) AS s{b}"
        for b in range(bits))
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return sums, fp


_SH_DUCK_SUMS, _SH_DUCK_FP = _simhash_fp_sql("h", "({h} >> {b})")
_SH_SPARK_SUMS, _SH_SPARK_FP = _simhash_fp_sql("h", "shiftright({h}, {b})")

#: Wide variant: 60-bit fingerprints (15 md5 hex chars — stays inside
#: signed-positive BIGINT on both engines, unlike the full 64), 4 chunks
#: of 15 bits. Same pigeonhole guarantee (hamming <= 3 shares >= 1 exact
#: chunk) but 2^15 bucket values per chunk instead of 2^8 — 128x fewer
#: random chunk collisions, the knob the narrow variant's scaling table
#: names as "the production lever".
_SHW_BITS = 60
_SHW_HAMMING = 3
_SHW_CHUNKS = 4
_SHW_CHUNK_BITS = 15
_SHW_DUCK_SUMS, _SHW_DUCK_FP = _simhash_fp_sql("h", "({h} >> {b})", _SHW_BITS)
_SHW_SPARK_FP = _simhash_fp_sql("h", "shiftright({h}, {b})", _SHW_BITS)[1]


@register("dedup_simhash", f"""
WITH tok AS (
    SELECT doc_id, count(*) AS cnt,
           ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY doc_id, h
),
sums AS (SELECT doc_id, {_SH_DUCK_SUMS} FROM tok GROUP BY doc_id),
fps AS (SELECT doc_id, {_SH_DUCK_FP} AS fp FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp)) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {_SH_HAMMING}
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (weighted 32-bit, hamming <= 2).

    fingerprint bit b = sign of sum over tokens of
    count(token) * (+1 if bit b of hash(token) else -1); the token hash
    is the first 8 md5 hex chars as an integer (identical in both
    engines, §2.14 md5 parity).

    Scale path (the part the oracle's O(n²) join does NOT do): split the
    fingerprint into 4 byte-chunks — any pair at hamming <= 3 must agree
    exactly on >= 1 chunk (pigeonhole), so candidates come from an
    equi-join on (chunk_idx, chunk_val) and only candidates pay the
    bit_count. Same rows, linear-ish in near-dup density instead of n².
    """
    d = load_table(spark, sf_dir, "documents")
    # One aggregation, not two: sum(cnt * w(h)) over DISTINCT (doc, h)
    # equals sum(w(h)) over token INSTANCES, so the (doc_id, h) count
    # pre-pass (a full extra shuffle over the token stream) is pure
    # overhead — measured 1.38 s → ~0.8 s exec at sf0.1. The oracle
    # keeps the counted form; the integer sums are identical.
    # fan_out: the token explode + md5 + bit-sum partial agg is the
    # CPU-heavy map stage; single-row-group fixture scans are one task
    tok = (fan_out(d)
           .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .select("doc_id",
                   F.expr("cast(conv(substring(md5(token), 1, 8), 16, 10)"
                          " as bigint)").alias("h")))
    fps = (tok.groupBy("doc_id")
           .agg(*[F.expr(f"sum((((shiftright(h, {b})) & 1) * 2 - 1))")
                  .alias(f"s{b}") for b in range(_SH_BITS)])
           .select("doc_id", F.expr(_SH_SPARK_FP).alias("fp")))
    chunks = F.array(*[
        F.struct(F.lit(c).alias("ci"),
                 F.expr(f"(shiftright(fp, {c * 8}) & 255)").alias("cv"))
        for c in range(_SH_CHUNKS)])
    blocked = (fps.select("doc_id", "fp", F.explode(chunks).alias("ch"))
               .select("doc_id", "fp", "ch.ci", "ch.cv"))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.expr("bit_count(a.fp ^ b.fp)")
    # pairs sharing k chunks surface k times; keep only the FIRST
    # matching chunk's copy — a codegen filter instead of a distinct()
    # exchange over the output pairs (measured 1.35 -> 1.06 s at sf0.1,
    # row-identical; the shuffle it removes grows with pair count)
    first_match = "CASE " + " ".join(
        f"WHEN (shiftright(a.fp, {c * 8}) & 255)"
        f" = (shiftright(b.fp, {c * 8}) & 255) THEN {c}"
        for c in range(_SH_CHUNKS)) + " END"
    return (a.join(b, (F.col("a.ci") == F.col("b.ci"))
                   & (F.col("a.cv") == F.col("b.cv"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .filter(ham <= _SH_HAMMING)
            .filter(F.col("a.ci") == F.expr(first_match))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    ham.alias("hamming")))


@register("dedup_simhash_wide", f"""
WITH tok AS (
    SELECT doc_id, count(*) AS cnt,
           ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY doc_id, h
),
sums AS (SELECT doc_id, {_SHW_DUCK_SUMS} FROM tok GROUP BY doc_id),
fps AS (SELECT doc_id, {_SHW_DUCK_FP} AS fp FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp)) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {_SHW_HAMMING}
""")
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-fingerprint SimHash near-dup pairs (60-bit, hamming <= 3) —
    the production-scale twin of ``dedup_simhash``.

    The narrow (32-bit) variant's 1x/4x scaling run grew 6.2x because
    8-bit chunk buckets collide at random: occupancy per bucket value
    grows linearly with corpus size, so candidate pairs grow
    quadratically. This variant widens the fingerprint to 60 bits (15
    md5 hex chars — the widest that stays signed-positive BIGINT on
    both engines) and blocks on 4 chunks of 15 bits: identical
    pigeonhole guarantee (any pair at hamming <= 3 agrees exactly on
    >= 1 chunk) but 2^15 bucket values per chunk, so random chunk
    collisions drop ~128x and candidates track true near-dup density
    instead of n^2/2^8. Measured beside the narrow variant in
    BASELINE.md's scaling table.

    Plan shape is unchanged from the narrow twin: one token-stream
    aggregation builds fingerprints (60 partial-agg bit-sums, map-side
    combined), chunk explode (x4), equi-join on (chunk_idx, chunk_val),
    bit_count only on candidates, first-matching-chunk filter collapses multi-chunk hits shuffle-free.
    """
    d = load_table(spark, sf_dir, "documents")
    # fan_out: the token explode + md5 + bit-sum partial agg is the
    # CPU-heavy map stage; single-row-group fixture scans are one task
    tok = (fan_out(d)
           .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .select("doc_id",
                   F.expr("cast(conv(substring(md5(token), 1, 15), 16, 10)"
                          " as bigint)").alias("h")))
    fps = (tok.groupBy("doc_id")
           .agg(*[F.expr(f"sum((((shiftright(h, {b})) & 1) * 2 - 1))")
                  .alias(f"s{b}") for b in range(_SHW_BITS)])
           .select("doc_id", F.expr(_SHW_SPARK_FP).alias("fp")))
    mask = (1 << _SHW_CHUNK_BITS) - 1
    chunks = F.array(*[
        F.struct(F.lit(c).alias("ci"),
                 F.expr(f"(shiftright(fp, {c * _SHW_CHUNK_BITS}) & {mask})")
                 .alias("cv"))
        for c in range(_SHW_CHUNKS)])
    blocked = (fps.select("doc_id", "fp", F.explode(chunks).alias("ch"))
               .select("doc_id", "fp", "ch.ci", "ch.cv"))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.expr("bit_count(a.fp ^ b.fp)")
    # first-matching-chunk filter replaces the distinct() exchange —
    # same rewrite as the narrow twin (see dedup_simhash)
    first_match = "CASE " + " ".join(
        f"WHEN (shiftright(a.fp, {c * _SHW_CHUNK_BITS}) & {mask})"
        f" = (shiftright(b.fp, {c * _SHW_CHUNK_BITS}) & {mask}) THEN {c}"
        for c in range(_SHW_CHUNKS)) + " END"
    return (a.join(b, (F.col("a.ci") == F.col("b.ci"))
                   & (F.col("a.cv") == F.col("b.cv"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .filter(ham <= _SHW_HAMMING)
            .filter(F.col("a.ci") == F.expr(first_match))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    ham.alias("hamming")))


_EMB_DEDUP_COS = ("list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
                  " * sqrt(list_dot_product(b.v, b.v)))")


@register("dedup_embedding", f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
drops AS (
    SELECT DISTINCT b.vec_id AS dropped
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_EMB_DEDUP_COS} >= 0.35
)
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT dropped FROM drops)
""")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: survivors after dropping the
    higher ``vec_id`` of every intra-label pair with cosine >= 0.35.

    Label-blocked self-join (candidates = Σ per-label n², not corpus n²)
    then a left-anti join against the drop set — both shuffles keyed and
    skew-safe under AQE. At 100 TB the label blocker is an ANN index
    (IVF cells / LSH buckets, see sim_ann_*); the drop rule is the same.
    """
    from manual_data_ingest_spark.operators.similarity import cos_arrow

    e = load_table(spark, sf_dir, "embeddings")
    a, b = e.alias("a"), e.alias("b")
    drops = (a.join(b, (F.col("a.label") == F.col("b.label"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .filter(cos_arrow(F.col("a.embedding"), F.col("b.embedding"))
                     >= 0.35)
             .select(F.col("b.vec_id").alias("vec_id"))
             .distinct())
    return (e.join(drops, "vec_id", "left_anti")
            .select("vec_id", "label"))


#: 4 sign-bit hyperplanes (dims 0..3) → 16 sub-buckets per label; the
#: same deterministic bucket as sim_ann_lsh, spelled per dialect (DuckDB
#: lists are 1-based).
_EANN_BITS = 4
_EANN_BUCKET_DUCK = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_EANN_BITS))
_EANN_BUCKET_SPARK = " + ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_EANN_BITS))


@register("dedup_embedding_ann", f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_EANN_BUCKET_DUCK} AS bucket
           FROM embeddings),
drops AS (
    SELECT DISTINCT b.vec_id AS dropped
    FROM e a JOIN e b ON a.label = b.label AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
    WHERE {_EMB_DEDUP_COS} >= 0.35
)
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT dropped FROM drops)
""")
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-blocked embedding dedup — the production-scale twin of
    ``dedup_embedding``, whose label-only blocking grew 3.8x at 4x
    replicas (candidate pairs ~ Σ per-label n²).

    Blocks on (label, 4-sign-bit LSH bucket) — the same deterministic
    hyperplane bucket as ``sim_ann_lsh`` — so each label's pair set
    splits across ~16 sub-buckets and candidates drop ~16x. The oracle
    applies the identical bucket formula, so hash-equality verifies the
    BLOCKED semantics exactly; the recall trade is measured, not waved
    at: TRUE duplicates (cos ~= 1, e.g. every cross-replica copy in the
    16x scaling corpus) always share the bucket — survivor count stays
    constant (1955) across 1x/4x/16x, i.e. 100% of replica dupes caught
    while the exact twin needs 54.9 s to this variant's 3.2 s. What IS
    missed: barely-over-threshold random pairs (cos ~ 0.35 on the
    unclustered fixture agree on all 4 signs only ~14% of the time —
    the sign-LSH floor for weak similarity; at sf0.01 the exact twin
    drops 26 vectors, this one 2). Production tuning: a higher dup
    threshold and/or banded OR-amplification (b bands of r bits) move
    recall up the 1-(1-p^r)^b curve; the blocking plan is unchanged.
    Drop rule and anti-join shape match the exact twin.
    """
    from manual_data_ingest_spark.operators.similarity import cos_arrow

    e = load_table(spark, sf_dir, "embeddings")
    eb = e.withColumn("bucket", F.expr(_EANN_BUCKET_SPARK))
    a, b = eb.alias("a"), eb.alias("b")
    drops = (a.join(b, (F.col("a.label") == F.col("b.label"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .filter(cos_arrow(F.col("a.embedding"), F.col("b.embedding"))
                     >= 0.35)
             .select(F.col("b.vec_id").alias("vec_id"))
             .distinct())
    return (e.join(drops, "vec_id", "left_anti")
            .select("vec_id", "label"))


@register("dedup_near_minhash", f"""
WITH sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       {sql_rnd('common::DOUBLE / (sa.n + sb.n - common)', 6)} AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.9
""")
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (deterministic seeds), verified.

    signature[i] = min over shingles of xxhash64(i, shingle);
    band hash = xxhash64 over its 4 signature slots; docs sharing any
    band bucket become candidates. With 16 hashes / 4 bands of 4 the
    candidate threshold is ≈ (1/4)^(1/4) ≈ 0.71 Jaccard.

    Output = the production LSH shape: candidates from the band-bucket
    join, then exact-Jaccard VERIFICATION keeping pairs >= 0.9. The
    oracle is the exact-Jaccard pair set at 0.9 — sound because J = 1
    pairs collide in every band by construction and recall@J>=0.9 = 1
    is pinned on all fixture SFs (tests/test_recall.py); an LSH
    regression that drops a high-J pair now hash-mismatches instead of
    being invisible (r1 scored the no-oracle variant as err).
    """
    d = load_table(spark, sf_dir, "documents")
    # verification pass: exact Jaccard over the CANDIDATES only — at
    # scale this scopes the quadratic work to LSH-bucketed pairs
    return _minhash_candidates(d).join(_jaccard_pairs(d, 0.9), ["id_a", "id_b"])


def _minhash_candidates(d: DataFrame) -> DataFrame:
    """Raw LSH candidate pairs (pre-verification) — recall is pinned on
    this set by tests/test_recall.py."""
    sh = _shingles(d)
    sig = sh.groupBy("doc_id").agg(*[
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(_N_HASHES)])
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"h{b * _ROWS_PER_BAND + r}")
                              for r in range(_ROWS_PER_BAND)]).alias("bucket"))
        for b in range(_BANDS)]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")) \
                .select("doc_id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


@register("dedup_clusters", f"""
WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
near AS (
    SELECT id_a, id_b FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
),
edges AS (SELECT id_a AS u, id_b AS v FROM near
          UNION ALL SELECT id_b, id_a FROM near),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
GROUP BY d.doc_id
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard-pair
    graph, every document labeled with its cluster representative
    (minimum reachable doc_id; singletons label themselves). This is
    the step candidate pairs exist for — pick one survivor per cluster.

    Iterative min-label propagation: each round joins current labels
    through the edge list and keeps the per-node minimum, terminating
    when a round changes nothing — O(cluster diameter) rounds, each a
    distributed join (THE Spark shape for iterative graph algorithms;
    the driver loop carries only the 1-row convergence count, never
    data). Near-dup clusters have tiny diameters, so 2-3 rounds in
    practice; the oracle is DuckDB's recursive CTE over the same edges.
    """
    pairs = dedup_near_jaccard(spark, sf_dir).select("id_a", "id_b")
    edges = (pairs.selectExpr("id_a AS u", "id_b AS v")
             .unionByName(pairs.selectExpr("id_b AS u", "id_a AS v")))
    d = load_table(spark, sf_dir, "documents")
    labels = d.select("doc_id", F.col("doc_id").alias("cluster_id"))
    edges = edges.cache()
    for _ in range(20):  # safety bound far above any real diameter
        prop = (labels.join(edges, labels.doc_id == edges.u)
                .groupBy(F.col("v").alias("doc_id"))
                .agg(F.min("cluster_id").alias("prop_id")))
        new_labels = (labels.join(prop, "doc_id", "left")
                      .select("doc_id",
                              F.least("cluster_id", F.coalesce("prop_id", "cluster_id"))
                              .alias("cluster_id"))).cache()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "doc_id")
                   .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                   .count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


_DF_CAP = 20  # posting-frequency cutoff: shingles in > _DF_CAP docs are stop-shingles


@register("dedup_near_jaccard_capped", f"""
WITH sh AS ({_SHINGLE_SQL}),
kept AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       {sql_rnd('common::DOUBLE / (sa.n + sb.n - common)', 6)} AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
""")
def dedup_near_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup Jaccard with the stop-shingle cutoff APPLIED — the scale
    lever the uncapped operator only documents.

    Shingles appearing in more than {cap} documents carry candidate
    volume but no discriminative signal (they are the corpus's cliches);
    excluding them bounds every posting list, making the quadratic pair
    expansion O(cap²) per shingle instead of O(hottest²). Jaccard is
    then computed over the KEPT shingle space on both engines
    identically, so the oracle stays hash-exact: this is a precision-
    preserving approximation with a defined, verifiable semantic, not a
    silent heuristic.

    Measured both ways (BASELINE.md scaling sections):
    - near-UNIFORM corpus (r1, 4× replicas): the cap's bookkeeping
      (global df aggregate + sizes join) costs MORE than it saves —
      4.5 s vs 3.2 s uncapped, identical pairs. Leave it off.
    - POWER-LAW corpus (r2, tests/stress_jaccard.py — Zipfian shingle
      df, the real-web shape): uncapped goes superlinear (3.6→24.2 s
      for 4× docs) while capped stays bounded (1.0→1.5 s) — 16× faster
      at 4× and widening. Flip it on.
    The cutoff is a corpus-shape switch, now demonstrated in both
    regimes, not guessed.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d)
    # ONE shingle shuffle serves everything: the grouped posting lists
    # subsume the df count (size of the list), so the capped postings,
    # the pair expansion, AND the per-doc kept-shingle sizes all derive
    # from this checkpointed pass. The previous form paid the shingle
    # shuffle twice (collect_list + separate df count) plus a
    # sh⋈df join for sizes — A/B at 4×: 4.65 → 2.90 s, identical rows
    # (BASELINE.md r4). At 100 TB the checkpoint is the persisted
    # postings index; the cap bounds every list at _DF_CAP entries.
    kept_g = (sh.groupBy("shingle")
              .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
              .filter(F.size("ds") <= _DF_CAP)
              .localCheckpoint(eager=True))
    postings = kept_g.filter(F.size("ds") >= 2)
    pair_arr = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")
    pairs = (postings.select(F.explode(pair_arr).alias("p"))
             .groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
             .agg(F.count("*").alias("common")))
    # sizes over the KEPT shingle space = explode of the capped lists
    # (distinct doc per list by construction)
    sizes = (kept_g.select(F.explode("ds").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("n")))
    jac = F.col("common").cast("double") / (F.col("sa.n") + F.col("sb.n")
                                            - F.col("common"))
    return (pairs
            .join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
            .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
            .filter(jac >= 0.5)
            .select("id_a", "id_b", rnd(jac, 6).alias("jaccard")))


@register("dedup_decontaminate", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
ng AS (
    SELECT doc_id, unnest(list_distinct(
        [array_to_string(l[i:i+7], ' ')
         FOR i IN generate_series(1, greatest(len(l) - 7, 1))])) AS g
    FROM toks
),
ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 20 = 0),
hits AS (
    SELECT tr.doc_id, count(*) AS n
    FROM ng tr JOIN ev ON tr.g = ev.g
    WHERE tr.doc_id % 20 <> 0
    GROUP BY 1
)
SELECT d.doc_id, d.source,
       coalesce(h.n, 0)::BIGINT AS n_shared_ngrams,
       (h.doc_id IS NULL) AS keep
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 20 <> 0
""")
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one 8-token n-gram with the held-out eval set
    (docs with ``doc_id % 20 == 0`` stand in for the benchmark), the
    GPT-3-style overlap rule for keeping eval numbers honest.

    The n-gram overlap is a SHUFFLE-HASH join partitioned on the
    n-gram, so nothing is broadcast and the eval side may grow with
    the corpus (the fixture's eval split is 5% of it). shuffle_hash
    over merge: both sides arrive hash-partitioned on `g`; SHJ builds
    a table from the (smaller) eval side per partition and streams the
    training side, skipping the two full sorts a sort-merge join would
    add on a key that is a throwaway string. Without the hint AQE
    picks SMJ on the grown fixture, the slowest of the three plans
    measured (SCALE.md). AQE may still pick SMJ if a partition's
    build side would not fit — acceptable; the assertion is
    no-broadcast, not SHJ-forever
    (tests/test_plans.py::test_decontaminate_shuffled_never_broadcasts).
    A fixed MB-scale benchmark suite could broadcast its n-grams
    instead (SCALE.md).
    """
    d = load_table(spark, sf_dir, "documents")
    ng = ngrams(d, 8, F.explode, "g")
    ev = ng.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    hits = (ng.filter(F.col("doc_id") % 20 != 0)
            .join(ev.hint("shuffle_hash"), "g")
            .groupBy("doc_id").agg(F.count("*").alias("n")))
    return (d.filter(F.col("doc_id") % 20 != 0)
            .join(hits.withColumnRenamed("doc_id", "hid"),
                  F.col("doc_id") == F.col("hid"), "left")
            .select("doc_id", "source",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_shared_ngrams"),
                    F.col("hid").isNull().alias("keep")))


@register("dedup_span_chunks", f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), c AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         array_to_string(l[(i-1)*10+1:(i-1)*10+10], ' ') AS chunk
  FROM w, unnest(generate_series(1, cast(ceil(len(l)/10.0) AS INT))) AS g(i)
), k AS (
  SELECT *, row_number() OVER (PARTITION BY chunk
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id,
       count(*)               AS n_chunks,
       count(*) FILTER (rn = 1) AS n_kept,
       {sql_rnd("count(*) FILTER (rn = 1)::DOUBLE / count(*)", 6)}
           AS kept_frac,
       md5(coalesce(string_agg(chunk, '|' ORDER BY chunk_idx)
                    FILTER (rn = 1), '')) AS kept_md5
FROM k GROUP BY doc_id
""")
def dedup_span_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (sub-document) corpus dedup — the CCNet/FineWeb move.

    Documents are cut into fixed 10-word spans; each span is kept only
    at its FIRST corpus occurrence (total order: doc_id, position) and
    dropped everywhere else, then documents are reassembled from their
    surviving spans. Catches boilerplate repeated across documents that
    whole-doc hashing misses. One shuffle on the span text (the window);
    the span text rides through that exchange either way (survivors
    are reassembled from it), so keying it on a 64-bit span digest
    instead only adds a column (SCALE.md); the reassembly groupBy
    shuffles on doc_id, already the layout key of the corpus, so AQE
    coalesces it into the scan partitioning.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("l"))
    nch = F.ceil(F.size("l") / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda j: F.concat_ws(" ", F.slice(F.col("l"), j * 10 + 1, 10)))
    c = base.select("doc_id",
                    F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    k = c.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1,
                         F.struct("chunk_idx", "chunk"))
    return (k.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        rnd(F.count(F.when(F.col("rn") == 1, 1)).cast("double")
            / F.count("*"), 6).alias("kept_frac"),
        F.md5(F.concat_ws("|", F.transform(
            F.array_sort(F.collect_list(kept_struct)),
            lambda s: s["chunk"]))).alias("kept_md5")))


@register("dedup_containment", f"""
WITH sh AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
       {sql_rnd('common::DOUBLE / least(sa.n, sb.n)', 6)} AS containment
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE common::DOUBLE / least(sa.n, sb.n) >= 0.7
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs (Broder's asymmetric measure):
    |A∩B| / min(|A|,|B|) ≥ 0.7, tagging which doc is the contained one.

    Jaccard misses near-SUPERSET duplication — a doc pasted inside a
    much longer one scores low Jaccard but ~1.0 containment; corpus
    pipelines drop the contained copy. Same inverted-index plan as
    `dedup_near_jaccard` (postings → bounded pair expansion → size
    join); only the final quotient and keep-direction differ, so the
    100 TB posture (stop-shingle cap before the quadratic expansion)
    carries over unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d)
    postings = (sh.groupBy("shingle")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
                .filter(F.size("ds") >= 2))
    pair_arr = F.expr(
        "flatten(transform(ds, (a, i) ->"
        " transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")
    pairs = (postings.select(F.explode(pair_arr).alias("p"))
             .groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
             .agg(F.count("*").alias("common")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("common").cast("double") / F.least("na", "nb")
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .filter(cont >= 0.7)
            .select("id_a", "id_b",
                    F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
                    .otherwise(F.col("id_b")).alias("contained_id"),
                    rnd(cont, 6).alias("containment")))


@register("dedup_template_mask", """
WITH masked AS (
  SELECT doc_id, lang,
         md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS tpl_hash
  FROM documents
), tpl AS (
  SELECT tpl_hash, count(*) AS n_instances,
         min(doc_id) AS exemplar_doc
  FROM masked GROUP BY tpl_hash
)
SELECT CAST(count(*) AS BIGINT) AS n_templates,
       CAST(sum(CASE WHEN n_instances > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_templated,
       CAST(sum(CASE WHEN n_instances > 1 THEN n_instances ELSE 0 END)
            AS BIGINT) AS n_docs_in_templates,
       CAST(max(n_instances) AS BIGINT) AS max_family,
       CAST(min(CASE WHEN n_instances > 1 THEN exemplar_doc END) AS BIGINT)
           AS first_exemplar
FROM tpl
""")
def dedup_template_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family dedup: mask the volatile slots (digit runs →
    ``<NUM>``) and exact-hash what remains — boilerplate pages that
    differ only in ids/dates/prices collapse into one family. The
    CommonCrawl reality this covers: templated pages are EXACT
    duplicates after slot masking, which shingle/MinHash dedup spends
    enormous effort rediscovering pair by pair; masking finds the
    whole family with ONE hash-aggregate shuffle.

    Deterministic: the mask is a regexp both engines implement
    identically on ASCII digit runs, the family hash is md5 of the
    masked text, and the exemplar is min(doc_id). Output is the audit
    summary (families, templated docs, largest family).

    At 100 TB this is the cheap FIRST pass of the dedup cascade
    (`pipeline_llm_prep` ordering): exact → template-mask → MinHash,
    each pass shrinking the candidate set for the next.
    """
    d = load_table(spark, sf_dir, "documents")
    masked = d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"))
        .alias("tpl_hash"))
    tpl = (masked.groupBy("tpl_hash")
           .agg(F.count("*").alias("n_instances"),
                F.min("doc_id").alias("exemplar_doc")))
    dup = F.col("n_instances") > 1
    return tpl.agg(
        F.count("*").alias("n_templates"),
        F.sum(F.when(dup, 1).otherwise(0)).alias("n_templated"),
        F.sum(F.when(dup, F.col("n_instances")).otherwise(0))
        .alias("n_docs_in_templates"),
        F.max("n_instances").alias("max_family"),
        F.min(F.when(dup, F.col("exemplar_doc"))).alias("first_exemplar"))


@register("dedup_cross_source", f"""
WITH all_docs AS (
    SELECT doc_id, source, text FROM documents
    UNION ALL
    SELECT doc_id + {_OFFSET} AS doc_id, 'mirror_' || source AS source, text
    FROM documents WHERE doc_id % 3 = 0
), h AS (
    SELECT doc_id, source, md5(lower(trim(text))) AS content_md5
    FROM all_docs
), g AS (
    SELECT content_md5,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS keep_id
    FROM h GROUP BY content_md5
)
SELECT content_md5, n_docs, n_sources, keep_id
FROM g WHERE n_sources >= 2
""")
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact duplicates: content that appears under TWO OR
    MORE sources — the syndicated/mirrored-content detector. Same-source
    re-crawls are `dedup_exact`'s business; a doc republished across
    feeds is a different curation decision (keep once, credit the
    earliest id), so the grouping key adds the distinct-source count.

    The fixture has zero natural cross-source dupes, so (the
    `dedup_exact` move) every third document gains a synthesized
    mirror-feed copy — the operator's filter then provably selects
    exactly the mirrored content and nothing else. One normalized-digest
    hash-agg shuffle; the n_sources >= 2 filter runs post-aggregate on
    group-sized data. At 100 TB the distinct-source term is exact while
    the source universe is small (it is), or an HLL merge when it isn't.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mirror = (d.filter(F.col("doc_id") % 3 == 0)
              .select((F.col("doc_id") + _OFFSET).alias("doc_id"),
                      F.concat(F.lit("mirror_"), F.col("source"))
                      .alias("source"), "text"))
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    return (d.unionByName(mirror)
            .select("doc_id", "source", digest.alias("content_md5"))
            .groupBy("content_md5")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("source").alias("n_sources"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_sources") >= 2))


@register("dedup_fuzzy_key", """
WITH keyed AS (
  SELECT p_partkey,
         array_to_string(list_sort(string_split(lower(p_name), ' ')), ' ')
             AS fuzzy_key
  FROM part WHERE p_name IS NOT NULL
)
SELECT fuzzy_key, count(*) AS n_parts,
       min(p_partkey) AS canonical_key, max(p_partkey) AS max_key
FROM keyed GROUP BY fuzzy_key HAVING count(*) > 1
""")
def dedup_fuzzy_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort fuzzy dedup on part names: normalize to the SORTED
    lowercase word multiset ("red widget" ≡ "widget red") and group —
    the classic curator move for catalog titles where word order and
    case vary but content doesn't. Emits each collision group with its
    canonical (lowest) key.

    Map-side key normalization (split/sort/join are all codegen'd
    array ops — no UDF), then ONE hash aggregate: exactly the
    `dedup_exact` shuffle shape, so the 100 TB story is identical
    (the key is small even when the payload isn't). Between
    `dedup_exact` (bit-identical only) and `dedup_template_mask`
    (digit-masked): the three form the normalization ladder a real
    ingest pipeline applies in sequence.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").isNotNull())
    key = F.array_join(F.array_sort(F.split(F.lower("p_name"), " ")), " ")
    return (p.select("p_partkey", key.alias("fuzzy_key"))
            .groupBy("fuzzy_key")
            .agg(F.count("*").alias("n_parts"),
                 F.min("p_partkey").alias("canonical_key"),
                 F.max("p_partkey").alias("max_key"))
            .filter(F.col("n_parts") > 1))


@register("dedup_survivorship", """
WITH keyed AS (
  SELECT p_partkey, p_retailprice,
         array_to_string(list_sort(string_split(lower(p_name), ' ')), ' ')
             AS fuzzy_key
  FROM part WHERE p_name IS NOT NULL
), ranked AS (
  SELECT p_partkey, p_retailprice, fuzzy_key,
         count(*) OVER (PARTITION BY fuzzy_key) AS n_dups,
         row_number() OVER (PARTITION BY fuzzy_key
                            ORDER BY p_retailprice DESC, p_partkey) AS rk
  FROM keyed
)
SELECT fuzzy_key, p_partkey AS survivor_key,
       p_retailprice AS survivor_price, n_dups
FROM ranked WHERE rk = 1 AND n_dups > 1
""")
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: within each fuzzy-duplicate group
    (`dedup_fuzzy_key`\'s token-sort normalization), elect ONE canonical
    part by an explicit quality rule (highest retail price, then lowest
    key) — the step after dedup detection that MDM / curation pipelines
    actually ship, where "which copy do we keep" is a business rule,
    not an accident of scan order.

    Both windows (group size, quality rank) ride ONE normalized-key
    shuffle; the key is a bounded token string, the `dedup_exact` scale
    shape. Richer rules (prefer trusted source, freshest ingest) are
    the same plan with more ORDER BY terms — which is exactly why the
    rule lives in one window spec.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").isNotNull())
    key = F.array_join(F.array_sort(F.split(F.lower("p_name"), " ")), " ")
    keyed = p.select("p_partkey", "p_retailprice", key.alias("fuzzy_key"))
    wd = Window.partitionBy("fuzzy_key")
    wr = Window.partitionBy("fuzzy_key").orderBy(
        F.col("p_retailprice").desc(), "p_partkey")
    return (keyed
            .withColumn("n_dups", F.count("*").over(wd))
            .withColumn("rk", F.row_number().over(wr))
            .filter((F.col("rk") == 1) & (F.col("n_dups") > 1))
            .select("fuzzy_key",
                    F.col("p_partkey").alias("survivor_key"),
                    F.col("p_retailprice").alias("survivor_price"),
                    "n_dups"))


@register("sim_hamming_topk", f"""
WITH tok AS (
    SELECT doc_id, count(*) AS cnt,
           ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE text IS NOT NULL)
    GROUP BY doc_id, h
),
sums AS (SELECT doc_id, {_SHW_DUCK_SUMS} FROM tok GROUP BY doc_id),
fps AS (SELECT doc_id, {_SHW_DUCK_FP} AS fp FROM sums)
SELECT probe_id, neighbor_id, hamming, rn FROM (
    SELECT a.doc_id AS probe_id, b.doc_id AS neighbor_id,
           bit_count(xor(a.fp, b.fp)) AS hamming,
           row_number() OVER (PARTITION BY a.doc_id
                              ORDER BY bit_count(xor(a.fp, b.fp)),
                                       b.doc_id) AS rn
    FROM (SELECT * FROM fps WHERE doc_id % 100 = 0 AND doc_id < 5000) a
    JOIN fps b ON b.doc_id <> a.doc_id
) WHERE rn <= 3
""")
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature retrieval: top-3 nearest documents per probe by
    HAMMING distance over the 60-bit SimHash fingerprint — the
    memory ladder's bottom rung (64 floats → int8 → PQ codes →
    ONE long per doc), where a billion-doc index is 8 GB and distance
    is a single xor+popcount instruction.

    Signatures come from the same weighted-SimHash aggregation as
    `dedup_simhash_wide` (one token shuffle); probes (every 100th doc of the first 5000 —
    a FIXED probe set, so scale runs measure corpus growth, not probe
    growth) broadcast against the fp table — the `sim_topk` topology with
    integer distance, so ordering needs no float discipline at all
    (bit_count ties break on neighbor id). At scale the brute scan
    swaps for the chunk-blocked candidate join the dedup twin already
    demonstrates.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    # fan_out: the token explode + md5 + bit-sum partial agg is the
    # CPU-heavy map stage; single-row-group fixture scans are one task
    tok = (fan_out(d)
           .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .select("doc_id",
                   F.expr("cast(conv(substring(md5(token), 1, 15), 16, 10)"
                          " as bigint)").alias("h")))
    fps = (tok.groupBy("doc_id")
           .agg(*[F.expr(f"sum((((shiftright(h, {b})) & 1) * 2 - 1))")
                  .alias(f"s{b}") for b in range(_SHW_BITS)])
           .select("doc_id", F.expr(_SHW_SPARK_FP).alias("fp")))
    probes = (fps.filter((F.col("doc_id") % 100 == 0)
                         & (F.col("doc_id") < 5000))
              .select(F.col("doc_id").alias("probe_id"),
                      F.col("fp").alias("pfp")))
    ham = F.expr("bit_count(pfp ^ fp)")
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (F.broadcast(probes)
            .join(fps, F.col("doc_id") != F.col("probe_id"))
            .select("probe_id", F.col("doc_id").alias("neighbor_id"),
                    ham.alias("hamming"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id", "hamming", "rn"))


def _shw_chunk(col: str, c: int) -> str:
    """15-bit chunk ``c`` of a 60-bit fingerprint column (both dialects:
    ``>>``/``&`` spell identically in Spark SQL and DuckDB)."""
    return f"(({col} >> {c * _SHW_CHUNK_BITS}) & {(1 << _SHW_CHUNK_BITS) - 1})"


_SHW_CHUNK_OR = " OR ".join(
    f"{_shw_chunk('p.pfp', c)} = {_shw_chunk('b.fp', c)}"
    for c in range(_SHW_CHUNKS))


@register("sim_hamming_topk_blocked", f"""
WITH tok AS (
    SELECT doc_id, count(*) AS cnt,
           ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE text IS NOT NULL)
    GROUP BY doc_id, h
),
sums AS (SELECT doc_id, {_SHW_DUCK_SUMS} FROM tok GROUP BY doc_id),
fps AS (SELECT doc_id, {_SHW_DUCK_FP} AS fp FROM sums),
probes AS (SELECT doc_id AS probe_id, fp AS pfp FROM fps
           WHERE doc_id % 100 = 0 AND doc_id < 5000)
SELECT probe_id, neighbor_id, hamming, rn FROM (
    SELECT p.probe_id, b.doc_id AS neighbor_id,
           bit_count(xor(p.pfp, b.fp)) AS hamming,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY bit_count(xor(p.pfp, b.fp)),
                                       b.doc_id) AS rn
    FROM probes p JOIN fps b
      ON b.doc_id <> p.probe_id AND ({_SHW_CHUNK_OR})
) WHERE rn <= 3
""")
def sim_hamming_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked Hamming retrieval — `sim_hamming_topk`'s scale
    twin (r3 verdict item 5): candidates are only documents sharing at
    least one EXACT 15-bit chunk of the 60-bit SimHash fingerprint with
    the probe, so every pair within hamming <= 3 is guaranteed retrieved
    (4 chunks, pigeonhole) and the candidate set comes from a (chunk_id,
    chunk_value) EQUI-JOIN that SHUFFLES 8-byte signatures instead of
    broadcasting a side — the shape that survives when the probe set
    outgrows a broadcast. Random non-near docs collide on a chunk with
    p = 4/2^15, so candidate volume is ~n·|probes|/8192 instead of
    n·|probes|.

    Recall trade (pinned in tests/test_recall.py): true top-3 neighbors
    at hamming > 3 that share no chunk are missed — exactly the LSH
    contract `sim_knn_graph_blocked` documents for cosine. Both engines
    compute the same candidate set, so the oracle stays hash-exact.

    Plan: fingerprints from the shared `dedup_simhash_wide` aggregation
    (one token shuffle); both sides explode into 4 chunk rows; the join
    key is (ci, cv); pairs sharing k chunks are kept once via the
    first-matching-chunk codegen filter (no distinct() exchange — the
    `dedup_simhash` move); only survivors pay bit_count + the per-probe
    top-3 window.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    # fan_out: the token explode + md5 + bit-sum partial agg is the
    # CPU-heavy map stage; single-row-group fixture scans are one task
    tok = (fan_out(d)
           .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .select("doc_id",
                   F.expr("cast(conv(substring(md5(token), 1, 15), 16, 10)"
                          " as bigint)").alias("h")))
    fps = (tok.groupBy("doc_id")
           .agg(*[F.expr(f"sum((((shiftright(h, {b})) & 1) * 2 - 1))")
                  .alias(f"s{b}") for b in range(_SHW_BITS)])
           .select("doc_id", F.expr(_SHW_SPARK_FP).alias("fp")))

    def chunks(col: str) -> F.Column:
        return F.array(*[
            F.struct(F.lit(c).alias("ci"),
                     F.expr(_shw_chunk(col, c)).alias("cv"))
            for c in range(_SHW_CHUNKS)])

    pch = (fps.filter((F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 5000))
           .select(F.col("doc_id").alias("probe_id"),
                   F.col("fp").alias("pfp"),
                   F.explode(chunks("fp")).alias("ch"))
           .select("probe_id", "pfp", "ch.ci", "ch.cv"))
    cch = (fps.select("doc_id", "fp", F.explode(chunks("fp")).alias("ch"))
           .select("doc_id", "fp", "ch.ci", "ch.cv"))
    first_match = "CASE " + " ".join(
        f"WHEN {_shw_chunk('pfp', c)} = {_shw_chunk('fp', c)} THEN {c}"
        for c in range(_SHW_CHUNKS)) + " END"
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (pch.join(cch, ["ci", "cv"])
            .filter(F.col("doc_id") != F.col("probe_id"))
            .filter(F.col("ci") == F.expr(first_match))
            .select("probe_id", F.col("doc_id").alias("neighbor_id"),
                    F.expr("bit_count(pfp ^ fp)").alias("hamming"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id", "hamming", "rn"))


@register("dedup_cluster_profile", f"""
WITH keyed AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS k
    FROM documents
), clusters AS (
    SELECT k, count(*) AS sz FROM keyed GROUP BY k
), n AS (SELECT count(*)::DOUBLE AS n_docs FROM keyed)
SELECT sz AS cluster_size,
       count(*) AS n_clusters,
       sz * count(*) AS n_docs,
       {sql_rnd('sz * count(*) / (SELECT n_docs FROM n)', 4)} AS pct_of_corpus
FROM clusters
GROUP BY sz
""")
def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: histogram of duplicate-cluster sizes
    under the bag-of-words key (md5 of the sorted distinct token set —
    catches word-order shuffles exact dedup misses). This is the FIRST
    report a training-data owner runs: 'how duplicated is this corpus,
    and is the mass in a few giant clusters or many pairs?' decides
    whether exact dedup, near-dup, or nothing is worth the compute
    before any of the dedup_* operators run.

    Scale shape: two chained hash aggregates (doc→key, key→size,
    size→histogram), each with map-side partials; the key is computed
    in the scan projection (sort of an in-memory token array — no
    shuffle of text). The corpus total rides a one-row broadcast.
    On the sf0.01 fixture this surfaces a real spread (425 singletons
    … one 29-doc cluster), so the histogram is a genuine distribution,
    not a degenerate demo.
    """
    d = load_table(spark, sf_dir, "documents")
    k = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(
        F.split("text", " ")))))
    clusters = (d.select(k.alias("k"))
                .groupBy("k").agg(F.count("*").alias("sz")))
    n = d.agg(F.count("*").cast("double").alias("n_docs_total"))
    return (clusters.groupBy("sz")
            .agg(F.count("*").alias("n_clusters"))
            .join(F.broadcast(n))
            .select(F.col("sz").alias("cluster_size"),
                    "n_clusters",
                    (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
                    rnd(F.col("sz") * F.col("n_clusters")
                        / F.col("n_docs_total"), 4).alias("pct_of_corpus")))


#: (bands, rows_per_band) configurations evaluated by
#: dedup_minhash_band_tune over the same 16 minhashes; the candidate
#: threshold literal (1/b)^(1/r) is precomputed in Python so BOTH
#: engines compare against the identical constant (no pow() parity
#: exposure).
_TUNE_CONFIGS = tuple(
    (b, 16 // b, round((1.0 / b) ** (b / 16.0), 4)) for b in (2, 4, 8))

#: Carter-Wegman affine family over ONE md5 base hash per shingle:
#: h_i = (A[i] * (base % P) + B[i]) % P, P = 2^31 - 1. One md5 instead
#: of 16 per shingle (measured 9.8 s → see BASELINE.md) and pure int64
#: arithmetic both engines (A[i] * (2^31-2) + B[i] < 2^63 — no
#: overflow), the standard one-strong-hash MinHash construction.
_TUNE_P = 2_147_483_647
_TUNE_A = tuple(2 * k + 1 for k in range(1, 17))          # odd multipliers
_TUNE_B = tuple(k * 40_503 for k in range(16))

_TUNE_BASE_DUCK = (f"(('0x' || substr(md5(shingle), 1, 15))::BIGINT"
                   f" % {_TUNE_P})")
_TUNE_SIG_DUCK = ", ".join(
    f"min(({_TUNE_A[i]} * {_TUNE_BASE_DUCK} + {_TUNE_B[i]}) % {_TUNE_P})"
    f" AS s{i}" for i in range(16))


def _tune_oracle() -> str:
    parts = [f"WITH sh AS ({_SHINGLE_SQL}),",
             f"sig AS (SELECT doc_id, {_TUNE_SIG_DUCK} FROM sh GROUP BY 1)"]
    selects = []
    for b, r, thr in _TUNE_CONFIGS:
        bands = ", ".join(
            "md5(" + " || ',' || ".join(
                f"s{j * r + k}::VARCHAR" for k in range(r)) + f") AS b{j}"
            for j in range(b))
        parts.append(
            f", banded_{b} AS (SELECT doc_id, {bands} FROM sig)"
            f", pairs_{b} AS ("
            + " UNION ".join(
                f"SELECT a.doc_id AS id_a, x.doc_id AS id_b"
                f" FROM banded_{b} a JOIN banded_{b} x"
                f" ON a.b{j} = x.b{j} AND a.doc_id < x.doc_id"
                for j in range(b))
            + ")")
        selects.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band,"
            f" {thr}::DOUBLE AS est_threshold,"
            f" (SELECT count(*) FROM pairs_{b}) AS n_candidate_pairs,"
            f" (SELECT count(DISTINCT d) FROM (SELECT id_a AS d FROM pairs_{b}"
            f"  UNION SELECT id_b FROM pairs_{b})) AS n_docs_in_pairs")
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("dedup_minhash_band_tune", _tune_oracle())
def dedup_minhash_band_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter tuning report: the SAME 16 minhash
    signatures evaluated under three (bands x rows) splits — for each,
    the candidate-pair count and how many documents get pulled into
    any pair, next to the config's ~50% Jaccard threshold
    ((1/b)^(1/r)). This is how the `dedup_near_minhash` parameters
    (4x4) are CHOSEN rather than asserted: more bands → lower
    threshold → more (costlier, lower-precision) candidates; the
    report shows the actual curve on the actual corpus so the 100 TB
    run picks its spot on it before burning the big pass.

    Portability: signatures use md5-derived integer hashes (the §2.14
    cross-engine contract) rather than xxhash64, so the oracle
    reproduces the INTERNALS exactly — unlike `dedup_near_minhash`,
    whose oracle verifies via exact Jaccard, this one hash-verifies
    the candidate generation itself. Scale shape: one shingle pass →
    one 16-column min aggregate (map-side partials); each config
    explodes band structs and counts pairs via the posting-list
    expansion (`_jaccard_pairs` idiom) — never an all-pairs join.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d)
    # ONE md5 per shingle, 16 affine derivations (profiled: the naive
    # md5-per-hash form spent 9.8 s of its 9.0 s total in 16M JVM md5
    # calls at sf0.1; this form is 0.9 s — BASELINE.md r4). The
    # localCheckpoint matters independently: all three configs consume
    # the doc-sized signature table, and without the barrier each
    # config re-executes the shingle pass — exactly what a production
    # tuning run would materialize once anyway.
    base = (F.expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10)"
                   " as bigint)") % F.lit(_TUNE_P)).alias("hb")
    sig = (sh.select("doc_id", base)
           .groupBy("doc_id").agg(*[
               F.min((F.lit(_TUNE_A[i]) * F.col("hb") + F.lit(_TUNE_B[i]))
                     % F.lit(_TUNE_P)).alias(f"s{i}")
               for i in range(16)])
           .localCheckpoint(eager=True))
    out = None
    for b, r, thr in _TUNE_CONFIGS:
        band_cols = [
            F.struct(F.lit(j).alias("band"),
                     F.md5(F.concat_ws(",", *[
                         F.col(f"s{j * r + k}").cast("string")
                         for k in range(r)])).alias("bucket"))
            for j in range(b)]
        banded = (sig.select("doc_id",
                             F.explode(F.array(*band_cols)).alias("bb"))
                  .select("doc_id", "bb.band", "bb.bucket"))
        postings = (banded.groupBy("band", "bucket")
                    .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
                    .filter(F.size("ds") >= 2))
        pair_arr = F.expr(
            "flatten(transform(ds, (a, i) ->"
            " transform(slice(ds, i + 2, size(ds)), x -> struct(a, x))))")
        pairs = (postings.select(F.explode(pair_arr).alias("p"))
                 .select(F.col("p.a").alias("id_a"),
                         F.col("p.x").alias("id_b"))
                 .distinct())
        n_pairs = pairs.agg(F.count("*").alias("n_candidate_pairs"))
        n_docs = (pairs.select(F.explode(F.array("id_a", "id_b")).alias("d"))
                  .agg(F.countDistinct("d").alias("n_docs_in_pairs")))
        row = (n_pairs.join(F.broadcast(n_docs))
               .select(F.lit(b).alias("bands"),
                       F.lit(r).alias("rows_per_band"),
                       F.lit(thr).alias("est_threshold"),
                       "n_candidate_pairs", "n_docs_in_pairs"))
        out = row if out is None else out.unionByName(row)
    return out


def _est_err_oracle() -> str:
    bands = ", ".join(
        "md5(" + " || ',' || ".join(
            f"s{j * 4 + k}::VARCHAR" for k in range(4)) + f") AS b{j}"
        for j in range(4))
    cand = " UNION ".join(
        f"SELECT a.doc_id AS id_a, x.doc_id AS id_b"
        f" FROM banded a JOIN banded x"
        f" ON a.b{j} = x.b{j} AND a.doc_id < x.doc_id"
        for j in range(4))
    eq = " + ".join(f"(sa.s{i} = sb.s{i})::INT" for i in range(16))
    est = f"({eq}) / 16.0"
    exact = ("coalesce(m.com, 0)::DOUBLE"
             " / (za.n + zb.n - coalesce(m.com, 0))")
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
sig AS (SELECT doc_id, {_TUNE_SIG_DUCK} FROM sh GROUP BY 1),
banded AS (SELECT doc_id, {bands} FROM sig),
cand AS ({cand}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS com
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       {sql_rnd(est, 4)} AS est_jaccard,
       {sql_rnd(exact, 6)} AS jaccard,
       {sql_rnd(f'abs({est} - ({exact}))', 4)} AS abs_err
FROM cand c
JOIN sig sa ON c.id_a = sa.doc_id
JOIN sig sb ON c.id_b = sb.doc_id
JOIN sizes za ON c.id_a = za.doc_id
JOIN sizes zb ON c.id_b = zb.doc_id
LEFT JOIN common m ON c.id_a = m.id_a AND c.id_b = m.id_b
"""


@register("dedup_minhash_estimate_error", _est_err_oracle())
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION report: for every 4×4-banded candidate pair,
    the signature-estimated Jaccard (matching components / 16) next to
    the exact shingle Jaccard and the absolute error — the measurement
    that tells a production dedup run whether 16 hashes are enough
    BEFORE it trusts the estimate to set thresholds (`dedup_minhash_
    band_tune` picks the banding; this audits the estimator itself).

    Cross-engine exactness: signatures are the §2.14 md5 + Carter-
    Wegman contract (`dedup_minhash_band_tune`'s), so the candidate
    set AND the estimate reproduce bit-for-bit in the oracle; the
    exact arm is integer shingle counts. All three emitted numbers
    are fixed IEEE expressions over exact integers.

    Scale: candidates come from the banded posting expansion (equi
    self-join on (band, hash) — never all-pairs); the exact arm joins
    shingles ONLY for candidate docs (a semi-join-sized subset). A
    zero-overlap collision pair is kept via LEFT join (coalesce 0) —
    exactly the false-positive class the report exists to expose.
    """
    d = load_table(spark, sf_dir, "documents")
    # FOUR consumers read the shingle relation (signature build, sizes,
    # and both sides of the common-shingle join) — one checkpointed
    # pass instead of four recomputes (the near_jaccard_capped move;
    # A/B in BASELINE.md r5 additions)
    sh = _shingles(d).localCheckpoint(eager=True)
    base = (F.expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10)"
                   " as bigint)") % F.lit(_TUNE_P)).alias("hb")
    hs = sh.select("doc_id", base)
    sig = hs.groupBy("doc_id").agg(*[
        F.min((F.lit(_TUNE_A[i]) * F.col("hb") + F.lit(_TUNE_B[i]))
              % F.lit(_TUNE_P)).alias(f"s{i}")
        for i in range(16)])
    # one doc-sized signature table serves banding, est, and nothing
    # re-runs the shingle pass (the band_tune materialization move)
    sig = sig.localCheckpoint(eager=True)
    bands = F.array(*[
        F.struct(F.lit(j).alias("bi"),
                 F.md5(F.concat_ws(",", *[
                     F.col(f"s{j * 4 + k}").cast("string")
                     for k in range(4)])).alias("bh"))
        for j in range(4)])
    banded = (sig.select("doc_id", F.explode(bands).alias("b"))
              .select("doc_id", F.col("b.bi").alias("bi"),
                      F.col("b.bh").alias("bh")))
    a, x = banded.alias("a"), banded.alias("x")
    cand = (a.join(x, (F.col("a.bi") == F.col("x.bi"))
                   & (F.col("a.bh") == F.col("x.bh"))
                   & (F.col("a.doc_id") < F.col("x.doc_id")))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("x.doc_id").alias("id_b"))
            .distinct())
    siga = sig.select(F.col("doc_id").alias("id_a"),
                      *[F.col(f"s{i}").alias(f"a{i}") for i in range(16)])
    sigb = sig.select(F.col("doc_id").alias("id_b"),
                      *[F.col(f"s{i}").alias(f"b{i}") for i in range(16)])
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (cand
              .join(sh.select(F.col("doc_id").alias("id_a"), "shingle"),
                    "id_a")
              .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"),
                    ["id_b", "shingle"])
              .groupBy("id_a", "id_b").agg(F.count("*").alias("com")))
    j = (cand.join(siga, "id_a").join(sigb, "id_b")
         .join(sizes.select(F.col("doc_id").alias("id_a"),
                            F.col("n").alias("na")), "id_a")
         .join(sizes.select(F.col("doc_id").alias("id_b"),
                            F.col("n").alias("nb")), "id_b")
         .join(common, ["id_a", "id_b"], "left"))
    est = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
              for i in range(16)) / 16.0
    com = F.coalesce(F.col("com"), F.lit(0))
    exact = com.cast("double") / (F.col("na") + F.col("nb") - com)
    return j.select("id_a", "id_b",
                    rnd(est, 4).alias("est_jaccard"),
                    rnd(exact, 6).alias("jaccard"),
                    rnd(F.abs(est - exact), 4).alias("abs_err"))
