"""Similarity search over embedding columns (SURVEY.md §2.13).

Brute-force cosine top-k as the verifiable baseline; the scale path is
blocking (here: the ``label`` column, standing in for an IVF coarse
quantizer or LSH bucket) so the candidate set per probe is a partition,
not the whole corpus.

Performance design (measured, not guessed — BENCH history):
- Scoring is Arrow-batched numpy (``cos_arrow`` / the BLAS block path in
  ``sim_threshold_pairs``): one compact UDF node, SIMD arithmetic. The
  alternative codegen strategies were both measured worse here: the HOF
  ``aggregate`` lambda is evaluated interpretively per element (~10×
  slower than the unrolled expression), and the UNROLLED 64-term
  expression — while codegen-fast to EXECUTE — costs Catalyst 0.6-0.8 s
  per action just to analyze/optimize its ~600-node tree (sim_topk at
  sf0.1 is 2 000 vectors; arithmetic is microseconds — the plan work WAS
  the query). The unrolled form (``dot_unrolled``/``cosine``) remains
  the bit-exact sequential-fold twin used where left-to-right float
  parity with DuckDB's ``list_dot_product`` matters at full precision
  (``sim_normalize_materialize``'s norms).
- DO NOT pre-project normalized vectors: Catalyst's CollapseProject
  inlines the projected expression into every downstream use — 64
  getItems × a 64-term normalization tree = a combinatorial expression
  blow-up measured at 30× SLOWER. Per-pair norms as flat unrolled sums
  are cheap (3 dots ≈ 192 fused multiply-adds per pair) and keep the
  plan collapse-safe. (A cached/materialized normalized table is the
  right call at 100 TB, but that is a storage decision, not a plan
  trick.)
- Scalar-norm precompute below the join was ALSO measured slower
  (sim_threshold_pairs 4.3 s vs 1.8 s at sf0.1, reproducible across a
  repartition barrier) despite 3× fewer per-pair flops: the threshold
  filter is pushed into the join's residual predicate either way, and
  the attribute-referencing variant loses more to plan overhead
  (extra Project + inferred isnotnull(SQRT(...)) constraints) than it
  saves in arithmetic. Measured > reasoned: keep the inline 3-dot
  form.

Float discipline: cast float→double per element before arithmetic;
round scores 6dp with the cross-engine deterministic rounder.

Probe derivation (every sim_* query's first stage) stays the
``row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1`` window
DELIBERATELY: Spark's InferWindowGroupLimit rewrites the rn=1 filter
into a partial WindowGroupLimit that keeps one row per label per input
partition BEFORE the shuffle — effectively a map-side min. The "obvious"
scale rewrite (groupBy(label).agg(min_by(embedding, vec_id))) was
measured SLOWER across all four probe queries at sf0.1 (sim_topk
0.70→1.11 s, sim_ann_lsh 0.59→0.80, sim_ann_ivf 0.50→0.62,
sim_quantize_int8 1.06→1.41): min_by over array payloads falls out of
codegen HashAggregate into object aggregation, while the group-limit
ships whole rows with no per-group buffer. Plan-asserted in
tests/test_plans.py::test_probe_derivation_uses_window_group_limit.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manual_data_ingest_spark.io import load_table
from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd
from manual_data_ingest_spark.registry import register

_SIM_THRESHOLD = 0.35  # fixtures are unclustered random vectors (max cos ~0.48)
_DIM = 64  # fixture embedding dimensionality (FIXTURES.md)


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    """Spark-SQL text of the unrolled left-associated dot product.
    Built as ONE string parsed JVM-side: constructing ~2000 Column
    objects through py4j costs ~2 s of pure plan-build time per query
    (measured); one F.expr call is milliseconds."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(dim))


def dot_unrolled(a: Column | str, b: Column | str, dim: int = _DIM) -> Column:
    """Left-associated unrolled dot product over array<float> columns,
    casting each element to double — compiles to straight-line codegen
    and matches DuckDB's list_dot_product-on-double-lists bit-for-bit.

    Accepts column NAMES (fast path: one F.expr) or Column objects
    (py4j-built tree; avoid in hot paths — see _dot_sql note)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b, dim))
    terms = [a.getItem(i).cast("double") * b.getItem(i).cast("double")
             for i in range(dim)]
    return functools.reduce(operator.add, terms)


def _make_cos_arrow():
    """Arrow-batched numpy cosine over two array<float> columns.

    Why a UDF when the module header preaches codegen expressions: the
    unrolled 3-dot form is ~600 expression NODES, and Catalyst pays to
    analyze/optimize that tree on EVERY action — measured 0.6-0.8 s per
    bench run on sim_topk/sim_ann_lsh at sf0.1 (2 000 vectors — the
    arithmetic itself is microseconds). One ScalarPandasUDF node keeps
    the plan tiny; scoring is vectorized numpy over Arrow batches (the
    same per-block BLAS shape as ``sim_threshold_pairs``). Measured:
    sim_topk 0.83→~0.3 s, sim_ann_lsh 0.72→~0.25 s end-to-end.

    Float note: numpy reduces pairwise, not left-to-right; after the
    shared 6dp rounder the oracle hash stays exact (verified by the
    sweep), same argument as ``sim_threshold_pairs``.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_arrow(pv: pd.Series, emb: pd.Series) -> pd.Series:
        # NULL-in -> NULL-out, like any SQL scalar expression. The
        # result uses the pandas nullable Float64 dtype with a true
        # null MASK: a plain float64 series can only carry np.nan,
        # which Arrow hands to Spark as NaN — and Spark orders NaN
        # ABOVE every double, so NULL-embedding rows would rank FIRST
        # in sim_topk/sim_ann_* score orderings instead of being
        # excluded like a SQL NULL (r2 advisor catch).
        out = pd.Series(pd.NA, index=pv.index, dtype="Float64")
        ok = pv.notna() & emb.notna()
        if ok.any():
            a = np.stack(pv[ok].to_numpy()).astype(np.float64)
            b = np.stack(emb[ok].to_numpy()).astype(np.float64)
            num = np.einsum("ij,ij->i", a, b)
            den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
                np.einsum("ij,ij->i", b, b))
            out[ok] = num / den
        return out

    return cos_arrow


def _make_intdot_arrow():
    """Arrow-batched EXACT dot product over integer-valued array columns
    (quantized vectors): int64 accumulation, so unlike float folds the
    result is identical under ANY summation order — swapping the HOF
    fold (interpreted per element) for this is correctness-free speed."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def intdot_arrow(qa: pd.Series, qb: pd.Series) -> pd.Series:
        # true null mask, not NaN — same rationale as cos_arrow
        out = pd.Series(pd.NA, index=qa.index, dtype="Float64")
        ok = qa.notna() & qb.notna()
        if ok.any():
            a = np.stack(qa[ok].to_numpy()).astype(np.int64)
            b = np.stack(qb[ok].to_numpy()).astype(np.int64)
            out[ok] = np.einsum("ij,ij->i", a, b).astype(np.float64)
        return out

    return intdot_arrow


_COS_ARROW = None
_INTDOT_ARROW = None


def intdot_arrow(qa: Column, qb: Column) -> Column:
    """Lazy wrapper (see ``cos_arrow``)."""
    global _INTDOT_ARROW
    if _INTDOT_ARROW is None:
        _INTDOT_ARROW = _make_intdot_arrow()
    return _INTDOT_ARROW(qa, qb)


def cos_arrow(pv: Column, emb: Column) -> Column:
    """Lazy wrapper: pandas_udf construction parses its return type via
    the active SparkContext, so building it at import time breaks any
    import without a live session (pytest collection). Built on first
    use and cached for the process."""
    global _COS_ARROW
    if _COS_ARROW is None:
        _COS_ARROW = _make_cos_arrow()
    return _COS_ARROW(pv, emb)


def dot_fold(a: Column, b: Column) -> Column:
    """HOF fold dot product — for arbitrary/unknown dimensionality
    (slow path: interpreted per element, excluded from codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column | str, b: Column | str, dim: int = _DIM) -> Column:
    """Cosine similarity of two array<float> columns."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"({_dot_sql(a, b, dim)}) / "
            f"(SQRT({_dot_sql(a, a, dim)}) * SQRT({_dot_sql(b, b, dim)}))")
    return dot_unrolled(a, b, dim) / (
        F.sqrt(dot_unrolled(a, a, dim)) * F.sqrt(dot_unrolled(b, b, dim)))


_E_CTE = """
e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings)
"""

_COS = ("list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))")


@register("sim_topk", f"""
WITH {_E_CTE},
probes AS (
    SELECT vec_id AS probe_id, label, v FROM e
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
)
SELECT probe_id, neighbor_id, score, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM (SELECT probe_id, v FROM probes WHERE label < 5) a
    JOIN e b ON b.vec_id <> a.probe_id
) WHERE rn <= 5
""")
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 5 probe vectors (lowest vec_id of labels 0-4) × full corpus:
    # brute-force cosine, per-probe top-5. Probes broadcast — the corpus
    # is never shuffled; each partition scores its slice, the window
    # merges the global top-k.
    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("pv")))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(probes)
            .join(e, F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("score_raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 5)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


_LSH_BITS = 4  # sign bits of dims 0..3 → 16 buckets (~n/16 candidates/probe)

_LSH_BUCKET_DUCK = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_LSH_BITS))
_LSH_BUCKET_SPARK = " + ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(_LSH_BITS))


def _lsh_index(spark: SparkSession, sf_dir: str):
    """The session-cached LSH ANN index: (bucketed corpus, probe rows).

    Both halves are ONE artifact, built once per (session, sf_dir) and
    checkpointed — the `sim_ann_ivf_pruned` amortization rule (charging
    the index build to every query is not how an index works; at
    100 TB this is the bucket-partitioned table on storage). The probe
    set rides along: re-deriving it per call re-shuffled the whole
    corpus through the label window — measured ~0.15 s/call at the
    bench 4× replica for 5 rows that never change. (tag, sf_dir) keys
    → io.clear_table_cache invalidates both with the fixture."""
    cache = getattr(spark, "_mdis_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_cache = cache
    key = ("lsh_bucketed", sf_dir)
    if key not in cache:
        cache[key] = (load_table(spark, sf_dir, "embeddings")
                      .withColumn("bucket", F.expr(_LSH_BUCKET_SPARK))
                      .localCheckpoint(eager=True))
    b = cache[key]
    pkey = ("lsh_probes", sf_dir)
    if pkey not in cache:
        cache[pkey] = _lsh_probe_derivation(b).localCheckpoint(eager=True)
    return b, cache[pkey]


def _lsh_probe_derivation(b: DataFrame) -> DataFrame:
    """Probe rows (lowest vec_id per label, labels 0-4) off the bucketed
    corpus — split out so tests can assert the BUILD plan compiles to a
    partial WindowGroupLimit (the cached artifact hides it otherwise)."""
    wp = Window.partitionBy("label").orderBy("vec_id")
    return (b.withColumn("rn", F.row_number().over(wp))
            .filter((F.col("rn") == 1) & (F.col("label") < 5))
            .select(F.col("vec_id").alias("probe_id"),
                    F.col("embedding").alias("pv"), "bucket"))


@register("sim_ann_lsh", f"""
WITH {_E_CTE},
b AS (SELECT vec_id, label, v, {_LSH_BUCKET_DUCK} AS bucket FROM embeddings
      JOIN e USING (vec_id, label)),
probes AS (
    SELECT vec_id AS probe_id, v, bucket FROM b WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
)
SELECT probe_id, neighbor_id, score, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM probes a JOIN b ON a.bucket = b.bucket AND b.vec_id <> a.probe_id
) WHERE rn <= 3
""")
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sign-random-projection LSH ANN: bucket = sign bits of the first 4
    # dims (axis-aligned hyperplanes — deterministic, engine-portable);
    # probes scan ONLY their bucket (~1/16 of the corpus) instead of
    # everything. The scale story vs sim_topk's brute force: bucket count
    # grows with corpus size (more bits), candidates per probe stay
    # bounded; the bucket equi-join shuffles by bucket, skew handled by
    # AQE. Recall vs the exact baseline is measured in tests.
    #
    # The bucketed corpus is an ANN INDEX: built once per (session,
    # sf_dir) and cached via localCheckpoint, the `sim_ann_ivf_pruned`
    # amortization rule (charging the index build to every query is
    # not how an index works). At 100 TB this cache is the
    # bucket-partitioned table on storage.
    b, probes = _lsh_index(spark, sf_dir)
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(probes)
            .join(b, ["bucket"])
            .filter(F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("score_raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


@register("sim_ann_ivf", f"""
WITH {_E_CTE},
probes AS (
    SELECT vec_id AS probe_id, label, v FROM e WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
)
SELECT probe_id, neighbor_id, score, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM probes a JOIN e b ON a.label = b.label AND b.vec_id <> a.probe_id
) WHERE rn <= 3
""")
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-style ANN with `label` as the coarse cell (nprobe=1): each
    # probe scans only its own cell. At 100 TB the cells come from a
    # k-means coarse quantizer and the table is WRITTEN partitioned by
    # cell, so the probe→cell join prunes file partitions (DPP) and
    # reads ~1/k of the data — the physical design sim_topk can't have.
    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("label").alias("plabel"),
                      F.col("embedding").alias("pv")))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(probes)
            .join(e, (F.col("plabel") == F.col("label"))
                  & (F.col("vec_id") != F.col("probe_id")))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("score_raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


@register("sim_threshold_pairs", f"""
WITH {_E_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
       {sql_rnd(_COS, 6)} AS score
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS} >= {_SIM_THRESHOLD}
""")
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All intra-label pairs with cosine ≥ threshold — the engine's
    DEFAULT strategy, computed the production way: per-block BLAS
    (``applyInPandas``), not per-pair expressions.

    Each label block's vectors become one float64 matrix M, scores =
    M·Mᵀ / outer(norms) in one BLAS call, upper-triangle thresholding
    emits the pairs. Per-pair cost is a few SIMD flops vs ~200
    codegen'd scalar ops on a per-pair expression self-join — measured
    ~5× here (SCALE.md), and the gap widens with block size. Blocking
    keeps the candidate count at Σ per-label n², not corpus n².

    Float note: BLAS accumulates pairwise/SIMD, not left-to-right, so
    low-bit results can differ from the SQL fold before rounding; after
    the shared 6dp rounder a divergence needs a score within ~1e-10 of
    a rounding boundary — never observed, and the oracle hash-checks it
    stays exact. At 100 TB blocks come from the IVF/LSH partitioner and
    each executor runs one matmul per block: the classic blocked
    similarity-join design.
    """
    import numpy as np
    import pandas as pd

    thr = _SIM_THRESHOLD

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf[pdf["embedding"].notna()]  # NULL vectors score nothing
        if len(pdf) == 0:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64"),
                                 "label": pd.Series([], dtype="int32"),
                                 "score": pd.Series([], dtype="float64")})
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        s = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = s[iu, ju] >= thr
        sc = s[iu[keep], ju[keep]]
        return pd.DataFrame({
            "id_a": ids[iu[keep]],
            "id_b": ids[ju[keep]],
            "label": pdf["label"].iloc[0] if len(ids) else 0,
            "score": np.floor(sc * 1e6 + 0.5) / 1e6,
        })

    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInPandas(
        block, schema="id_a long, id_b long, label int, score double")


@register("sim_normalize_materialize", f"""
WITH {_E_CTE},
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT vec_id, label,
       {sql_rnd('nrm', 6)} AS norm,
       array_to_string(list_transform(v,
           x -> floor((x / nrm) * 1000000.0 + 0.5)::BIGINT::VARCHAR),
           ',') AS unit_vec_q
FROM n
""")
def sim_normalize_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # THE 100 TB answer to per-pair norm cost (module header): normalize
    # ONCE into a materialized table so every downstream similarity op
    # computes a single dot per pair against unit vectors. This operator
    # is that materialization — per-element division by the bit-exact
    # sequential-fold norm. Contract surface: components quantized to
    # 1e-6 INTEGERS and comma-joined — integer→string formatting is
    # deterministic across engines and driver-hashable, while float
    # formatting (exponent spelling) and array cells are not (r1 red
    # class). Map-only; at scale this is a one-time rewrite partitioned
    # by the ANN cell key.
    e = load_table(spark, sf_dir, "embeddings")
    en = e.select("vec_id", "label", "embedding",
                  F.sqrt(dot_unrolled("embedding", "embedding")).alias("nrm"))
    # CAST the multiplier literal: a bare 1000000.0 literal is DECIMAL in
    # Spark SQL, which would silently run decimal arithmetic — the double
    # path must be explicit in SQL text (r1 PARITY trap)
    unit_q = F.expr(
        "array_join(transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)"
        " / nrm) * CAST(1000000.0 AS DOUBLE) + 0.5) AS STRING)), ',')")
    return en.select("vec_id", "label",
                     rnd(F.col("nrm"), 6).alias("norm"),
                     unit_q.alias("unit_vec_q"))


@register("sim_ann_ivf_pruned", f"""
WITH {_E_CTE},
probes AS (
    SELECT vec_id AS probe_id, label, v FROM e WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
)
SELECT probe_id, neighbor_id, score, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM probes a JOIN e b ON a.label = b.label AND b.vec_id <> a.probe_id
) WHERE rn <= 3
""")
def sim_ann_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sim_ann_ivf`` with its 100 TB physical design MADE REAL: the
    corpus is WRITTEN partitioned by cell (`label`), and the probe→cell
    join prunes the scan to the probed partitions — the plan carries a
    `dynamicpruning` partition filter, so unprobed cells are never read
    (plan-asserted in tests/test_plans.py). Same oracle as
    ``sim_ann_ivf``: the physical layout must not change the answer.

    At 100 TB this is THE difference between reading ~1/k of the bytes
    and reading everything: label here stands in for a k-means coarse
    quantizer cell, the partitioned write is the index build (one-time,
    amortized over every query), and nprobe>1 simply widens the pruned
    partition set. The partitioned copy is cached per (sf_dir) for the
    session — rebuilding the index per query would charge the write to
    every probe, which is not how an index works.
    """
    key = ("ivf_pruned_dir", sf_dir)
    cache = getattr(spark, "_mdis_cache", None)
    if cache is None:
        cache = {}
        spark._mdis_cache = cache
    emb_schema = load_table(spark, sf_dir, "embeddings").schema
    if key not in cache:
        from manual_data_ingest_spark.sources.scans import _tmpdir
        d = _tmpdir("mdis_ivf_")
        (load_table(spark, sf_dir, "embeddings")
         .write.mode("overwrite").partitionBy("label").parquet(d))
        cache[key] = d
    # explicit schema: an empty corpus writes zero part files and
    # inference fails (empty-input sweep finding)
    e = spark.read.schema(emb_schema).parquet(cache[key])

    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("label").alias("plabel"),
                      F.col("embedding").alias("pv")))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(probes)
            .join(e, (F.col("plabel") == F.col("label"))
                  & (F.col("vec_id") != F.col("probe_id")))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("score_raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


_Q_CTE = """
q AS (
    SELECT vec_id, label,
           greatest(list_max(list_transform(embedding,
                                            x -> abs(x::DOUBLE))), 1e-12)
               / 127.0 AS s,
           list_transform(embedding,
               x -> floor(x::DOUBLE / (greatest(list_max(list_transform(
                        embedding, y -> abs(y::DOUBLE))), 1e-12) / 127.0)
                    + 0.5)) AS qv
    FROM embeddings)
"""

_QDOT = "list_dot_product(a.qv, b.qv) * a.s * b.s"


@register("sim_quantize_int8", f"""
WITH {_Q_CTE},
probes AS (
    SELECT vec_id AS probe_id, label, s, qv FROM q
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
)
SELECT probe_id, neighbor_id, score_q, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {{srnd}} AS score_q,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_QDOT} DESC, b.vec_id) AS rn
    FROM (SELECT probe_id, s, qv FROM probes WHERE label < 5) a
    JOIN q b ON b.vec_id <> a.probe_id
) WHERE rn <= 5
""".format(srnd=sql_rnd(_QDOT, 6)))
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization + top-k over the
    quantized dot product — the memory lever for 100 TB ANN: 4×
    smaller vectors (and integer SIMD) at a small recall cost, the
    same trade IVF-PQ/scalar-quantized FAISS indexes make. Recall@5 of
    the quantized ranking vs the exact one is pinned in
    tests/test_recall.py.

    Determinism discipline: the quantizer uses floor(x/s + 0.5), not
    `round` — round-half semantics differ by engine, floor arithmetic
    is IEEE-identical; both engines then rank on the SAME integer dot
    product rescaled by the two per-vector scales (rounded 6dp, vec_id
    tie-break).
    """
    e = load_table(spark, sf_dir, "embeddings")
    s = (F.greatest(F.array_max(F.transform("embedding",
                                            lambda x: F.abs(x.cast("double")))),
                    F.lit(1e-12)) / 127.0)
    q = e.select(
        "vec_id", "label", s.alias("s"),
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") / s + 0.5)).alias("qv"))
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (q.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("s").alias("ps"), F.col("qv").alias("pqv")))
    # exact int64 dot via Arrow (order-free — integer sums), then the two
    # per-vector scales; the previous HOF fold was interpreted per element
    qdot = (intdot_arrow(F.col("pqv"), F.col("qv"))
            * F.col("ps") * F.col("s"))
    return (F.broadcast(probes)
            .join(q, F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    qdot.alias("raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 5)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("raw"), 6).alias("score_q"), "rn"))


@register("sim_sparse_tfidf_topk", f"""
WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS MATERIALIZED (
    SELECT doc_id, token, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
), df AS (
    SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), n AS (SELECT count(*)::DOUBLE AS n FROM documents),
w AS MATERIALIZED (
    SELECT doc_id, token, tf * ln((SELECT n FROM n) / df) AS w
    FROM tf JOIN df USING (token)
), norm AS (
    SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1
), wn AS MATERIALIZED (
    SELECT w.doc_id, token, w / nrm AS wn
    FROM w JOIN norm ON w.doc_id = norm.doc_id
    WHERE nrm > 0
), sims AS (
    SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
           sum(p.wn * c.wn) AS score_raw
    FROM wn p JOIN wn c ON p.token = c.token AND p.doc_id <> c.doc_id
    WHERE p.doc_id < 10
    GROUP BY 1, 2
)
SELECT probe_id, neighbor_id, {sql_rnd('score_raw', 6)} AS score, rn
-- rank on the ROUNDED score (PARITY #58a, same class as
-- sim_bm25_topk): a float group-sum ranking key can tie exactly in
-- one engine and sit one ulp apart in the other's accumulation order
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY {sql_rnd('score_raw', 6)} DESC,
                                            neighbor_id) AS rn
      FROM sims)
WHERE rn <= 3
""")
def sim_sparse_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine top-k over tf-idf vectors via the INVERTED-INDEX
    join — text similarity without dense embeddings, and the sparse
    complement to `sim_topk`'s dense brute force.

    tf-idf weights L2-normalize per doc, so the cosine is a plain dot
    product; the dot product of SPARSE vectors is a posting-list join:
    probes and corpus meet ON TOKEN (only terms they share contribute),
    then partial-sum per (probe, doc). Nothing is ever all-pairs — the
    candidate set is bounded by shared-token postings, exactly the
    structure `dedup_near_jaccard` exploits, with weights instead of
    counts. At 100 TB: idf and norms are per-term/per-doc aggregates
    (broadcastable model state); hot stop-words dominate postings and
    get dropped by an idf floor — the stop-shingle cutoff's twin. The
    10 lowest doc_ids probe; top-3 neighbors each, (score desc, id)
    tie-broken.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = (tok.groupBy("doc_id", "token")
          .agg(F.count("*").cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("n"))
    w = (tf.join(df, "token").crossJoin(F.broadcast(n))
         .select("doc_id", "token",
                 (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("w")))
    norm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w")))
                                   .alias("nrm"))
    wn = (w.join(norm, "doc_id").filter(F.col("nrm") > 0)
          .select("doc_id", "token", (F.col("w") / F.col("nrm")).alias("wn")))
    probes = (wn.filter(F.col("doc_id") < 10)
              .select(F.col("doc_id").alias("probe_id"), "token",
                      F.col("wn").alias("pwn")))
    sims = (F.broadcast(probes)
            .join(wn, "token")
            .filter(F.col("doc_id") != F.col("probe_id"))
            .groupBy("probe_id", F.col("doc_id").alias("neighbor_id"))
            .agg(F.sum(F.col("pwn") * F.col("wn")).alias("score_raw")))
    # ROUNDED ranking key (PARITY #58a — the sim_bm25_topk class,
    # fixed here proactively: same group-sum score shape)
    rn = F.row_number().over(
        Window.partitionBy("probe_id")
        .orderBy(rnd(F.col("score_raw"), 6).desc(), F.col("neighbor_id")))
    return (sims.withColumn("rn", rn).filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


@register("sim_knn_graph", f"""
WITH {_E_CTE},
pop AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 0)
SELECT src, dst, score, rn FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM pop a JOIN pop b ON b.vec_id <> a.vec_id
) WHERE rn <= 5
""")
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric-population kNN graph (k=5, cosine) over the every-5th
    subcorpus: the edge list feeding graph clustering / connected-
    components dedup (`dedup_clusters` consumes exactly this shape) and
    the offline build step of graph-ANN indexes.

    Unlike `sim_topk` (5 fixed probes), EVERY population vector is a
    query. The query side broadcasts (n/5 rows of 64 floats — KB-scale
    here, and still ≪ executor memory at sf100); the corpus side
    streams partition-local, so no shuffle moves vectors — only the
    per-src top-k window shuffles (src, dst, score) triples, bounded at
    k·|pop|. At 100 TB the broadcast gives way to IVF blocking
    (`sim_ann_ivf`'s coarse quantizer) with the SAME window tail; the
    scoring stage (`cos_arrow`, Arrow-batched numpy) is shared with the
    whole sim_* family.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pop = e.filter(F.col("vec_id") % 5 == 0)
    q = pop.select(F.col("vec_id").alias("src"),
                   F.col("embedding").alias("pv"))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(q)
            .join(pop, F.col("vec_id") != F.col("src"))
            .select("src", F.col("vec_id").alias("dst"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("src")
                .orderBy(F.col("score_raw").desc(), F.col("dst"))))
            .filter(F.col("rn") <= 5)
            .select("src", "dst", rnd(F.col("score_raw"), 6).alias("score"),
                    "rn"))


@register("sim_knn_graph_blocked", f"""
WITH {_E_CTE},
pop AS (SELECT vec_id, v, {_LSH_BUCKET_DUCK} AS bucket
        FROM embeddings JOIN e USING (vec_id) WHERE vec_id % 5 = 0)
SELECT src, dst, score, rn FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM pop a JOIN pop b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
) WHERE rn <= 5
""")
def sim_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked approximate kNN graph — `sim_knn_graph`'s scale
    twin: candidate pairs restricted to the same sign-projection
    bucket (`sim_ann_lsh`'s 16 buckets), so pair volume drops ~16× and
    the bucket equi-join SHUFFLES instead of broadcasting a side —
    the shape that survives when the population outgrows a broadcast.

    Measured (population = n/5, median of 3): brute twin 1.60 s /
    3.93 s / 34.7 s at 1×/4×/16× (pairs grow 16×/256× — superlinear
    wall), blocked twin bounded (see BASELINE.md r3 scale table).
    Recall vs the exact graph is the standard LSH trade: neighbors
    in other buckets are missed; more bits + multi-probe recover it.
    At 100 TB the bucket key becomes (IVF centroid × sign bits) and
    this plan is unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pop = (e.filter(F.col("vec_id") % 5 == 0)
           .withColumn("bucket", F.expr(_LSH_BUCKET_SPARK)))
    q = pop.select(F.col("vec_id").alias("src"),
                   F.col("embedding").alias("pv"), "bucket")
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (q.join(pop, "bucket")
            .filter(F.col("vec_id") != F.col("src"))
            .select("src", F.col("vec_id").alias("dst"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("src")
                .orderBy(F.col("score_raw").desc(), F.col("dst"))))
            .filter(F.col("rn") <= 5)
            .select("src", "dst", rnd(F.col("score_raw"), 6).alias("score"),
                    "rn"))


_MMR_LAMBDA = 0.7
_MMR_POOL = 8   # relevance-ranked candidate pool per probe
_MMR_K = 3      # diversified picks

_MMR_COS_PC = ("list_dot_product(p.v, c.v) / "
               "(sqrt(list_dot_product(p.v, p.v))"
               " * sqrt(list_dot_product(c.v, c.v)))")
_MMR_COS_AB = ("list_dot_product(va.v, vb.v) / "
               "(sqrt(list_dot_product(va.v, va.v))"
               " * sqrt(list_dot_product(vb.v, vb.v)))")


@register("sim_mmr_diversify", f"""
WITH {_E_CTE},
probes AS (
    SELECT vec_id AS probe_id, label, v FROM e WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
),
cand AS (
    SELECT p.probe_id, c.vec_id AS cid,
           {sql_rnd(_MMR_COS_PC, 6)} AS rel6
    FROM probes p JOIN e c ON c.vec_id <> p.probe_id
    QUALIFY row_number() OVER (PARTITION BY p.probe_id
                               ORDER BY {_MMR_COS_PC} DESC, c.vec_id)
            <= {_MMR_POOL}
),
sims AS (
    SELECT a.probe_id, a.cid AS i, b.cid AS j,
           {sql_rnd(_MMR_COS_AB, 6)} AS sim6
    FROM cand a
    JOIN cand b ON a.probe_id = b.probe_id AND a.cid <> b.cid
    JOIN e va ON va.vec_id = a.cid
    JOIN e vb ON vb.vec_id = b.cid
),
s1 AS (
    SELECT probe_id, cid, rel6 FROM cand
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY rel6 DESC, cid) = 1
),
m2 AS (
    SELECT c.probe_id, c.cid, c.rel6,
           floor(({_MMR_LAMBDA} * c.rel6
                  - {1.0 - _MMR_LAMBDA} * s.sim6) * 1000000.0 + 0.5)
               / 1000000.0 AS mmr
    FROM cand c
    JOIN s1 ON c.probe_id = s1.probe_id AND c.cid <> s1.cid
    JOIN sims s ON s.probe_id = c.probe_id AND s.i = c.cid AND s.j = s1.cid
),
s2 AS (
    SELECT probe_id, cid, rel6, mmr FROM m2
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY mmr DESC, cid) = 1
),
m3 AS (
    SELECT c.probe_id, c.cid, c.rel6,
           floor(({_MMR_LAMBDA} * c.rel6
                  - {1.0 - _MMR_LAMBDA} * greatest(sa.sim6, sb.sim6))
                 * 1000000.0 + 0.5) / 1000000.0 AS mmr
    FROM cand c
    JOIN s1 ON c.probe_id = s1.probe_id AND c.cid <> s1.cid
    JOIN s2 ON c.probe_id = s2.probe_id AND c.cid <> s2.cid
    JOIN sims sa ON sa.probe_id = c.probe_id AND sa.i = c.cid
                AND sa.j = s1.cid
    JOIN sims sb ON sb.probe_id = c.probe_id AND sb.i = c.cid
                AND sb.j = s2.cid
),
s3 AS (
    SELECT probe_id, cid, rel6, mmr FROM m3
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY mmr DESC, cid) = 1
)
SELECT probe_id, 1 AS rank, cid AS neighbor_id, rel6 AS relevance,
       rel6 AS mmr_score FROM s1
UNION ALL
SELECT probe_id, 2, cid, rel6, mmr FROM s2
UNION ALL
SELECT probe_id, 3, cid, rel6, mmr FROM s3
""")
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from each probe's top-8
    relevance pool, pick 3 results that trade relevance against
    redundancy (score = λ·rel − (1−λ)·max-sim-to-already-picked,
    λ=0.7) — the standard diversification pass between "nearest
    neighbors" and "useful retrieval set" (near-duplicate top hits
    collapse to one slot; RAG context windows stop wasting tokens on
    the same passage twice).

    Scale shape: the expensive stage is the relevance pass, which IS
    `sim_topk`'s topology (probes broadcast, corpus never shuffles);
    everything after operates on pools of 8 rows/probe — the pairwise
    sim matrix is 8×8 per probe and the K=3 greedy unrolls into three
    dim-sized argmax windows. Cross-engine determinism: selection
    steps rank on 6dp-ROUNDED relevance/similarity (the engines'
    raw-cosine agreement at 6dp is already load-bearing for every
    sim_* oracle), and each MMR score is the identical IEEE expression
    over those rounded inputs, with cid tie-breaks throughout.
    """
    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("pv")))
    rel_raw = cos_arrow(F.col("pv"), F.col("embedding"))
    cand = (F.broadcast(probes)
            .join(e, F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cvec"),
                    rel_raw.alias("rel_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("rel_raw").desc(), F.col("cid"))))
            .filter(F.col("rn") <= _MMR_POOL)
            .select("probe_id", "cid", "cvec",
                    rnd(F.col("rel_raw"), 6).alias("rel6"))
            .localCheckpoint(eager=True))  # 40 rows; every later stage reuses
    a, b = cand.alias("a"), cand.alias("b")
    sims = (a.join(b, (F.col("a.probe_id") == F.col("b.probe_id"))
                   & (F.col("a.cid") != F.col("b.cid")))
            .select(F.col("a.probe_id").alias("probe_id"),
                    F.col("a.cid").alias("i"), F.col("b.cid").alias("j"),
                    rnd(cos_arrow(F.col("a.cvec"), F.col("b.cvec")), 6)
                    .alias("sim6")))
    lam, mu = F.lit(_MMR_LAMBDA), F.lit(1.0 - _MMR_LAMBDA)

    def argmax(df, score_col):
        return (df.withColumn("arn", F.row_number().over(
            Window.partitionBy("probe_id")
            .orderBy(F.col(score_col).desc(), F.col("cid"))))
            .filter(F.col("arn") == 1).drop("arn"))

    pool = cand.select("probe_id", "cid", "rel6")

    def sims_as(tag: str):
        # fully renamed copy: all MMR-step joins stay unambiguous even
        # though pool/sims/s1/s2 share the cand lineage
        return sims.select(F.col("probe_id").alias(f"{tag}_pid"),
                           F.col("i").alias(f"{tag}_i"),
                           F.col("j").alias(f"{tag}_j"),
                           F.col("sim6").alias(f"{tag}_sim"))

    s1 = argmax(pool, "rel6").withColumnRenamed("cid", "s1_cid")
    sa1 = sims_as("sa")
    m2 = (pool.join(s1.select("probe_id", "s1_cid"), "probe_id")
          .filter(F.col("cid") != F.col("s1_cid"))
          .join(sa1, (F.col("sa_pid") == F.col("probe_id"))
                & (F.col("sa_i") == F.col("cid"))
                & (F.col("sa_j") == F.col("s1_cid")))
          .select("probe_id", "cid", "rel6",
                  rnd(lam * F.col("rel6") - mu * F.col("sa_sim"), 6)
                  .alias("mmr")))
    s2 = argmax(m2, "mmr").withColumnRenamed("cid", "s2_cid")
    sb1 = sims_as("sb")
    m3 = (pool.join(s1.select("probe_id", "s1_cid"), "probe_id")
          .join(s2.select("probe_id", "s2_cid"), "probe_id")
          .filter((F.col("cid") != F.col("s1_cid"))
                  & (F.col("cid") != F.col("s2_cid")))
          .join(sims_as("sc"), (F.col("sc_pid") == F.col("probe_id"))
                & (F.col("sc_i") == F.col("cid"))
                & (F.col("sc_j") == F.col("s1_cid")))
          .join(sb1, (F.col("sb_pid") == F.col("probe_id"))
                & (F.col("sb_i") == F.col("cid"))
                & (F.col("sb_j") == F.col("s2_cid")))
          .select("probe_id", "cid", "rel6",
                  rnd(lam * F.col("rel6")
                      - mu * F.greatest(F.col("sc_sim"), F.col("sb_sim")),
                      6).alias("mmr")))
    s3 = argmax(m3, "mmr")
    one = F.lit(1)
    return (s1.select("probe_id", one.alias("rank"),
                      F.col("s1_cid").alias("neighbor_id"),
                      F.col("rel6").alias("relevance"),
                      F.col("rel6").alias("mmr_score"))
            .unionByName(s2.select("probe_id", F.lit(2).alias("rank"),
                                   F.col("s2_cid").alias("neighbor_id"),
                                   F.col("rel6").alias("relevance"),
                                   F.col("mmr").alias("mmr_score")))
            .unionByName(s3.select("probe_id", F.lit(3).alias("rank"),
                                   F.col("cid").alias("neighbor_id"),
                                   F.col("rel6").alias("relevance"),
                                   F.col("mmr").alias("mmr_score"))))


@register("sim_ann_recall_report", f"""
WITH {_E_CTE},
b AS (SELECT vec_id, label, v, {_LSH_BUCKET_DUCK} AS bucket FROM embeddings
      JOIN e USING (vec_id, label)),
probes AS (
    SELECT vec_id AS probe_id, v, bucket FROM b WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
),
exact AS (
    SELECT probe_id, neighbor_id FROM (
        SELECT a.probe_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.probe_id
                                  ORDER BY {_COS} DESC, b.vec_id) AS rn
        FROM probes a JOIN b ON b.vec_id <> a.probe_id
    ) WHERE rn <= 3
),
ann AS (
    SELECT probe_id, neighbor_id FROM (
        SELECT a.probe_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.probe_id
                                  ORDER BY {_COS} DESC, b.vec_id) AS rn
        FROM probes a JOIN b
          ON a.bucket = b.bucket AND b.vec_id <> a.probe_id
    ) WHERE rn <= 3
)
SELECT x.probe_id, 3::BIGINT AS k,
       count(a.neighbor_id)::BIGINT AS n_hit,
       {sql_rnd('count(a.neighbor_id) / 3.0', 4)} AS recall_at_k
FROM exact x LEFT JOIN ann a
  ON x.probe_id = a.probe_id AND x.neighbor_id = a.neighbor_id
GROUP BY x.probe_id
""")
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the LSH index against the
    exact brute-force neighbors, per probe — the measurement every
    production ANN deployment runs before (and periodically after)
    trusting the index. Recall < 1 means a true neighbor hashed into a
    different bucket; the knob is more hyperplanes/multi-probe, and
    this report is how you tune it on real data (complements
    tests/test_recall.py, which pins recall on the FIXED fixture).

    Shape: both arms share the session-cached LSH index artifact
    (`_lsh_index`); the exact arm is the sim_topk broadcast
    probe×corpus scan, the ANN arm the bucket equi-join — then a
    5×3-row LEFT JOIN and a 5-group aggregate, all dim-sized.
    recall_at_k = n_hit/3.0 takes exact multiples of 1/3 through one
    IEEE division on both engines, rounded 4dp. Tie-breaks: both topk
    arms order by raw cosine then vec_id, the guard-banded ordering
    every sim_* op shares.
    """
    b, probes = _lsh_index(spark, sf_dir)
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    topw = Window.partitionBy("probe_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id"))

    def top3(joined: DataFrame) -> DataFrame:
        return (joined
                .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                        score.alias("s"))
                .withColumn("rn", F.row_number().over(topw))
                .filter(F.col("rn") <= 3)
                .select("probe_id", "neighbor_id"))

    p_slim = probes.select("probe_id", "pv")
    exact = top3(F.broadcast(p_slim)
                 .join(b, F.col("vec_id") != F.col("probe_id")))
    ann = top3(F.broadcast(probes)
               .join(b, ["bucket"])
               .filter(F.col("vec_id") != F.col("probe_id")))
    hit = ann.withColumnRenamed("neighbor_id", "hit_id") \
             .withColumnRenamed("probe_id", "hit_pid")
    return (exact.join(hit, (F.col("probe_id") == F.col("hit_pid"))
                       & (F.col("neighbor_id") == F.col("hit_id")), "left")
            .groupBy("probe_id")
            .agg(F.lit(3).cast("long").alias("k"),
                 F.count("hit_id").alias("n_hit"))
            .select("probe_id", "k", F.col("n_hit").cast("long").alias("n_hit"),
                    rnd(F.col("n_hit") / 3.0, 4).alias("recall_at_k")))


@register("sim_ann_lsh_multiprobe", f"""
WITH {_E_CTE},
b AS (SELECT vec_id, label, v, {_LSH_BUCKET_DUCK} AS bucket FROM embeddings
      JOIN e USING (vec_id, label)),
probes AS (
    SELECT vec_id AS probe_id, v, bucket FROM b WHERE label < 5
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
),
pb AS (
    SELECT probe_id, v, unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                                xor(bucket, 4), xor(bucket, 8)]) AS bucket
    FROM probes
)
SELECT probe_id, neighbor_id, score, rn FROM (
    SELECT a.probe_id, b.vec_id AS neighbor_id,
           {sql_rnd(_COS, 6)} AS score,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {_COS} DESC, b.vec_id) AS rn
    FROM pb a JOIN b ON a.bucket = b.bucket AND b.vec_id <> a.probe_id
) WHERE rn <= 3
""")
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each probe scans its own bucket PLUS the 4
    one-bit-flip neighbor buckets (Hamming-1 ring) — the standard
    recall fix for sign-hash LSH (LSH-forest / multi-probe LSH): a
    near neighbor that lands just across one hyperplane is recovered
    without doubling the index. `sim_ann_recall_report` shows plain
    4-bit LSH at recall@3 of 0-2/3 on the random fixtures; multiprobe
    widens candidates 5/16 of the corpus instead of 1/16 and recall is
    provably monotone non-decreasing (candidate set is a superset, and
    any candidate outranking a true top-3 hit is itself a true top-3
    hit — tests/test_recall.py pins the inequality per probe).

    Scale: the probe fan-out is a 5-rows-per-probe explode on the
    BROADCAST side — the corpus index neither grows nor reshuffles;
    candidates stay ~5/2^bits of the corpus per probe. At production
    bit-widths (say 16-20 bits) the Hamming-1 ring is 17-21 buckets
    and the same plan holds.
    """
    b, probes = _lsh_index(spark, sf_dir)
    pb = probes.select(
        "probe_id", "pv",
        F.explode(F.array(
            F.col("bucket"),
            F.expr("bucket ^ 1"), F.expr("bucket ^ 2"),
            F.expr("bucket ^ 4"), F.expr("bucket ^ 8"))).alias("bucket"))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    return (F.broadcast(pb)
            .join(b, ["bucket"])
            .filter(F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    score.alias("score_raw"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("score_raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("score_raw"), 6).alias("score"), "rn"))


#: Chunk size for the chunk-pair BLAS decomposition: the BLAS sweet
#: spot, and the grain that kept the 64× run at the plain path's speed
#: (128 over-fragmented it to 43 s, BASELINE.md). A memory/parallelism
#: knob, not a semantic one — output is chunking-invariant by
#: construction (pinned in tests/test_new_ops.py at chunk=64). Read on
#: the driver when the plan is built.
_CHUNK_ROWS = 4096


@register("sim_threshold_pairs_chunked", f"""
WITH {_E_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
       {sql_rnd(_COS, 6)} AS score
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS} >= {_SIM_THRESHOLD}
""")
def sim_threshold_pairs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_threshold_pairs` with the per-block quadratic BOUNDED — the
    r5 64× block measured the label-blocked BLAS at 12.2 s (blocks 64×
    bigger → M·Mᵀ memory and flops grow quadratically PER TASK, the
    one super-linear default path in the table). This twin runs the
    standard chunk-pair decomposition from the blocked-similarity-join
    literature: each label block splits into ⌈n/chunk⌉ row chunks,
    every unordered CHUNK PAIR (ci ≤ cj) becomes one `applyInPandas`
    task computing a ≤ chunk×chunk matmul — per-task memory is O(chunk²)
    REGARDLESS of block size, and the pair tasks parallelize across the
    cluster instead of serializing inside one worker.

    Cost model made explicit: each row is shuffled to ⌈n/chunk⌉ tasks
    (the unavoidable replication of exact all-pairs); flops are
    identical to the one-shot matmul — what changes is the MEMORY bound
    and the parallelism grain. Same oracle as `sim_threshold_pairs`;
    row-identical output pinned at both a single-chunk SF and the
    multi-chunk sf0.1 (tests/test_new_ops.py).
    """
    import numpy as np
    import pandas as pd

    thr = _SIM_THRESHOLD

    e = load_table(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count("*").alias("n"))
    nch = F.greatest(F.lit(1),
                     F.ceil(F.col("n") / F.lit(_CHUNK_ROWS))).cast("int")
    ec = (e.join(counts, "label")
          .withColumn("nch", nch)
          .withColumn("my", (F.col("vec_id") % F.col("nch")).cast("int")))
    fan = (ec.select(
        "label", "vec_id", "embedding", "my",
        F.explode(F.sequence(F.lit(0), F.col("nch") - 1)).alias("other"))
        .withColumn("ci", F.least("my", "other"))
        .withColumn("cj", F.greatest("my", "other"))
        .drop("other"))

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "label": pd.Series([], dtype="int32"),
                              "score": pd.Series([], dtype="float64")})
        pdf = pdf[pdf["embedding"].notna()]
        if len(pdf) == 0:
            return empty
        label = pdf["label"].iloc[0]
        ci, cj = pdf["ci"].iloc[0], pdf["cj"].iloc[0]
        a = pdf[pdf["my"] == ci].sort_values("vec_id")
        ia = a["vec_id"].to_numpy()
        if len(ia) == 0:
            return empty
        ma = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((ma * ma).sum(axis=1))
        if ci == cj:
            s = (ma @ ma.T) / np.outer(na, na)
            iu, ju = np.triu_indices(len(ia), k=1)
            keep = s[iu, ju] >= thr
            id_a, id_b = ia[iu[keep]], ia[ju[keep]]
            sc = s[iu[keep], ju[keep]]
        else:
            b = pdf[pdf["my"] == cj].sort_values("vec_id")
            ib = b["vec_id"].to_numpy()
            if len(ib) == 0:
                return empty
            mb = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            nb = np.sqrt((mb * mb).sum(axis=1))
            s = (ma @ mb.T) / np.outer(na, nb)
            iu, ju = np.where(s >= thr)
            xa, xb = ia[iu], ib[ju]
            id_a, id_b = np.minimum(xa, xb), np.maximum(xa, xb)
            sc = s[iu, ju]
        return pd.DataFrame({
            "id_a": id_a, "id_b": id_b,
            "label": label,
            "score": np.floor(sc * 1e6 + 0.5) / 1e6,
        })

    return fan.groupBy("label", "ci", "cj").applyInPandas(
        block, schema="id_a long, id_b long, label int, score double")


_RRF_K = 60      # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 10  # per-arm candidate depth feeding the fusion


@register("sim_rrf_fusion", f"""
WITH {_E_CTE}, {_Q_CTE},
dense AS (
    SELECT * FROM (
        SELECT a.probe_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.probe_id
                                  ORDER BY {_COS} DESC, b.vec_id) AS r
        FROM (SELECT vec_id AS probe_id, v FROM e WHERE label < 5
              QUALIFY row_number() OVER (PARTITION BY label
                                         ORDER BY vec_id) = 1) a
        JOIN e b ON b.vec_id <> a.probe_id
    ) WHERE r <= {_RRF_DEPTH}
),
quant AS (
    SELECT * FROM (
        SELECT a.probe_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.probe_id
                                  ORDER BY {_QDOT} DESC, b.vec_id) AS r
        FROM (SELECT vec_id AS probe_id, s, qv FROM q WHERE label < 5
              QUALIFY row_number() OVER (PARTITION BY label
                                         ORDER BY vec_id) = 1) a
        JOIN q b ON b.vec_id <> a.probe_id
    ) WHERE r <= {_RRF_DEPTH}
)
SELECT probe_id, neighbor_id, {sql_rnd('raw', 6)} AS rrf_score, rn
FROM (
    SELECT probe_id, neighbor_id, raw,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY raw DESC, neighbor_id) AS rn
    FROM (
        SELECT COALESCE(d.probe_id, x.probe_id) AS probe_id,
               COALESCE(d.neighbor_id, x.neighbor_id) AS neighbor_id,
               COALESCE(1.0::DOUBLE / ({_RRF_K} + d.r), 0.0)
             + COALESCE(1.0::DOUBLE / ({_RRF_K} + x.r), 0.0) AS raw
        FROM dense d FULL OUTER JOIN quant x
          ON d.probe_id = x.probe_id AND d.neighbor_id = x.neighbor_id
    )
) WHERE rn <= 3
""")
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval arms — the standard way
    hybrid search (dense + quantized / lexical + dense) combines
    rankings without comparable scores: fused(c) = sum over arms of
    1/(60 + rank_arm(c)), candidates = the union of each arm's
    top-10. Here the arms are the exact-cosine ranking (`sim_topk`'s
    topology) and the int8-quantized ranking (`sim_quantize_int8`'s),
    so the fusion also measures how much quantization reorders the
    head of the list.

    Scale shape: both arms broadcast the 5 probes and ride the corpus
    scan (never shuffling it); each arm's output is <= 5*10 rows, so
    the fusion full-outer join and the final window are dim-sized.
    Determinism: fused scores are sums of reciprocals of small
    integers computed in the same order on both engines (COALESCE(
    dense)+COALESCE(quant)) — bit-identical; ranks tie-break on
    vec_id; the rank-10/11 per-arm cut margins are pinned in
    tests/test_guard_band.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")

    # dense arm: exact cosine, depth 10
    probes_d = (e.withColumn("rn", F.row_number().over(wp))
                .filter((F.col("rn") == 1) & (F.col("label") < 5))
                .select(F.col("vec_id").alias("probe_id"),
                        F.col("embedding").alias("pv")))
    dense = (F.broadcast(probes_d)
             .join(e, F.col("vec_id") != F.col("probe_id"))
             .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                     cos_arrow(F.col("pv"), F.col("embedding")).alias("raw"))
             .withColumn("r", F.row_number().over(
                 Window.partitionBy("probe_id")
                 .orderBy(F.col("raw").desc(), F.col("neighbor_id"))))
             .filter(F.col("r") <= _RRF_DEPTH)
             .select("probe_id", "neighbor_id", F.col("r").alias("r_d")))

    # quantized arm: int8 symmetric quantization, depth 10
    s = (F.greatest(F.array_max(F.transform("embedding",
                                            lambda x: F.abs(x.cast("double")))),
                    F.lit(1e-12)) / 127.0)
    q = e.select(
        "vec_id", "label", s.alias("s"),
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") / s + 0.5)).alias("qv"))
    probes_q = (q.withColumn("rn", F.row_number().over(wp))
                .filter((F.col("rn") == 1) & (F.col("label") < 5))
                .select(F.col("vec_id").alias("probe_id"),
                        F.col("s").alias("ps"), F.col("qv").alias("pqv")))
    qdot = intdot_arrow(F.col("pqv"), F.col("qv")) * F.col("ps") * F.col("s")
    quant = (F.broadcast(probes_q)
             .join(q, F.col("vec_id") != F.col("probe_id"))
             .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                     qdot.alias("raw"))
             .withColumn("r", F.row_number().over(
                 Window.partitionBy("probe_id")
                 .orderBy(F.col("raw").desc(), F.col("neighbor_id"))))
             .filter(F.col("r") <= _RRF_DEPTH)
             .select("probe_id", "neighbor_id", F.col("r").alias("r_q")))

    fused = (dense.join(quant, ["probe_id", "neighbor_id"], "full_outer")
             .select("probe_id", "neighbor_id",
                     (F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_d")),
                                 F.lit(0.0))
                      + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_q")),
                                   F.lit(0.0))).alias("raw")))
    return (fused.withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(F.col("raw").desc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("raw"), 6).alias("rrf_score"), "rn"))


_BM25_K1 = "1.2::DOUBLE"
_BM25_B = "0.75::DOUBLE"


@register("sim_bm25_topk", f"""
WITH tok AS MATERIALIZED (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS MATERIALIZED (
    SELECT doc_id, token, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2
), dl AS (
    SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
), stats AS (
    SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl
), idf AS (
    SELECT token,
           ln(1.0::DOUBLE + ((SELECT n FROM stats) - count(*)::DOUBLE + 0.5)
                            / (count(*)::DOUBLE + 0.5)) AS idf
    FROM tf GROUP BY token
), qterms AS (
    SELECT doc_id AS probe_id, token FROM tf WHERE doc_id < 10
), scores AS (
    SELECT q.probe_id, tf.doc_id AS neighbor_id,
           sum(idf.idf * tf.tf * ({_BM25_K1} + 1.0::DOUBLE)
               / (tf.tf + {_BM25_K1} * (1.0::DOUBLE - {_BM25_B}
                  + {_BM25_B} * dl.dl / (SELECT avgdl FROM stats)))) AS raw
    FROM qterms q
    JOIN tf ON tf.token = q.token AND tf.doc_id <> q.probe_id
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN idf ON idf.token = q.token
    GROUP BY 1, 2
)
SELECT probe_id, neighbor_id, {sql_rnd('raw', 6)} AS score, rn
-- rank on the ROUNDED score (r9 skew sweep): identical template docs
-- tie exactly in one engine and one ulp apart in the other's
-- accumulation order (PARITY #50 applied to ranking) — the 6dp round
-- makes the tie exact on BOTH engines, then neighbor_id breaks it
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY {sql_rnd('raw', 6)} DESC,
                                            neighbor_id) AS rn
      FROM scores)
WHERE rn <= 3
""")
def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval top-k — the missing arm of hybrid RAG
    retrieval beside `sim_sparse_tfidf_topk` (tf-idf cosine) and the
    dense `sim_topk`: Okapi BM25 with k1=1.2, b=0.75 and the
    always-positive Robertson idf ln(1 + (N-df+0.5)/(df+0.5)); each
    query term contributes idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl)).
    Queries are the 10 lowest doc_ids' distinct token sets; per probe
    the top-3 documents by summed score (6dp, doc_id tie-break).

    Same inverted-index shape as the tf-idf op: probes and corpus meet
    ON TOKEN (posting-list join, never all-pairs); df/idf and the
    per-doc length dl are per-term/per-doc aggregates — broadcastable
    model state at 100 TB, where an idf floor drops the hot stop-word
    postings. The corpus-side tf table shuffles once on token and
    partial-aggregates per (probe, doc).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = (tok.groupBy("doc_id", "token")
          .agg(F.count("*").cast("double").alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").cast("double").alias("n"),
                   F.avg("dl").cast("double").alias("avgdl"))
    idf = (tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
           .crossJoin(F.broadcast(stats))
           .select("token",
                   F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5)).alias("idf"),
                   "avgdl"))
    k1, b = F.lit(1.2), F.lit(0.75)
    qterms = (tf.filter(F.col("doc_id") < 10)
              .select(F.col("doc_id").alias("probe_id"), "token"))
    contrib = (F.broadcast(qterms)
               .join(tf, "token")
               .filter(F.col("doc_id") != F.col("probe_id"))
               .join(dl, "doc_id")
               .join(F.broadcast(idf), "token")
               .select("probe_id", F.col("doc_id").alias("neighbor_id"),
                       (F.col("idf") * F.col("tf") * (k1 + F.lit(1.0))
                        / (F.col("tf") + k1 * (F.lit(1.0) - b
                           + b * F.col("dl") / F.col("avgdl"))))
                       .alias("c")))
    scores = (contrib.groupBy("probe_id", "neighbor_id")
              .agg(F.sum("c").alias("raw")))
    # rank on the ROUNDED score (r9 skew sweep): a group-SUM raw key
    # is accumulation-order-sensitive — identical template docs tied
    # exactly in DuckDB but sat one ulp apart here, flipping rn vs the
    # neighbor_id tie-break (PARITY #50 applied to ranking)
    return (scores.withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(rnd(F.col("raw"), 6).desc(),
                         F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("raw"), 6).alias("score"), "rn"))


@register("sim_item_cooccurrence", f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
n AS (SELECT pk, count(*)::BIGINT AS n_ord FROM li GROUP BY 1),
probes AS (SELECT pk, n_ord FROM n ORDER BY n_ord DESC, pk LIMIT 10),
co AS (
  SELECT pr.pk AS probe_pk, pr.n_ord AS n_probe,
         o.pk AS nb_pk, count(*)::BIGINT AS n_common
  FROM probes pr
  JOIN li p ON p.pk = pr.pk
  JOIN li o ON o.ok = p.ok AND o.pk <> pr.pk
  GROUP BY 1, 2, 3
), scored AS (
  SELECT probe_pk, nb_pk, n_common,
         {sql_rnd('n_common::DOUBLE'
                  ' / sqrt(n_probe::DOUBLE * nn.n_ord)', 6)} AS cosine
  FROM co JOIN n nn ON co.nb_pk = nn.pk
)
SELECT probe_pk, nb_pk, n_common, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_pk
                               ORDER BY cosine DESC, nb_pk) AS rn
  FROM scored
) WHERE rn <= 3
""")
def sim_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering on co-purchase baskets — the
    "customers who bought X also bought" primitive `agg_market_basket`
    (raw pair support) stops short of: cosine-normalized co-occurrence
    c_ab / √(n_a·n_b), top-3 neighbors for the 10 most-purchased parts
    (probe cut on INTEGER order counts + partkey tie-break — no float
    at the cut).

    Scale shape: the basket relation (distinct order→part) is read
    by its consumers UNCHECKPOINTED (four pruned scans) — the shingle-relation
    amortization rule does NOT transfer here and the naive transfer
    was measured 2.7× slower at 64× (25.2 → 9.3 s same-session):
    shingles are expensive to recompute (explode+md5) so
    materializing pays, but a two-column distinct is one cheap
    pushdown-pruned scan per consumer, and the eager checkpoint
    instead materializes the whole fact-sized relation up front.
    Probe selection is TakeOrdered (top-10, never a global sort); the
    pair expansion is PROBE-BOUNDED — only baskets containing a probe
    item expand, so candidate volume is
    Σ_probe(orders(probe)·basket_size), not catalog². Neighbor
    normalization joins the probe-bounded co table against the part
    counts (AQE broadcasts the small side). Ranking is on the
    6dp-ROUNDED cosine with partkey tie-break (the `sim_pq_adc_topk`
    discipline); rank-boundary margins are pinned in
    tests/test_guard_band.py.
    """
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey").isNotNull()
                  & F.col("l_partkey").isNotNull())
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pk"))
          .distinct())
    n = li.groupBy("pk").agg(F.count("*").alias("n_ord"))
    probes = (n.orderBy(F.col("n_ord").desc(), "pk").limit(10)
              .select(F.col("pk").alias("probe_pk"),
                      F.col("n_ord").alias("n_probe")))
    co = (probes
          .join(li.alias("p"), F.col("p.pk") == F.col("probe_pk"))
          .join(li.alias("o"), (F.col("o.ok") == F.col("p.ok"))
                & (F.col("o.pk") != F.col("probe_pk")))
          .groupBy("probe_pk", "n_probe", F.col("o.pk").alias("nb_pk"))
          .agg(F.count("*").alias("n_common")))
    scored = (co.join(n.select(F.col("pk").alias("nb_pk"),
                               F.col("n_ord").alias("n_nb")), "nb_pk")
              .select("probe_pk", "nb_pk", "n_common",
                      rnd(F.col("n_common").cast("double")
                          / F.sqrt(F.col("n_probe").cast("double")
                                   * F.col("n_nb")), 6).alias("cosine")))
    w = Window.partitionBy("probe_pk").orderBy(F.col("cosine").desc(),
                                               "nb_pk")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("probe_pk", "nb_pk", "n_common", "cosine", "rn"))
