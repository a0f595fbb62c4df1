"""Distributed iterative ML primitives (SURVEY.md §2.12b companion).

``ml_kmeans_embeddings`` is Lloyd's k-means over the embeddings table —
the coarse-quantizer trainer that ``sim_ann_ivf`` presupposes (its
docstring says "cells come from a k-means coarse quantizer"; this
operator is that trainer). Fixed K and iteration count,
deterministic initialization, so the whole trajectory is reproducible
and oracle-able.

Distribution strategy (the Spark-MLlib shape, expressed relationally):
vectors live in long form (id, dim, x) — one posexplode, after which
every k-means step is a plain join + groupBy Catalyst plans like any
other aggregation. Per iteration: distances are a (N·D)⋈(K·D) join
grouped to (N·K), the argmin is a min-of-struct, and the centroid
update is a (cluster, dim) average. At 100 TB the only fact-sized
shuffles key on the vector id / (cluster, dim) — K·D is dim-sized and
broadcasts. Each iteration ``localCheckpoint``s the K·D centroid table
(truncating lineage growth, the graph_pagerank discipline); nothing
fact-sized ever reaches the driver.

Cross-engine determinism (PARITY.md discipline):
- float32 inputs are cast to DOUBLE at extraction on BOTH engines, so
  all arithmetic is float64 from the start (float32 kernels would
  round differently).
- centroids are ROUNDED to 6dp (IEEE-exact floor form) after every
  update — the per-(cluster,dim) mean is the one summation-order-
  sensitive value in the loop, and rounding collapses its ~1e-15 drift
  so both engines iterate from bit-identical centroids.
- the argmin tie-breaks on cluster id (min-of-struct / ORDER BY
  dist2, cl), so equidistant points cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd
from manual_data_ingest_spark.io import cached_index, load_table
from manual_data_ingest_spark.registry import register
from manual_data_ingest_spark.operators.similarity import _COS as _SIM_COS

_K = 8
_ITERS = 3
_DIM = 64

#: The calibration family's shared "scored entities only" contract: a
#: NULL score cannot be ranked into a decile/threshold bin (PARITY #40,
#: opposite engine null sort orders), so every ranked-score op filters
#: to scored entities FIRST — on BOTH engines, from this ONE string.
#: Single-sourced per the r7 verdict: a shared-CTE text replace once
#: patched four oracles but only two Spark sides (the null sweep caught
#: it); interpolating the same literal into the oracle SQL and
#: ``F.expr`` makes that skew structurally impossible (the
#: ``_SHINGLE_SQL`` / ``_simhash_fp_sql`` pattern from operators/dedup.py).
#: Consumers: ml_calibration_bins_scalable, ml_lift_chart, ml_threshold_sweep,
#: ml_isotonic_calibration, ml_auc_roc (pinned by tests/test_registry.py).
_SCORED_ONLY_SQL = "c_acctbal IS NOT NULL"


def _scored_lab_ranked(spark: SparkSession, sf_dir: str,
                       descending: bool = False) -> DataFrame:
    """The shared fact-side stage of the ranked-score eval family
    (calibration / lift / threshold-sweep / isotonic / AUC): scored
    customers EXISTS-labeled with "has ≥1 URGENT order", plus an EXACT
    distributed global rank over (c_acctbal [DESC], c_custkey) and the
    broadcast population count ``_n_tot``. Since r9 this is the
    DEFAULT path — the rank comes from functions/ranking.py's
    bucket+offset primitive (no unpartitioned WindowExec). Columns:
    c_custkey, c_acctbal, y, global_rank, _n_tot."""
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_global_rank)

    c = load_table(spark, sf_dir, "customer").filter(
        F.expr(_SCORED_ONLY_SQL))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    lab = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .select("c_custkey", "c_acctbal",
                   F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
                   .alias("y")))
    return with_exact_global_rank(lab, "c_acctbal", ["c_custkey"],
                                  descending=descending,
                                  total_col="_n_tot")


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    """The identical Lloyd trajectory unrolled into portable SQL CTEs."""
    head = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
), vd AS (
  SELECT id, t.d AS d, CAST(embedding[CAST(t.d AS INTEGER)] AS DOUBLE) AS x
  FROM v, generate_series(1, {dim}) AS t(d)
), init AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS cl
  FROM (SELECT id FROM v ORDER BY id LIMIT {k})
), cd0 AS (
  SELECT init.cl, vd.d, {sql_rnd('avg(vd.x)', 6)} AS c
  FROM init JOIN vd USING (id) GROUP BY init.cl, vd.d
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", dist{i} AS (
  SELECT vd.id, cd.cl, sum((vd.x - cd.c) * (vd.x - cd.c)) AS dist2
  FROM vd JOIN cd{i-1} cd USING (d)
  GROUP BY vd.id, cd.cl
), assign{i} AS (
  SELECT id, cl, dist2 FROM dist{i}
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist2, cl) = 1
), cd{i} AS (
  SELECT a.cl, vd.d, {sql_rnd('avg(vd.x)', 6)} AS c
  FROM assign{i} a JOIN vd USING (id) GROUP BY a.cl, vd.d
)""")
    tail = f""", final_dist AS (
  SELECT vd.id, cd.cl, sum((vd.x - cd.c) * (vd.x - cd.c)) AS dist2
  FROM vd JOIN cd{iters} cd USING (d)
  GROUP BY vd.id, cd.cl
), final_assign AS (
  SELECT id, cl, dist2 FROM final_dist
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist2, cl) = 1
)
SELECT cl AS cluster,
       count(*) AS n_vecs,
       {sql_rnd('sum(dist2)', 4)} AS inertia,
       {sql_rnd('avg(dist2)', 6)} AS mean_dist2
FROM final_assign
GROUP BY cl
"""
    return head + "".join(steps) + tail


@register("ml_kmeans_embeddings", _kmeans_oracle(_K, _ITERS, _DIM))
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (K=8, 3 fixed iterations) over the embedding
    corpus; init = the K lowest-id vectors. Returns per-cluster size,
    inertia and mean squared distance under the final centroids.
    Oracle: the identical trajectory unrolled into SQL CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    # contract: only non-null vectors cluster (a missing embedding has no
    # position; mirrors the oracle's WHERE embedding IS NOT NULL)
    v = (emb.filter(F.col("embedding").isNotNull())
         .select(F.col("vec_id").cast("long").alias("id"), "embedding"))

    # long form: (id, d, x) with x promoted to double BEFORE any math
    vd = (v.select("id", F.posexplode("embedding").alias("d", "x"))
          .select("id", (F.col("d") + 1).alias("d"),
                  F.col("x").cast("double").alias("x"))
          .localCheckpoint(eager=True))  # explode once, reuse per iteration

    init = (v.orderBy("id").limit(_K)
            .select("id", (F.row_number().over(Window.orderBy("id")) - 1)
                    .alias("cl")))
    cd = (init.join(vd, "id")
          .groupBy("cl", "d")
          .agg(rnd(F.avg("x"), 6).alias("c")))

    def assign_against(centroids: DataFrame) -> DataFrame:
        dist = (vd.join(F.broadcast(centroids), "d")
                .groupBy("id", "cl")
                .agg(F.sum((F.col("x") - F.col("c"))
                           * (F.col("x") - F.col("c"))).alias("dist2")))
        return (dist.groupBy("id")
                .agg(F.min(F.struct("dist2", "cl")).alias("m"))
                .select("id", F.col("m.cl").alias("cl"),
                        F.col("m.dist2").alias("dist2")))

    for _ in range(_ITERS):
        assign = assign_against(cd)
        cd = (assign.join(vd, "id")
              .groupBy("cl", "d")
              .agg(rnd(F.avg("x"), 6).alias("c"))
              .localCheckpoint(eager=True))  # K·D rows; truncates lineage

    final = assign_against(cd)
    return (final.groupBy(F.col("cl").alias("cluster"))
            .agg(F.count("*").alias("n_vecs"),
                 rnd(F.sum("dist2"), 4).alias("inertia"),
                 rnd(F.avg("dist2"), 6).alias("mean_dist2")))


# ---------------------------------------------------------------------------
# leave-one-out kNN classification over the labeled embedding corpus
# ---------------------------------------------------------------------------

_KNN_K = 5
_PROBE_MOD = 7       # probe ids are multiples of 7 ...
_PROBE_CAP = 7 * 128  # ... below this bound: a FIXED ≤128-vector panel

_KNN_COS = ("list_dot_product(p.v, b.v) / "
            "(sqrt(list_dot_product(p.v, p.v)) * "
            "sqrt(list_dot_product(b.v, b.v)))")


@register("ml_knn_classify", f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
), probes AS (
  SELECT vec_id, label, v FROM e
  WHERE CAST(vec_id AS BIGINT) % {_PROBE_MOD} = 0
    AND CAST(vec_id AS BIGINT) < {_PROBE_CAP}
), top5 AS (
  SELECT pid, true_label, nbr_label FROM (
    SELECT p.vec_id AS pid, p.label AS true_label, b.label AS nbr_label,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {_KNN_COS} DESC,
                                       CAST(b.vec_id AS BIGINT)) AS rn
    FROM probes p JOIN e b ON b.vec_id <> p.vec_id
  ) WHERE rn <= {_KNN_K}
), votes AS (
  SELECT pid, true_label, nbr_label, count(*) AS c
  FROM top5 GROUP BY pid, true_label, nbr_label
), pred AS (
  SELECT pid, true_label, nbr_label AS predicted_label FROM votes
  QUALIFY row_number() OVER (PARTITION BY pid ORDER BY c DESC, nbr_label) = 1
)
SELECT true_label, predicted_label, count(*) AS n_probes
FROM pred GROUP BY true_label, predicted_label
""")
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification (k=5, cosine) of a FIXED
    ≤128-vector evaluation panel (ids ≡ 0 mod 7 below a constant
    bound) against the rest of the corpus, reported as a long-form
    confusion matrix — the standard embedding-quality eval (do nearest
    neighbors share labels?).

    The panel is fixed-size BY ARITHMETIC (a map-only filter, no
    global window), so total work is O(panel·N) — linear in the
    corpus. The first cut (panel = every 7th vector, growing with N)
    measured 16× work at 4× data: the classic quadratic eval trap.

    Ranking is on the RAW cosine (the unrolled dot product is verified
    bit-identical to DuckDB's list_dot_product fold) with a neighbor-id
    tie-break; the vote tie-breaks (count DESC, label ASC) — fully
    deterministic end to end.

    100 TB: probes broadcast, the corpus is never shuffled (the
    sim_topk discipline); per-probe candidate generation is where the
    ANN tiers (`sim_ann_lsh` / `sim_ann_ivf` over `ml_kmeans_embeddings`
    cells) slot in when brute force stops being the right baseline —
    the vote/confusion algebra downstream is unchanged.
    """
    from manual_data_ingest_spark.io import fan_out
    from manual_data_ingest_spark.operators.similarity import cosine

    e = (load_table(spark, sf_dir, "embeddings")
         # labeled-corpus contract: an unlabeled or vector-less row can
         # neither vote nor be classified (mirrors the oracle's WHERE)
         .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull()))
    pid_num = F.col("vec_id").cast("long")
    probes = (e.filter((pid_num % _PROBE_MOD == 0) & (pid_num < _PROBE_CAP))
              .select(F.col("vec_id").alias("pid"),
                      F.col("label").alias("true_label"),
                      F.col("embedding").alias("pv")))
    # fan_out on the corpus side only (r12): the panel×corpus nested-
    # loop join evaluates the ~600-node unrolled cosine per pair, and a
    # single-row-group corpus file scans as ONE task — the whole
    # scoring stage ran on one core (measured 4.4 s at sf0.1; §2.5
    # "unsplittable input"). Probes stay on the raw scan (tiny,
    # broadcast). The partial WindowGroupLimit keeps ≤k rows per probe
    # per partition, so the fan-out multiplies parallelism, not
    # shuffle bytes.
    scored = (F.broadcast(probes)
              .join(fan_out(e), F.col("vec_id") != F.col("pid"))
              .select("pid", "true_label",
                      F.col("label").alias("nbr_label"),
                      cosine("pv", "embedding").alias("score"),
                      F.col("vec_id").cast("long").alias("nid")))
    top5 = (scored.withColumn("rn", F.row_number().over(
                Window.partitionBy("pid")
                .orderBy(F.col("score").desc(), F.col("nid"))))
            .filter(F.col("rn") <= _KNN_K))
    votes = (top5.groupBy("pid", "true_label", "nbr_label")
             .agg(F.count("*").alias("c")))
    pred = (votes.withColumn("rn", F.row_number().over(
                Window.partitionBy("pid")
                .orderBy(F.col("c").desc(), F.col("nbr_label"))))
            .filter(F.col("rn") == 1))
    return (pred.groupBy("true_label",
                         F.col("nbr_label").alias("predicted_label"))
            .agg(F.count("*").alias("n_probes")))


# ---------------------------------------------------------------------------
# multivariate OLS via distributed normal equations
# ---------------------------------------------------------------------------

def _det3(a, b, c, d, e, f, g, h, i) -> str:
    """Expression text of a 3×3 determinant with FIXED association —
    the same string feeds F.expr and the DuckDB oracle, so both engines
    evaluate the identical IEEE op sequence."""
    return (f"({a} * (({e} * {i}) - ({f} * {h})) "
            f"- {b} * (({d} * {i}) - ({f} * {g})) "
            f"+ {c} * (({d} * {h}) - ({e} * {g})))")


# A = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]],  b = [sy, s1y, s2y]
_DET = _det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
_DET0 = _det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
_DET1 = _det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
_DET2 = _det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")

#: the 9 moment columns in integer-scaled space (q, d·100, y·100) —
#: every sum is an exact integer < 2^53, so the solve inputs are
#: bit-identical on both engines with NO rounding step at all
_MOMENTS_SQL = """
  SELECT CAST(count(*) AS DOUBLE)            AS n,
         CAST(sum(q)   AS DOUBLE)            AS s1,
         CAST(sum(d)   AS DOUBLE)            AS s2,
         CAST(sum(q*q) AS DOUBLE)            AS s11,
         CAST(sum(q*d) AS DOUBLE)            AS s12,
         CAST(sum(d*d) AS DOUBLE)            AS s22,
         CAST(sum(y)   AS DOUBLE)            AS sy,
         CAST(sum(q*y) AS DOUBLE)            AS s1y,
         CAST(sum(d*y) AS DOUBLE)            AS s2y
  FROM scaled
"""

_SCALED_SQL = """
  SELECT CAST(l_quantity AS BIGINT)                         AS q,
         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)     AS d,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
  FROM lineitem
"""


@register("ml_ols_normal_equations", f"""
WITH scaled AS ({_SCALED_SQL}),
m AS ({_MOMENTS_SQL}),
beta AS (
  SELECT n,
         ({_DET0}) / ({_DET}) AS b0p,
         ({_DET1}) / ({_DET}) AS b1p,
         ({_DET2}) / ({_DET}) AS b2p,
         sy / n AS ymean
  FROM m
),
fit AS (
  SELECT beta.n, beta.b0p, beta.b1p, beta.b2p,
         sum((CAST(s.y AS DOUBLE) - (beta.b0p + beta.b1p * s.q
              + beta.b2p * s.d))
             * (CAST(s.y AS DOUBLE) - (beta.b0p + beta.b1p * s.q
                + beta.b2p * s.d))) AS ssr,
         sum((CAST(s.y AS DOUBLE) - beta.ymean)
             * (CAST(s.y AS DOUBLE) - beta.ymean)) AS sst
  FROM scaled s, beta
  GROUP BY beta.n, beta.b0p, beta.b1p, beta.b2p
)
SELECT CAST(n AS BIGINT) AS n,
       floor(b0p / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS beta0,
       floor(b1p / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS beta1,
       floor(b2p * 1000000.0 + 0.5) / 1000000.0 AS beta2,
       floor((1.0 - ssr / sst) * 1000000.0 + 0.5) / 1000000.0 AS r2
FROM fit
""")
def ml_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS (y = β₀ + β₁·quantity + β₂·discount for
    extended price) fit DISTRIBUTEDLY via normal equations: one
    aggregation pass accumulates the 3×3 Gram matrix + moment vector,
    and the solve is a closed-form Cramer projection — the classic
    "big data, small model" shape (the 100 TB fact is touched twice:
    moments, then residuals for R²; nothing model-sized ever shuffles).

    Exactness strategy: features are rescaled to INTEGER space (q,
    d·100, y·100 — all exact), so every Gram/moment sum is an exact
    integer < 2^53 and the solve inputs are bit-identical across
    engines with no rounding step; the Cramer determinants share one
    expression string between F.expr and the oracle, pinning the IEEE
    op order. β̂ unscales by /100 where the y-scaling requires. R² is
    a ratio of two same-magnitude sums (relative drift ~1e-13 ≪ the
    5e-7 rounding margin).

    Beside `agg_regression` (per-group single-var regr_* built-ins):
    this is the multi-feature path those builtins cannot express.
    """
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("d"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .alias("y"))
    m = scaled.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("q").cast("double").alias("s1"),
        F.sum("d").cast("double").alias("s2"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("s11"),
        F.sum(F.col("q") * F.col("d")).cast("double").alias("s12"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("q") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("d") * F.col("y")).cast("double").alias("s2y"))
    beta = m.select(
        "n",
        F.expr(f"({_DET0}) / ({_DET})").alias("b0p"),
        F.expr(f"({_DET1}) / ({_DET})").alias("b1p"),
        F.expr(f"({_DET2}) / ({_DET})").alias("b2p"),
        F.expr("sy / n").alias("ymean"))
    resid = (F.col("y").cast("double")
             - (F.col("b0p") + F.col("b1p") * F.col("q")
                + F.col("b2p") * F.col("d")))
    dev = F.col("y").cast("double") - F.col("ymean")
    fit = (scaled.crossJoin(F.broadcast(beta))
           .groupBy("n", "b0p", "b1p", "b2p")
           .agg(F.sum(resid * resid).alias("ssr"),
                F.sum(dev * dev).alias("sst")))
    return fit.select(
        F.col("n").cast("long").alias("n"),
        rnd(F.col("b0p") / 100.0, 6).alias("beta0"),
        rnd(F.col("b1p") / 100.0, 6).alias("beta1"),
        rnd(F.col("b2p"), 6).alias("beta2"),
        rnd(F.lit(1.0) - F.col("ssr") / F.col("sst"), 6).alias("r2"))


# ---------------------------------------------------------------------------
# PCA top component via distributed Gram accumulation + power iteration
# ---------------------------------------------------------------------------

_PCA_ITERS = 5


def _pca_oracle(iters: int, dim: int) -> str:
    """Covariance from long-form raw moments + the identical unrolled
    power iteration (9dp-rounded per step) as portable SQL."""
    head = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
), vd AS (
  SELECT id, t.d AS d, CAST(embedding[CAST(t.d AS INTEGER)] AS DOUBLE) AS x
  FROM v, generate_series(1, {dim}) AS t(d)
), s1 AS (
  SELECT d, sum(x) AS s FROM vd GROUP BY d
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM v
), s12 AS (
  SELECT a.d AS d1, b.d AS d2, sum(a.x * b.x) AS s
  FROM vd a JOIN vd b USING (id)
  GROUP BY a.d, b.d
), cov AS (
  SELECT d1, d2,
         {sql_rnd('(s12.s - (a.s * b.s) / nn.n) / nn.n', 9)} AS c
  FROM s12, nn
  JOIN s1 a ON a.d = s12.d1
  JOIN s1 b ON b.d = s12.d2
), v0 AS (
  SELECT d, CAST(0.125 AS DOUBLE) AS vv FROM generate_series(1, {dim}) t(d)
)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""", w{k} AS (
  SELECT cov.d1 AS d, sum(cov.c * p.vv) AS w
  FROM cov JOIN v{k-1} p ON cov.d2 = p.d
  GROUP BY cov.d1
), nrm{k} AS (
  SELECT sqrt(sum(w * w)) AS nrm FROM w{k}
), v{k} AS (
  SELECT d, {sql_rnd('w / nrm', 9)} AS vv FROM w{k}, nrm{k}
)""")
    tail = f""", wf AS (
  SELECT cov.d1 AS d, sum(cov.c * p.vv) AS w
  FROM cov JOIN v{iters} p ON cov.d2 = p.d
  GROUP BY cov.d1
), eig AS (
  SELECT {sql_rnd('sum(wf.w * p.vv)', 6)} AS eigval
  FROM wf JOIN v{iters} p USING (d)
)
SELECT p.d AS dim, {sql_rnd('p.vv', 6)} AS loading, eig.eigval
FROM v{iters} p, eig
"""
    return head + "".join(steps) + tail


@register("ml_pca_power", _pca_oracle(_PCA_ITERS, _DIM))
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: distributed
    covariance + 5 power-iteration steps; emits the 64 loadings and
    the Rayleigh-quotient eigenvalue.

    Scale shape — the two halves are different sizes and get different
    strategies:
    - **Covariance (fact-sized)**: mapInPandas accumulates per-batch
      Gram matrices with one BLAS matmul (``Mᵀ M``) — each Arrow batch
      contributes D²+D+1 partial rows, so the shuffle moves
      O(batches·D²), never O(N·D²). The long-form relational
      equivalent (what the oracle runs) would shuffle N·D² rows — the
      measured difference IS the point of the Gram shape.
    - **Iteration (D²-sized)**: the 64×64 covariance localCheckpoints
      and each step is a D²-row join+groupBy; the driver carries only
      the loop counter.

    Cross-engine determinism: covariance entries round at 9dp (raw
    moment drift ~1e-13 vs the 5e-10 margin), and the iterate
    re-rounds at 9dp after every normalize, so both engines walk the
    identical trajectory from bit-identical state; numpy's pairwise
    batch summation vs DuckDB's sequential fold differences collapse
    at the same rounding. Start vector 1/8 = 0.125 is exact binary.
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def gram_batches(batches):
        import numpy as np
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]  # NULL vectors carry no mass
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            G = M.T @ M
            d1, d2 = np.meshgrid(np.arange(1, _DIM + 1),
                                 np.arange(1, _DIM + 1), indexing="ij")
            out = pd.DataFrame({"d1": d1.ravel(), "d2": d2.ravel(),
                                "g": G.ravel()})
            colsum = pd.DataFrame({"d1": np.arange(1, _DIM + 1),
                                   "d2": np.full(_DIM, -1),
                                   "g": M.sum(axis=0)})
            cnt = pd.DataFrame({"d1": [-1], "d2": [-1],
                                "g": [float(M.shape[0])]})
            yield pd.concat([out, colsum, cnt], ignore_index=True)

    parts = (emb.select("embedding")
             .mapInPandas(gram_batches, "d1 int, d2 int, g double")
             .groupBy("d1", "d2").agg(F.sum("g").alias("s")))
    s12 = (parts.filter(F.col("d2") > 0)
           .select("d1", "d2", F.col("s").alias("s12")))
    s1 = (parts.filter((F.col("d2") == -1) & (F.col("d1") > 0))
          .select(F.col("d1").alias("d"), F.col("s")))
    nn = (parts.filter(F.col("d1") == -1)
          .select(F.col("s").alias("n")))
    a, b = s1.alias("a"), s1.alias("b")
    cov = (s12.crossJoin(F.broadcast(nn))
           .join(a, F.col("a.d") == F.col("d1"))
           .join(b, F.col("b.d") == F.col("d2"))
           .select("d1", "d2",
                   rnd((F.col("s12") - F.col("a.s") * F.col("b.s")
                        / F.col("n")) / F.col("n"), 9).alias("c"))
           .localCheckpoint(eager=True))  # D² rows; facts never re-read

    vcur = spark.range(1, _DIM + 1).select(
        F.col("id").cast("int").alias("d"), F.lit(0.125).alias("vv"))
    for _ in range(_PCA_ITERS):
        w = (cov.join(vcur, cov.d2 == vcur.d)
             .groupBy(F.col("d1").alias("d"))
             .agg(F.sum(F.col("c") * F.col("vv")).alias("w")))
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        vcur = (w.crossJoin(F.broadcast(nrm))
                .select("d", rnd(F.col("w") / F.col("nrm"), 9).alias("vv"))
                .localCheckpoint(eager=True))
    wf = (cov.join(vcur, cov.d2 == vcur.d)
          .groupBy(F.col("d1").alias("d"))
          .agg(F.sum(F.col("c") * F.col("vv")).alias("w")))
    eig = (wf.join(vcur, "d")
           .agg(rnd(F.sum(F.col("w") * F.col("vv")), 6).alias("eigval")))
    return (vcur.crossJoin(F.broadcast(eig))
            .select(F.col("d").alias("dim"),
                    rnd(F.col("vv"), 6).alias("loading"), "eigval"))


# ---------------------------------------------------------------------------
# product quantization: 8 subspaces × K=4 codes, grouped Lloyd training
# ---------------------------------------------------------------------------

_PQ_SUB = 8    # subspaces of 8 dims each
_PQ_K = 4      # codes per subspace
_PQ_ITERS = 2


def _pq_oracle_prefix(k: int, iters: int, dim: int, nsub: int) -> str:
    """All-subspaces-at-once grouped Lloyd trajectory unrolled to SQL —
    identical to the k-means oracle with a subspace key threaded
    through every grouping/partition clause. Ends at `final_assign`
    (per-(id, subspace) code + residual) so both the codebook report
    and the ADC search oracle share one trained prefix."""
    head = f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings
  WHERE embedding IS NOT NULL
), vd AS (
  SELECT id, (t.d - 1) // {dim // nsub} AS s, t.d AS d,
         CAST(embedding[CAST(t.d AS INTEGER)] AS DOUBLE) AS x
  FROM v, generate_series(1, {dim}) AS t(d)
), init AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS cl
  FROM (SELECT id FROM v ORDER BY id LIMIT {k})
), cd0 AS (
  SELECT vd.s, init.cl, vd.d, {sql_rnd('avg(vd.x)', 6)} AS c
  FROM init JOIN vd USING (id) GROUP BY vd.s, init.cl, vd.d
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", dist{i} AS (
  SELECT vd.id, vd.s, cd.cl, sum((vd.x - cd.c) * (vd.x - cd.c)) AS dist2
  FROM vd JOIN cd{i-1} cd ON vd.s = cd.s AND vd.d = cd.d
  GROUP BY vd.id, vd.s, cd.cl
), assign{i} AS (
  SELECT id, s, cl, dist2 FROM dist{i}
  QUALIFY row_number() OVER (PARTITION BY id, s ORDER BY dist2, cl) = 1
), cd{i} AS (
  SELECT a.s, a.cl, vd.d, {sql_rnd('avg(vd.x)', 6)} AS c
  FROM assign{i} a JOIN vd ON vd.id = a.id AND vd.s = a.s
  GROUP BY a.s, a.cl, vd.d
)""")
    tail = f""", final_dist AS (
  SELECT vd.id, vd.s, cd.cl, sum((vd.x - cd.c) * (vd.x - cd.c)) AS dist2
  FROM vd JOIN cd{iters} cd ON vd.s = cd.s AND vd.d = cd.d
  GROUP BY vd.id, vd.s, cd.cl
), final_assign AS (
  SELECT id, s, cl, dist2 FROM final_dist
  QUALIFY row_number() OVER (PARTITION BY id, s ORDER BY dist2, cl) = 1
)"""
    return head + "".join(steps) + tail


def _pq_oracle(k: int, iters: int, dim: int, nsub: int) -> str:
    """Codebook-quality report tail over the shared trained prefix."""
    return _pq_oracle_prefix(k, iters, dim, nsub) + f"""
SELECT s AS subspace, cl AS code,
       count(*) AS n_vecs,
       {sql_rnd('avg(dist2)', 6)} AS mse
FROM final_assign
GROUP BY s, cl
"""


@register("sim_pq_quantize", _pq_oracle(_PQ_K, _PQ_ITERS, _DIM, _PQ_SUB))
def sim_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training: split each 64-dim vector
    into 8 contiguous 8-dim subvectors and run Lloyd's k-means (K=4,
    2 iterations, lowest-id init) INDEPENDENTLY per subspace — but as
    ONE grouped computation: the subspace id rides every key, so all 8
    codebooks train in a single distance-join/argmin/update pipeline
    per iteration instead of 8 separate jobs. Emits per-(subspace,
    code) population and quantization MSE — the codebook quality
    report before writing PQ codes (8 bytes/vector here vs 256 raw).

    The 100 TB story completes the vector-index trilogy:
    `ml_kmeans_embeddings` trains the IVF coarse cells,
    `sim_quantize_int8` is scalar quantization, and this is the PQ
    fine-grained residual compressor — same shuffle skeleton as the
    k-means trainer (keys gain an 8-valued subspace component: wider,
    never deeper). Same determinism contract: double promotion at
    extraction, 6dp-rounded centroids per update, (dist2, cl) argmin
    tie-break.
    """
    _, _, final = _pq_train(spark, sf_dir)
    return (final.groupBy(F.col("s").alias("subspace"),
                          F.col("cl").alias("code"))
            .agg(F.count("*").alias("n_vecs"),
                 rnd(F.avg("dist2"), 6).alias("mse")))


def _pq_train(spark: SparkSession,
              sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared grouped-Lloyd PQ trainer (the `sim_pq_quantize` pipeline,
    factored so the ADC search op consumes the same trained state).
    Returns (vd, codebooks, final_assign): the checkpointed per-(id,
    subspace, dim) value relation, the trained per-(subspace, code,
    dim) centroids, and the per-(id, subspace) code assignment with
    its residual dist2."""
    emb = load_table(spark, sf_dir, "embeddings")
    # same non-null-vector contract as ml_kmeans_embeddings / the oracle
    v = (emb.filter(F.col("embedding").isNotNull())
         .select(F.col("vec_id").cast("long").alias("id"), "embedding"))
    sub_w = _DIM // _PQ_SUB
    vd = (v.select("id", F.posexplode("embedding").alias("d0", "x"))
          .select("id",
                  F.expr(f"d0 div {sub_w}").alias("s"),
                  (F.col("d0") + 1).alias("d"),
                  F.col("x").cast("double").alias("x"))
          .localCheckpoint(eager=True))

    init = (v.orderBy("id").limit(_PQ_K)
            .select("id", (F.row_number().over(Window.orderBy("id")) - 1)
                    .alias("cl")))
    cd = (init.join(vd, "id")
          .groupBy("s", "cl", "d")
          .agg(rnd(F.avg("x"), 6).alias("c")))

    def assign_against(centroids: DataFrame) -> DataFrame:
        dist = (vd.join(F.broadcast(centroids), ["s", "d"])
                .groupBy("id", "s", "cl")
                .agg(F.sum((F.col("x") - F.col("c"))
                           * (F.col("x") - F.col("c"))).alias("dist2")))
        return (dist.groupBy("id", "s")
                .agg(F.min(F.struct("dist2", "cl")).alias("m"))
                .select("id", "s", F.col("m.cl").alias("cl"),
                        F.col("m.dist2").alias("dist2")))

    for _ in range(_PQ_ITERS):
        assign = assign_against(cd)
        cd = (assign.join(vd, ["id", "s"])
              .groupBy("s", "cl", "d")
              .agg(rnd(F.avg("x"), 6).alias("c"))
              .localCheckpoint(eager=True))

    final = assign_against(cd)
    return vd, cd, final


def _pq_index(spark: SparkSession,
              sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Session-cached trained PQ index — the `_lsh_index` amortization
    rule: codebooks + code assignments are ONE persisted artifact per
    (session, sf_dir), not a per-query cost (at 100 TB they are the
    written code table an ADC search reads). (tag, sf_dir) keys →
    io.clear_table_cache invalidates with the fixture."""
    def build():
        vd, cd, final = _pq_train(spark, sf_dir)
        return (vd, cd.localCheckpoint(eager=True),
                final.localCheckpoint(eager=True))

    return cached_index(spark, "pq_index", sf_dir, build)


@register("sim_pq_adc_topk", _pq_oracle_prefix(
    _PQ_K, _PQ_ITERS, _DIM, _PQ_SUB) + f"""
, probes AS (
  SELECT CAST(vec_id AS BIGINT) AS pid FROM embeddings
  WHERE label < 5
  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
), ptab AS (
  SELECT vd.id AS pid, vd.s, cd.cl,
         sum((vd.x - cd.c) * (vd.x - cd.c)) AS dist2
  FROM vd JOIN cd{_PQ_ITERS} cd ON vd.s = cd.s AND vd.d = cd.d
  WHERE vd.id IN (SELECT pid FROM probes)
  GROUP BY vd.id, vd.s, cd.cl
), adc AS (
  SELECT p.pid AS probe_id, a.id AS neighbor_id, sum(p.dist2) AS adc
  FROM final_assign a JOIN ptab p ON p.s = a.s AND p.cl = a.cl
  WHERE a.id <> p.pid
  GROUP BY 1, 2
)
SELECT probe_id, neighbor_id, adc_dist, rn
FROM (SELECT probe_id, neighbor_id, {sql_rnd('adc', 6)} AS adc_dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY {sql_rnd('adc', 6)}, neighbor_id)
                 AS rn
      FROM adc)
WHERE rn <= 3
""")
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search by ASYMMETRIC DISTANCE COMPUTATION — the retrieval
    step that makes `sim_pq_quantize`'s codebooks an index, completing
    the quantize→train→search PQ story: each probe precomputes ONE
    distance table (its raw subvector's squared distance to every
    (subspace, code) centroid — nsub·K = 32 entries), and every corpus
    vector is then scored WITHOUT touching its floats: its distance is
    the sum of 8 table lookups keyed by its stored codes. Per-probe
    top-3 by ADC distance (asc, vec_id tie-break).

    Scale shape — the reason PQ search wins at 100 TB: the scored
    relation is `final_assign` (8 BYTES of codes per vector, not 256
    of floats); the probe tables broadcast (nsub·K rows per probe);
    the score join is codes ⋈ tables on (subspace, code) followed by a
    per-(probe, id) 8-row sum — no float vector ever shuffles. The
    trained state is a session-cached index (`_pq_index`, the
    `_lsh_index` amortization rule: at 100 TB the codebooks + code
    table are persisted artifacts, not per-query cost) sharing its
    training verbatim with `sim_pq_quantize` (`_pq_train` /
    `_pq_oracle_prefix`), so the search oracle verifies the SAME
    trained state cross-engine.

    Determinism: ranks on the 6dp-ROUNDED distance with the vec_id
    tie-break — two corpus vectors sharing a full code tuple sum the
    SAME 8 table entries in engine-dependent order, so a raw rank is
    unpinnable (a same-tuple pair sits INSIDE the top-3 at sf0.1 —
    caught by the guard-band replay before it could go red). Rounding
    boundary distances and the rank-fidelity law (Spearman ≥ 0.15 vs
    true L2 on worst-case random vectors) are pinned in
    tests/test_guard_band.py and tests/test_recall.py.
    """
    vd, cd, final = _pq_index(spark, sf_dir)

    emb = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    pids = (emb.withColumn("rn", F.row_number().over(wp))
            .filter((F.col("rn") == 1) & (F.col("label") < 5))
            .select(F.col("vec_id").cast("long").alias("pid")))
    ptab = (vd.join(F.broadcast(pids), vd.id == pids.pid)
            .join(F.broadcast(cd), ["s", "d"])
            .groupBy("pid", "s", "cl")
            .agg(F.sum((F.col("x") - F.col("c"))
                       * (F.col("x") - F.col("c"))).alias("dist2")))
    adc = (final.select("id", "s", "cl")
           .join(F.broadcast(ptab), ["s", "cl"])
           .filter(F.col("id") != F.col("pid"))
           .groupBy(F.col("pid").alias("probe_id"),
                    F.col("id").alias("neighbor_id"))
           .agg(F.sum("dist2").alias("adc")))
    # rank on the ROUNDED distance (the sim_mmr_diversify discipline):
    # two corpus vectors sharing a full code tuple sum the SAME 8 table
    # entries in engine-dependent order — ranking raw would let sub-ulp
    # drift beat the neighbor_id tie-break (a same-tuple pair sits
    # INSIDE the top-3 at sf0.1; caught by the guard-band replay)
    return (adc.withColumn("rn", F.row_number().over(
                Window.partitionBy("probe_id")
                .orderBy(rnd(F.col("adc"), 6).asc(), F.col("neighbor_id"))))
            .filter(F.col("rn") <= 3)
            .select("probe_id", "neighbor_id",
                    rnd(F.col("adc"), 6).alias("adc_dist"), "rn"))


# ---------------------------------------------------------------------------
# CUPED variance reduction for experimentation metrics
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"  # pre-period | post-period boundary

# shared moment-algebra text (population moments over per-user cent ints):
# inputs are EXACT integer sums cast to double, so every derived value
# below is a fixed IEEE op sequence — identical on both engines
_VARX = "((sxx - (sx * sx) / n) / n)"
_VARY = "((syy - (sy * sy) / n) / n)"
_COVXY = "((sxy - (sx * sy) / n) / n)"
_THETA = f"({_COVXY} / {_VARX})"
_VARCUPED = f"({_VARY} - ({_COVXY} * {_COVXY}) / {_VARX})"


@register("ml_cuped_adjustment", f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  ELSE 0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(count(*)   AS DOUBLE) AS n,
         CAST(sum(x)     AS DOUBLE) AS sx,
         CAST(sum(y)     AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM per_user
)
SELECT CAST(n AS BIGINT) AS n_users,
       floor({_THETA} * 1000000.0 + 0.5) / 1000000.0 AS theta,
       floor({_VARY} / 10000.0 * 10000.0 + 0.5) / 10000.0 AS var_y,
       floor({_VARCUPED} / 10000.0 * 10000.0 + 0.5) / 10000.0 AS var_cuped,
       floor((100.0 * (1.0 - {_VARCUPED} / {_VARY})) * 10000.0 + 0.5)
           / 10000.0 AS reduction_pct
FROM m
""")
def ml_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B metrics: per-user post-period
    value adjusted by the pre-period covariate
    (ŷ = y − θ·(x − x̄), θ = cov(x,y)/var(x)). Emits θ, the raw and
    CUPED-adjusted metric variance (dollars², closed form
    var_y − cov²/var_x) and the percentage reduction — the number that
    decides how much smaller the experiment can be.

    Determinism: per-user pre/post sums are EXACT integer cents, so
    the user-level moment sums are exact ints < 2^53; θ and both
    variances are fixed IEEE sequences over those exact inputs (the
    moment-algebra text is shared with the oracle), identical across
    engines with no intermediate rounding.

    100 TB: one shuffle on user_id for the per-user rollup, then one
    constant-size moment aggregate — the experimentation-platform
    nightly job in two exchanges.
    """
    from manual_data_ingest_spark.io import load_events

    ev = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("ts") < _CUPED_SPLIT, cents)
                           .otherwise(F.lit(0))).alias("x"),
                     F.sum(F.when(F.col("ts") >= _CUPED_SPLIT, cents)
                           .otherwise(F.lit(0))).alias("y")))
    m = per_user.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        rnd(F.expr(_THETA), 6).alias("theta"),
        rnd(F.expr(_VARY) / 10000.0, 4).alias("var_y"),
        rnd(F.expr(_VARCUPED) / 10000.0, 4).alias("var_cuped"),
        rnd(F.lit(100.0) * (F.lit(1.0) - F.expr(_VARCUPED) / F.expr(_VARY)),
            4).alias("reduction_pct"))


# ---------------------------------------------------------------------------
# logistic regression via Newton-Raphson (IRLS), 2 fixed steps
# ---------------------------------------------------------------------------

_LOGIT_ITERS = 2

# H = [[h11,h12,h13],[h12,h22,h23],[h13,h23,h33]], g = [g1,g2,g3]
_LDET = _det3("h11", "h12", "h13", "h12", "h22", "h23", "h13", "h23", "h33")
_LD1 = _det3("g1", "h12", "h13", "g2", "h22", "h23", "g3", "h23", "h33")
_LD2 = _det3("h11", "g1", "h13", "h12", "g2", "h23", "h13", "g3", "h33")
_LD3 = _det3("h11", "h12", "g1", "h12", "h22", "g2", "h13", "h23", "g3")

#: per-row feature/target text (orders): intercept, scaled price, month
_LOGIT_XY_SQL = """
  SELECT CAST(o_totalprice AS DOUBLE) / 100000.0 AS x1,
         CAST(month(o_orderdate) AS DOUBLE) / 12.0 AS x2,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1.0 ELSE 0.0 END AS y
  FROM orders
"""

_RND9 = "floor(%s * 1000000000.0 + 0.5) / 1000000000.0"


def _logit_oracle(iters: int) -> str:
    """The identical IRLS trajectory unrolled into SQL CTEs: per step,
    9dp-rounded gradient/Hessian sums feed the shared Cramer solve and
    the updated β re-rounds at 9dp."""
    head = f"""
WITH xy AS ({_LOGIT_XY_SQL}),
beta0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
                 CAST(0.0 AS DOUBLE) AS b2)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""", p{k} AS (
  SELECT xy.x1, xy.x2, xy.y,
         1.0 / (1.0 + exp(-(b.b0 + b.b1 * xy.x1 + b.b2 * xy.x2))) AS p
  FROM xy, beta{k-1} b
), m{k} AS (
  SELECT {_RND9 % 'sum(p * (1.0 - p))'}             AS h11,
         {_RND9 % 'sum(p * (1.0 - p) * x1)'}        AS h12,
         {_RND9 % 'sum(p * (1.0 - p) * x2)'}        AS h13,
         {_RND9 % 'sum(p * (1.0 - p) * x1 * x1)'}   AS h22,
         {_RND9 % 'sum(p * (1.0 - p) * x1 * x2)'}   AS h23,
         {_RND9 % 'sum(p * (1.0 - p) * x2 * x2)'}   AS h33,
         {_RND9 % 'sum(y - p)'}                      AS g1,
         {_RND9 % 'sum((y - p) * x1)'}               AS g2,
         {_RND9 % 'sum((y - p) * x2)'}               AS g3
  FROM p{k}
), beta{k} AS (
  SELECT {_RND9 % f'(b.b0 + ({_LD1}) / ({_LDET}))'} AS b0,
         {_RND9 % f'(b.b1 + ({_LD2}) / ({_LDET}))'} AS b1,
         {_RND9 % f'(b.b2 + ({_LD3}) / ({_LDET}))'} AS b2
  FROM m{k}, beta{k-1} b
)""")
    tail = f""", final AS (
  SELECT xy.y,
         1.0 / (1.0 + exp(-(b.b0 + b.b1 * xy.x1 + b.b2 * xy.x2))) AS p,
         b.b0, b.b1, b.b2
  FROM xy, beta{iters} b
)
SELECT CAST(count(*) AS BIGINT) AS n,
       floor(b0 * 1000000.0 + 0.5) / 1000000.0 AS beta0,
       floor(b1 * 1000000.0 + 0.5) / 1000000.0 AS beta1,
       floor(b2 * 1000000.0 + 0.5) / 1000000.0 AS beta2,
       floor(sum(y * ln(p) + (1.0 - y) * ln(1.0 - p)) * 10000.0 + 0.5)
           / 10000.0 AS log_likelihood,
       CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_predicted_pos
FROM final
GROUP BY b0, b1, b2
"""
    return head + "".join(steps) + tail


@register("ml_logistic_newton", _logit_oracle(_LOGIT_ITERS))
def ml_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (urgent-priority ~ scaled price + month)
    trained with 2 fixed Newton-Raphson/IRLS steps from β=0. Emits β,
    the final log-likelihood and the predicted-positive count.

    Distribution: the fact is scanned once per step to accumulate the
    9 gradient/Hessian moments (constant-size partial aggregation —
    the same "big data, small model" shape as the OLS trainer); the
    3×3 solve is a one-row projection through the SHARED Cramer text.

    Determinism: exp() is ≤1-ulp but NOT correctly rounded on either
    engine, so the moment sums carry ~1e-12 drift — each is rounded at
    9dp (margin 5e-10) before the solve, and β re-rounds at 9dp per
    step, so both engines take identical steps. The log-likelihood
    rounds at 4dp over the same headroom.
    """
    li = load_table(spark, sf_dir, "orders")
    xy = li.select(
        (F.col("o_totalprice").cast("double") / 100000.0).alias("x1"),
        (F.month("o_orderdate").cast("double") / 12.0).alias("x2"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0)
        .otherwise(0.0).alias("y")).localCheckpoint(eager=True)

    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"),
        F.lit(0.0).alias("b2"))
    r9 = lambda c: F.floor(c * 1000000000.0 + 0.5) / 1000000000.0
    for _ in range(_LOGIT_ITERS):
        p = (xy.crossJoin(F.broadcast(beta))
             .withColumn("p", 1.0 / (1.0 + F.exp(
                 -(F.col("b0") + F.col("b1") * F.col("x1")
                   + F.col("b2") * F.col("x2"))))))
        w = F.col("p") * (1.0 - F.col("p"))
        m = p.agg(
            r9(F.sum(w)).alias("h11"),
            r9(F.sum(w * F.col("x1"))).alias("h12"),
            r9(F.sum(w * F.col("x2"))).alias("h13"),
            r9(F.sum(w * F.col("x1") * F.col("x1"))).alias("h22"),
            r9(F.sum(w * F.col("x1") * F.col("x2"))).alias("h23"),
            r9(F.sum(w * F.col("x2") * F.col("x2"))).alias("h33"),
            r9(F.sum(F.col("y") - F.col("p"))).alias("g1"),
            r9(F.sum((F.col("y") - F.col("p")) * F.col("x1"))).alias("g2"),
            r9(F.sum((F.col("y") - F.col("p")) * F.col("x2"))).alias("g3"))
        beta = (m.crossJoin(F.broadcast(beta))
                .select(r9(F.col("b0") + F.expr(f"({_LD1}) / ({_LDET})"))
                        .alias("b0"),
                        r9(F.col("b1") + F.expr(f"({_LD2}) / ({_LDET})"))
                        .alias("b1"),
                        r9(F.col("b2") + F.expr(f"({_LD3}) / ({_LDET})"))
                        .alias("b2"))
                .localCheckpoint(eager=True))

    final = (xy.crossJoin(F.broadcast(beta))
             .withColumn("p", 1.0 / (1.0 + F.exp(
                 -(F.col("b0") + F.col("b1") * F.col("x1")
                   + F.col("b2") * F.col("x2"))))))
    return (final.groupBy("b0", "b1", "b2")
            .agg(F.count("*").alias("n"),
                 rnd(F.sum(F.col("y") * F.log("p")
                           + (1.0 - F.col("y")) * F.log(1.0 - F.col("p"))),
                     4).alias("log_likelihood"),
                 F.sum(F.when(F.col("p") >= 0.5, 1).otherwise(0))
                 .alias("n_predicted_pos"))
            .select("n",
                    rnd(F.col("b0"), 6).alias("beta0"),
                    rnd(F.col("b1"), 6).alias("beta1"),
                    rnd(F.col("b2"), 6).alias("beta2"),
                    "log_likelihood", "n_predicted_pos"))


# ---------------------------------------------------------------------------
# experimentation suite: SRM guardrail + delta-method ratio variance
# ---------------------------------------------------------------------------

_CHI2_95_1DF = 3.841458820694124  # literal shared by both engine texts


@register("ml_ab_srm_check", f"""
WITH arms AS (
  SELECT DISTINCT user_id,
         ('0x' || substr(md5(user_id::VARCHAR || '|ab'), 1, 4))::BIGINT % 2
             AS arm
  FROM events
), counts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_b
  FROM arms
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(n_a AS BIGINT) AS n_arm_a,
       CAST(n_b AS BIGINT) AS n_arm_b,
       floor(((n_a - n / 2.0) * (n_a - n / 2.0) / (n / 2.0)
              + (n_b - n / 2.0) * (n_b - n / 2.0) / (n / 2.0))
             * 1000000.0 + 0.5) / 1000000.0 AS chi2,
       CASE WHEN ((n_a - n / 2.0) * (n_a - n / 2.0) / (n / 2.0)
                  + (n_b - n / 2.0) * (n_b - n / 2.0) / (n / 2.0))
                 > {_CHI2_95_1DF} THEN 1 ELSE 0 END AS srm_flag
FROM counts
""")
def ml_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio-Mismatch guardrail for a 50/50 experiment: users
    hash-split into arms (salted portable md5 — reproducible and
    independent of every other user-derived hash), χ² of the realized
    split against the design, flagged at the 95% critical value. The
    first check every experimentation platform runs — a biased
    assignment invalidates the experiment before any metric is read.

    Exact-integer arm counts; n/2 is exact (counts are ints, halving
    is exact in binary), so the χ² statistic is a short identical IEEE
    sequence and the flag cannot diverge. The critical value is a
    shared literal — no inverse-CDF at query time.

    100 TB: distinct-users is the one shuffle; the χ² is a scalar.
    """
    from manual_data_ingest_spark.io import load_events

    ev = load_events(spark, sf_dir)
    arm = F.expr("cast(conv(substring(md5(concat(cast(user_id as string),"
                 " '|ab')), 1, 4), 16, 10) as bigint) % 2")
    arms = ev.select("user_id").distinct().select(arm.alias("arm"))
    counts = arms.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("double")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("double")
        .alias("n_b"))
    half = F.col("n") / 2.0
    chi2 = ((F.col("n_a") - half) * (F.col("n_a") - half) / half
            + (F.col("n_b") - half) * (F.col("n_b") - half) / half)
    return counts.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("n_a").cast("long").alias("n_arm_a"),
        F.col("n_b").cast("long").alias("n_arm_b"),
        rnd(chi2, 6).alias("chi2"),
        F.when(chi2 > _CHI2_95_1DF, 1).otherwise(0).alias("srm_flag"))


# delta-method variance of a ratio metric — shared algebra over exact
# per-user integer moments (n users; x = purchase cents, y = event count)
_R = "(sx / sy)"
_VX = "((sxx - (sx * sx) / n) / n)"
_VY = "((syy - (sy * sy) / n) / n)"
_CXY = "((sxy - (sx * sy) / n) / n)"
_MX = "(sx / n)"
_MY = "(sy / n)"
_VAR_RATIO = (f"(({_VX} - 2.0 * {_R} * {_CXY} + {_R} * {_R} * {_VY})"
              f" / ({_MY} * {_MY}) / n)")


@register("ml_ratio_delta_method", f"""
WITH arms AS (
  SELECT user_id,
         ('0x' || substr(md5(user_id::VARCHAR || '|ab'), 1, 4))::BIGINT % 2
             AS arm,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                  ELSE 0 END) AS x,
         count(*) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT arm,
         CAST(count(*)   AS DOUBLE) AS n,
         CAST(sum(x)     AS DOUBLE) AS sx,
         CAST(sum(y)     AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM arms GROUP BY arm
)
SELECT arm,
       CAST(n AS BIGINT) AS n_users,
       floor({_R} / 100.0 * 1000000.0 + 0.5) / 1000000.0
           AS revenue_per_event,
       floor(sqrt({_VAR_RATIO}) / 100.0 * 1000000.0 + 0.5) / 1000000.0
           AS std_err,
       floor({_MY} * 10000.0 + 0.5) / 10000.0 AS events_per_user
FROM m
""")
def ml_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm ratio metric (revenue per event) with its DELTA-METHOD
    standard error — the correct variance for a ratio of per-user
    sums, where naive per-event variance is wrong because users, not
    events, are the randomization unit. Together with `ml_ab_srm_check`
    (assignment guardrail) and `ml_cuped_adjustment` (variance
    reduction), this completes the experimentation readout.

    Var(x̄/ȳ) ≈ (σ²x − 2r·σxy + r²σ²y) / (ȳ²·n): every moment is an
    exact-integer sum (cents, counts), and the whole formula is one
    shared expression text — bit-identical across engines, rounded
    once for display.

    100 TB: one user-level rollup shuffle, then a 2-row moment
    aggregate; identical shape to the CUPED job so both run off the
    same per-user intermediate in production.
    """
    from manual_data_ingest_spark.io import load_events

    ev = load_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    arm = F.expr("cast(conv(substring(md5(concat(cast(user_id as string),"
                 " '|ab')), 1, 4), 16, 10) as bigint) % 2")
    arms = (ev.groupBy("user_id")
            .agg(F.sum(F.when(F.col("event_type") == "purchase", cents)
                       .otherwise(F.lit(0))).alias("x"),
                 F.count("*").alias("y"))
            .select(arm.alias("arm"), "x", "y"))
    m = arms.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"))
    return m.select(
        "arm",
        F.col("n").cast("long").alias("n_users"),
        rnd(F.expr(_R) / 100.0, 6).alias("revenue_per_event"),
        rnd(F.sqrt(F.expr(_VAR_RATIO)) / 100.0, 6).alias("std_err"),
        rnd(F.expr(_MY), 4).alias("events_per_user"))


@register("ml_naive_bayes", """
WITH tok AS MATERIALIZED (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
), cls AS MATERIALIZED (
    SELECT lang AS cand, token, count(*) AS cnt FROM tok GROUP BY 1, 2
), tot AS (
    SELECT cand, sum(cnt)::DOUBLE AS tot FROM cls GROUP BY 1
), vocab AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tok),
langs AS (SELECT DISTINCT lang AS cand FROM documents),
priors AS (
    SELECT lang AS cand, ln(count(*)::DOUBLE /
           (SELECT count(*) FROM documents)) AS logprior
    FROM documents GROUP BY lang
), scored AS (
    SELECT t.doc_id, t.lang, l.cand,
           sum(ln((coalesce(c.cnt, 0) + 1.0) / (tt.tot + (SELECT v FROM vocab))))
               AS loglik
    FROM tok t
    CROSS JOIN langs l
    LEFT JOIN cls c ON c.cand = l.cand AND c.token = t.token
    JOIN tot tt ON tt.cand = l.cand
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
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained and scored
    on the corpus in one lazy plan; output is the confusion matrix
    (actual, predicted, n_docs).

    Laplace-smoothed token likelihoods ln((cnt+1)/(tot+V)) with
    log-priors; prediction is argmax with a lang-ascending tie-break
    (total-order discipline). All model state — class-token counts,
    class totals, vocab size, priors — is AGGREGATES that broadcast:
    training is one groupBy, scoring is a map-side broadcast join per
    token, so at 100 TB the model (≈|V|·|classes| rows) ships to
    executors while the corpus never shuffles — the same topology as
    `dedup_decontaminate`. The integer-count output makes the oracle
    comparison insensitive to float summation order everywhere except
    a score TIE, which the tie-break resolves identically.
    """
    return (_nb_predictions(spark, sf_dir)
            .groupBy("actual", "predicted")
            .agg(F.count("*").alias("n_docs")))


@register("ml_eval_metrics", """
WITH tok AS MATERIALIZED (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
), cls AS MATERIALIZED (
    SELECT lang AS cand, token, count(*) AS cnt FROM tok GROUP BY 1, 2
), tot AS (
    SELECT cand, sum(cnt)::DOUBLE AS tot FROM cls GROUP BY 1
), vocab AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tok),
langs AS (SELECT DISTINCT lang AS cand FROM documents),
priors AS (
    SELECT lang AS cand, ln(count(*)::DOUBLE /
           (SELECT count(*) FROM documents)) AS logprior
    FROM documents GROUP BY lang
), scored AS (
    SELECT t.doc_id, t.lang, l.cand,
           sum(ln((coalesce(c.cnt, 0) + 1.0) / (tt.tot + (SELECT v FROM vocab))))
               AS loglik
    FROM tok t
    CROSS JOIN langs l
    LEFT JOIN cls c ON c.cand = l.cand AND c.token = t.token
    JOIN tot tt ON tt.cand = l.cand
    GROUP BY t.doc_id, t.lang, l.cand
), pred AS MATERIALIZED (
    SELECT doc_id, lang AS actual, cand AS predicted
    FROM (SELECT s.*, p.logprior + s.loglik AS score FROM scored s
          JOIN priors p ON p.cand = s.cand)
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand) = 1
), per_class AS (
    SELECT l.cand AS class,
           (SELECT count(*) FROM pred WHERE actual = l.cand
                                        AND predicted = l.cand) AS tp,
           (SELECT count(*) FROM pred WHERE actual <> l.cand
                                        AND predicted = l.cand) AS fp,
           (SELECT count(*) FROM pred WHERE actual = l.cand
                                        AND predicted <> l.cand) AS fn
    FROM langs l
)
SELECT class, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN floor(tp::DOUBLE / (tp + fp)
            * 1000000.0 + 0.5) / 1000000.0 END AS precision_,
       CASE WHEN tp + fn > 0 THEN floor(tp::DOUBLE / (tp + fn)
            * 1000000.0 + 0.5) / 1000000.0 END AS recall_,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN floor(2.0 * tp / (2 * tp + fp + fn) * 1000000.0 + 0.5)
                 / 1000000.0 END AS f1
FROM per_class
""")
def ml_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 over the naive-Bayes
    predictions — the classifier-eval readout every ML pipeline ends
    with, computed in-engine from the prediction table (no sklearn
    round-trip of N rows to the driver).

    TP/FP/FN are integer conditional aggregates over the (doc, actual,
    predicted) table — one grouped pass per axis fused into a single
    job; the ratios are guarded divisions (ANSI-safe on empty classes,
    PARITY #30). The prediction stage reuses `ml_naive_bayes`'s
    broadcast-model topology wholesale (shared `_nb_predictions`).
    """
    pred = _nb_predictions(spark, sf_dir)
    langs = (load_table(spark, sf_dir, "documents")
             .select(F.col("lang").alias("class")).distinct())
    stats = (langs.join(pred, F.lit(True), "left")
             .groupBy("class")
             .agg(F.count(F.when((F.col("actual") == F.col("class"))
                                 & (F.col("predicted") == F.col("class")), 1))
                  .alias("tp"),
                  F.count(F.when((F.col("actual") != F.col("class"))
                                 & (F.col("predicted") == F.col("class")), 1))
                  .alias("fp"),
                  F.count(F.when((F.col("actual") == F.col("class"))
                                 & (F.col("predicted") != F.col("class")), 1))
                  .alias("fn")))
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp").cast("double") / (F.col("tp") + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp").cast("double") / (F.col("tp") + F.col("fn")))
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp")
                                     + F.col("fn")))
    return stats.select("class", "tp", "fp", "fn",
                        rnd(prec, 6).alias("precision_"),
                        rnd(rec, 6).alias("recall_"),
                        rnd(f1, 6).alias("f1"))


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, actual, predicted) from the resubstitution naive Bayes —
    the shared prediction stage of `ml_naive_bayes` / `ml_eval_metrics`."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang",
                   F.explode(F.split("text", " ")).alias("token"))
    cls = (tok.groupBy(F.col("lang").alias("cand"), "token")
           .agg(F.count("*").alias("cnt")))
    tot = cls.groupBy("cand").agg(F.sum("cnt").cast("double").alias("tot"))
    vocab = tok.select("token").distinct().agg(
        F.count("*").cast("double").alias("v"))
    n_total = d.agg(F.count("*").alias("n_total"))
    priors = (d.groupBy(F.col("lang").alias("cand"))
              .agg(F.count("*").alias("n_lang"))
              .crossJoin(F.broadcast(n_total))
              .select("cand", F.log(F.col("n_lang").cast("double")
                                    / F.col("n_total")).alias("logprior")))
    langs = d.select(F.col("lang").alias("cand")).distinct()
    scored = (tok.crossJoin(F.broadcast(langs))
              .join(F.broadcast(cls), ["cand", "token"], "left")
              .join(F.broadcast(tot), "cand")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc_id", "lang", "cand")
              .agg(F.sum(F.log((F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                               / (F.col("tot") + F.col("v"))))
                   .alias("loglik")))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("logprior") + F.col("loglik")).desc(), F.col("cand"))
    return (scored.join(F.broadcast(priors), "cand")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("lang").alias("actual"),
                    F.col("cand").alias("predicted")))


@register("ml_calibration_bins_scalable", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer WHERE {_SCORED_ONLY_SQL}
), binned AS (
  SELECT y, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS score_decile
  FROM lab
)
SELECT score_decile,
       count(*) AS n,
       count(CASE WHEN y = 1 THEN 1 END) AS n_pos,
       {sql_rnd('count(CASE WHEN y = 1 THEN 1 END)::DOUBLE'
                ' / count(*)::DOUBLE', 6)} AS pos_rate
FROM binned GROUP BY score_decile
""")
def ml_calibration_bins_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB calibration table: score deciles of the scored
    customers with their observed conversion rate (has ≥1 URGENT
    order). The oracle's global `ntile(10)` would single-thread the
    whole scored population through one WindowExec task; this computes
    it with the distributed exact-rank primitive instead
    (functions/ranking.py): approx-quantile cut points bucket the
    score, each bucket ranks under a PARTITIONED window, cumulative
    bucket offsets restore the exact global rank, and the SQL-standard
    tile rule converts rank → decile arithmetically. Bucket-major
    order equals global order for any cut placement, so the result is
    hash-identical to the serial ntile — the `ingest_id_mint_scalable`
    precedent applied to a continuous score. The only single-partition
    step is the offsets window over ≤64 count rows."""
    from manual_data_ingest_spark.functions.ranking import ntile_from_rank

    ranked = _scored_lab_ranked(spark, sf_dir)
    pos = F.count(F.when(F.col("y") == 1, 1))
    return (ranked.withColumn(
                "score_decile",
                ntile_from_rank(F.col("global_rank"), F.col("_n_tot"), 10))
            .groupBy("score_decile")
            .agg(F.count("*").alias("n"),
                 pos.alias("n_pos"),
                 rnd(pos.cast("double") / F.count("*").cast("double"), 6)
                 .alias("pos_rate")))


@register("ml_ece", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer WHERE {_SCORED_ONLY_SQL}
), cents AS (
  SELECT y, floor(c_acctbal * 100.0 + 0.5)::BIGINT AS c FROM lab
), mm AS (SELECT min(c) AS mn, max(c) AS mx FROM cents
), binned AS (
  SELECT y, c, mn, mx,
         CASE WHEN mx > mn THEN least((c - mn) * 10 // (mx - mn), 9)
              ELSE 0 END AS bin
  FROM cents, mm
), per AS (
  SELECT bin, count(*) AS n_b,
         count(CASE WHEN y = 1 THEN 1 END) AS n_pos,
         sum(c - mn) AS s, max(mx) AS mx2, max(mn) AS mn2
  FROM binned GROUP BY bin
), gaps AS (
  SELECT n_b,
         n_b::DOUBLE / (sum(n_b) OVER ()) AS w,
         abs(n_pos::DOUBLE / n_b
             - CASE WHEN mx2 > mn2
                    THEN s::DOUBLE / (n_b::DOUBLE * (mx2 - mn2))
                    ELSE 0.5 END) AS gap
  FROM per
)
SELECT count(*)::BIGINT AS n_bins,
       sum(n_b)::BIGINT AS n_total,
       {sql_rnd('sum(w * gap)', 6)} AS ece,
       {sql_rnd('max(gap)', 6)} AS mce
FROM gaps
""")
def ml_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected + maximum calibration error (r11) — the one-number
    reliability summary beside `ml_calibration_bins_scalable`' full table:
    predicted confidence is the min-max-normalized score, binned into
    10 equal-WIDTH confidence bins (the standard ECE construction —
    unlike the bins table's equal-COUNT deciles), and
    ECE = Σ (n_b/N)·|pos_rate_b − mean_conf_b|, MCE = max gap.

    Numeric discipline: the score moves as exact integer cents; the
    bin index is INTEGER floor-division ((c−mn)·10 div (mx−mn),
    clamped to 9) so boundary rows bin identically on both engines
    (a float divide-then-floor can land on x.9999…); per-bin mean
    confidence is one double division of an exact integer sum
    (PARITY #61's frame rule applied to bins). A degenerate score
    range (mx == mn) defines confidence 0.5 in one bin on both
    engines. The whole op is two dim-sized aggregates + a broadcast
    min/max row — no windows over data, fully map-combinable.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.expr(_SCORED_ONLY_SQL))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    lab = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .select(F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5))
                   .cast("long").alias("c"),
                   F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
                   .alias("y")))
    mm = lab.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    binned = (lab.crossJoin(F.broadcast(mm))
              .withColumn("bin", F.when(
                  F.col("mx") > F.col("mn"),
                  F.least(F.expr("(c - mn) * 10 div (mx - mn)"),
                          F.lit(9).cast("long")))
                  .otherwise(F.lit(0).cast("long"))))
    per = (binned.groupBy("bin")
           .agg(F.count("*").alias("n_b"),
                F.count(F.when(F.col("y") == 1, 1)).alias("n_pos"),
                F.sum(F.col("c") - F.col("mn")).alias("s"),
                F.max("mx").alias("mx2"), F.max("mn").alias("mn2")))
    w_all = Window.partitionBy()
    conf = F.when(F.col("mx2") > F.col("mn2"),
                  F.col("s").cast("double")
                  / (F.col("n_b").cast("double")
                     * (F.col("mx2") - F.col("mn2"))))\
            .otherwise(F.lit(0.5))
    gaps = per.select(
        "n_b",
        (F.col("n_b").cast("double")
         / F.sum("n_b").over(w_all)).alias("w"),
        F.abs(F.col("n_pos").cast("double") / F.col("n_b") - conf)
        .alias("gap"))
    return gaps.agg(F.count("*").alias("n_bins"),
                    F.sum("n_b").alias("n_total"),
                    rnd(F.sum(F.col("w") * F.col("gap")), 6).alias("ece"),
                    rnd(F.max("gap"), 6).alias("mce"))


@register("ml_lift_chart", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer WHERE {_SCORED_ONLY_SQL}
), binned AS (
  SELECT y, ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
             AS score_decile
  FROM lab
), per AS (
  SELECT score_decile, count(*) AS n,
         count(CASE WHEN y = 1 THEN 1 END) AS n_pos
  FROM binned GROUP BY score_decile
), cum AS (
  SELECT score_decile, n, n_pos,
         sum(n) OVER w AS cum_n, sum(n_pos) OVER w AS cum_pos,
         sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos
  FROM per
  WINDOW w AS (ORDER BY score_decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT score_decile, n, n_pos,
       {sql_rnd('(cum_pos::DOUBLE / cum_n::DOUBLE)'
                ' / (tot_pos::DOUBLE / tot_n::DOUBLE)', 6)} AS cum_lift,
       {sql_rnd('cum_pos::DOUBLE / tot_pos::DOUBLE', 6)} AS gain
FROM cum
""")
def ml_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lift & gains by score decile (decile 1 = highest
    score): "target the top-k deciles, capture what share of converters
    at what lift over random" — the campaign-targeting readout that
    pairs with `ml_calibration_bins_scalable` (calibration says scores are
    honest; lift says they're USEFUL).

    Same EXISTS-label + tie-broken ntile stage as the calibration op;
    the cumulative windows then run over the 10-ROW decile aggregate
    (dim-sized — the window never touches entity rows). All counts are
    exact integers; the two ratios are single IEEE divisions rounded
    6dp.
    """
    # NULL scores are unrankable (PARITY #40) — scored entities only.
    # Decile via the distributed exact-rank stage (r9: default path,
    # no unpartitioned window over entities; _scored_lab_ranked)
    from manual_data_ingest_spark.functions.ranking import ntile_from_rank

    ranked = _scored_lab_ranked(spark, sf_dir, descending=True)
    per = (ranked.withColumn(
               "score_decile",
               ntile_from_rank(F.col("global_rank"), F.col("_n_tot"), 10))
           .groupBy("score_decile")
           .agg(F.count("*").alias("n"),
                F.count(F.when(F.col("y") == 1, 1)).alias("n_pos")))
    wc = (Window.orderBy("score_decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy()
    cum = (per
           .withColumn("cum_n", F.sum("n").over(wc))
           .withColumn("cum_pos", F.sum("n_pos").over(wc))
           .withColumn("tot_n", F.sum("n").over(wt))
           .withColumn("tot_pos", F.sum("n_pos").over(wt)))
    rate = F.col("cum_pos").cast("double") / F.col("cum_n").cast("double")
    base = F.col("tot_pos").cast("double") / F.col("tot_n").cast("double")
    return cum.select(
        "score_decile", "n", "n_pos",
        rnd(rate / base, 6).alias("cum_lift"),
        rnd(F.col("cum_pos").cast("double")
            / F.col("tot_pos").cast("double"), 6).alias("gain"))


@register("ml_feature_hashing", """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
)
SELECT doc_id,
       ('0x' || substr(md5(w), 1, 4))::INT % 16 AS feature,
       count(*) AS cnt
FROM tok WHERE w <> ''
GROUP BY doc_id, feature
""")
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: featurize every 10th document into a fixed
    16-dim sparse count vector by hashing tokens into buckets — the
    vocabulary-free featurization that needs NO fitted dictionary, no
    OOV handling, and no vocab broadcast, which is why it is the
    default for streaming / billion-doc feature pipelines (collisions
    are the accepted trade).

    Map-side explode + hash + ONE (doc, feature) partial agg —
    shuffle rows are bounded by docs × 16 regardless of text length.
    md5-derived buckets (the `sample_hash` portable pattern) keep the
    featurization engine-reproducible: the model trained on these
    features scores identically against any engine's re-featurization.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("doc_id") % 10 == 0))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    feat = F.expr(
        "cast(conv(substring(md5(w), 1, 4), 16, 10) as int) % 16")
    return (tok.filter(F.col("w") != "")
            .select("doc_id", feat.alias("feature"))
            .groupBy("doc_id", "feature")
            .agg(F.count("*").alias("cnt")))


@register("ml_target_encoding", f"""
WITH lab AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer
), prior AS (
  SELECT sum(y)::BIGINT AS gy, count(*)::BIGINT AS gn FROM lab
)
SELECT n_name,
       count(*) AS n,
       sum(y)::BIGINT AS n_pos,
       {sql_rnd('(sum(y)::DOUBLE + 10.0 * ((SELECT gy FROM prior)::DOUBLE'
                ' / (SELECT gn FROM prior)::DOUBLE))'
                ' / (count(*)::DOUBLE + 10.0)', 6)} AS encoded
FROM lab JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
""")
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of the nation categorical:
    enc = (Σy + m·prior)/(n + m), m=10 — the feature-engineering
    standard for high-cardinality categoricals, where the smoothing
    prior keeps rare categories from memorizing their few labels
    (the leakage `sample_group_holdout` guards at the split level,
    handled here at the encoder level).

    One label rollup per category riding a 25-row nation broadcast;
    the global prior is a one-row broadcast scalar. Counts are exact
    integers; the encoder is a fixed two-division IEEE sequence
    rounded 6dp. At 100 TB the per-category aggregate IS the encoder
    table a feature store would materialize.
    """
    c = load_table(spark, sf_dir, "customer")
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    n = load_table(spark, sf_dir, "nation")
    lab = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .select("c_nationkey",
                   F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
                   .alias("y")))
    prior = lab.agg(F.sum("y").alias("gy"), F.count("*").alias("gn"))
    enc = ((F.sum("y").cast("double")
            + 10.0 * (F.first("gy").cast("double")
                      / F.first("gn").cast("double")))
           / (F.count("*").cast("double") + 10.0))
    return (lab.join(F.broadcast(n), lab.c_nationkey == n.n_nationkey)
            .join(F.broadcast(prior))
            .groupBy("n_name")
            .agg(F.count("*").alias("n"),
                 F.sum("y").alias("n_pos"),
                 rnd(enc, 6).alias("encoded")))


@register("ml_kfold_assign", f"""
WITH folds AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || '|kfold'), 1, 4))::INT % 5
             AS fold
  FROM documents
)
SELECT fold, count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM folds GROUP BY fold
""")
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    salted-md5 bucket of the doc key — every document lands in exactly
    one fold, assignment survives re-runs/backfills/appends (a new doc
    never reshuffles old folds), and any engine reproduces it. The
    fold-balance report (sizes, language coverage) is the sanity check
    before training 5 models.

    Map-side assignment + one 5-group agg, the `sample_train_val_test`
    topology with k buckets; the '|kfold' salt isolates these buckets
    from every other doc_id-hash decision in the pipeline (unsalted
    hashes would correlate fold membership with split membership —
    a subtle leakage class).
    """
    d = load_table(spark, sf_dir, "documents")
    fold = F.expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), '|kfold')),"
        " 1, 4), 16, 10) as int) % 5")
    return (d.select("doc_id", "lang", fold.alias("fold"))
            .groupBy("fold")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


@register("ml_embedding_qc", f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS v,
         len(embedding) AS dim
  FROM embeddings WHERE embedding IS NOT NULL
), normed AS (
  SELECT vec_id, label, dim,
         floor(sqrt(list_dot_product(v, v)) * 1000000.0 + 0.5) / 1000000.0
             AS norm
  FROM e
)
SELECT label,
       count(*) AS n_vecs,
       count(CASE WHEN dim <> 64 THEN 1 END) AS n_bad_dim,
       count(CASE WHEN norm = 0.0 THEN 1 END) AS n_zero,
       min(norm) AS min_norm,
       max(norm) AS max_norm
FROM normed GROUP BY label
""")
def ml_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ingest QC per label: vector count, wrong-dimension
    count, zero-vector count, and the norm range — the audit every
    ANN/dedup pipeline runs BEFORE indexing, because one zero vector
    makes cosine undefined (`sim_*` would divide by zero) and one
    wrong-dim vector kills a BLAS batch mid-job.

    Map-side norm via the unrolled bit-exact dot (same expression
    text as the sim_* family), rounded 6dp BEFORE min/max so the
    extremal choice itself is parity-safe; one label-grouped
    conditional agg. The zero-count check is an exact compare against
    the rounded 0.0 — a true zero vector rounds to exactly 0.0 on
    both engines.
    """
    from manual_data_ingest_spark.operators.similarity import _dot_sql
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())
    norm = rnd(F.sqrt(F.expr(_dot_sql("embedding", "embedding"))), 6)
    qc = e.select("label", F.size("embedding").alias("dim"),
                  norm.alias("norm"))
    return (qc.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.count(F.when(F.col("dim") != 64, 1)).alias("n_bad_dim"),
                 F.count(F.when(F.col("norm") == 0.0, 1)).alias("n_zero"),
                 F.min("norm").alias("min_norm"),
                 F.max("norm").alias("max_norm")))


@register("ml_average_precision", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer
  WHERE {_SCORED_ONLY_SQL}
), r AS (
  SELECT y,
         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS k,
         sum(y) OVER (ORDER BY c_acctbal DESC, c_custkey
                      ROWS UNBOUNDED PRECEDING) AS cum_pos
  FROM lab
)
SELECT count(*)::BIGINT AS n,
       count(CASE WHEN y = 1 THEN 1 END)::BIGINT AS n_pos,
       {sql_rnd('''CASE WHEN count(CASE WHEN y = 1 THEN 1 END) = 0
            THEN NULL
            ELSE sum(CASE WHEN y = 1 THEN cum_pos::DOUBLE / k END)
                 / count(CASE WHEN y = 1 THEN 1 END) END''', 6)}
           AS avg_precision
FROM r
""")
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-wise PR-AUC) of the acctbal propensity
    score (r11): AP = mean over positive rows of precision@k at that
    row's rank — the imbalanced-data complement to `ml_auc_roc`
    (ROC-AUC is blind to the positive/negative base-rate that PR
    space exposes).

    Distributed form: BOTH the rank k and the cumulative positive
    count ride ONE `with_exact_running_sum` pass (the multi-value
    API shares the quantile bucketing) over the descending score —
    no unpartitioned window ever sees the scored population, the
    `ml_calibration_bins_scalable` precedent applied to a second
    eval metric. Score ties break on c_custkey on both engines (raw
    column comparison, no accumulated float — PARITY #58a's ordering
    rule); AP is NULL with zero positives on both engines. The
    per-positive precision terms are ≤1 rationals summed once —
    double association error ~1e-10 at millions of rows, far under
    the 6dp hash rounding.
    """
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_running_sum)

    c = load_table(spark, sf_dir, "customer").filter(
        F.expr(_SCORED_ONLY_SQL))
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    lab = (c.join(o, c.c_custkey == o.o_custkey, "left")
           .select("c_custkey",
                   (-F.col("c_acctbal")).alias("_negbal"),
                   F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)
                   .alias("y"),
                   F.lit(1).alias("_one")))
    aug = with_exact_running_sum(
        lab, ["_one", "y"], "_negbal", ["c_custkey"],
        out_col=["k", "cum_pos"])
    n_pos = F.count(F.when(F.col("y") == 1, 1))
    ap = F.sum(F.when(F.col("y") == 1,
                      F.col("cum_pos").cast("double") / F.col("k")))
    return aug.agg(
        F.count("*").alias("n"),
        n_pos.alias("n_pos"),
        rnd(F.when(n_pos == 0, F.lit(None).cast("double"))
            .otherwise(ap / n_pos), 6).alias("avg_precision"))


@register("ml_auc_roc", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer
  WHERE {_SCORED_ONLY_SQL}
), ranked AS (
  SELECT y,
         row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rk
  FROM lab
), agg AS (
  SELECT sum(CASE WHEN y = 1 THEN rk ELSE 0 END)::BIGINT AS pos_rank_sum,
         sum(y)::BIGINT AS n_pos,
         count(*)::BIGINT - sum(y)::BIGINT AS n_neg
  FROM ranked
)
SELECT n_pos, n_neg,
       {sql_rnd('(pos_rank_sum - n_pos * (n_pos + 1) / 2)::DOUBLE'
                ' / (n_pos * n_neg)::DOUBLE', 6)} AS auc
FROM agg
""")
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the acctbal propensity score via the
    Mann-Whitney U statistic: AUC = (Σ positive ranks − n⁺(n⁺+1)/2) /
    (n⁺·n⁻) — no curve discretization, no trapezoid approximation,
    and every intermediate is an exact integer until the single final
    division. Completes the in-engine eval suite: calibration (honest
    scores), lift (useful scores), AUC (rankable scores).

    The ranking carries the c_custkey tie-break so equal scores rank
    deterministically on both engines (documented bias vs average-rank
    tie handling: none of the fixture scores tie across classes in a
    way that moves the 6dp rounding — the unique ordering is the
    parity-safe choice). The global row_number is the one ordered
    pass; at 100 TB it becomes the two-phase rank
    (`ingest_id_mint_scalable`'s shape) feeding the same U algebra.
    """
    # AUC is a ranked-score op: a NULL score cannot be ranked, so it
    # joins the _SCORED_ONLY_SQL family (calibration/lift/threshold-
    # sweep). The rank comes from the distributed exact-rank stage
    # (r9: default path — the "at 100 TB it becomes the two-phase
    # rank" note in earlier revisions is now the executed plan).
    ranked = (_scored_lab_ranked(spark, sf_dir)
              .withColumnRenamed("global_rank", "rk"))
    agg = ranked.agg(
        F.sum(F.when(F.col("y") == 1, F.col("rk")).otherwise(0))
        .alias("pos_rank_sum"),
        F.sum("y").alias("n_pos"),
        (F.count("*") - F.sum("y")).alias("n_neg"))
    auc = ((F.col("pos_rank_sum")
            - F.col("n_pos") * (F.col("n_pos") + 1) / 2).cast("double")
           / (F.col("n_pos") * F.col("n_neg")).cast("double"))
    return agg.select("n_pos", "n_neg", rnd(auc, 6).alias("auc"))


@register("ml_precision_at_k", f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
probes AS (
    SELECT vec_id AS probe_id, label AS probe_label, v FROM e
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
), ranked AS (
    SELECT a.probe_id, a.probe_label, b.label AS n_label,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {{_COS}} DESC, b.vec_id) AS rn
    FROM (SELECT probe_id, probe_label, v FROM probes WHERE probe_label < 5) a
    JOIN e b ON b.vec_id <> a.probe_id
)
SELECT probe_id, probe_label,
       count(CASE WHEN n_label = probe_label THEN 1 END) AS n_match,
       {sql_rnd('count(CASE WHEN n_label = probe_label THEN 1 END)::DOUBLE'
                ' / 5.0', 6)} AS precision_at_5
FROM ranked WHERE rn <= 5
GROUP BY probe_id, probe_label
""".replace("{_COS}", _SIM_COS))
def ml_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@5 of the embedding space itself: for each probe, how
    many of its 5 nearest neighbors share its label — the retrieval-
    quality number that decides whether an embedding model is good
    enough to ship BEFORE any ANN index exists (if exact top-k can't
    find same-label neighbors, no index will).

    Reuses the `sim_topk` topology verbatim (probes broadcast, corpus
    never shuffled, raw-score ordering with vec_id tie-break) and adds
    only the label equality aggregate — eval riding the established
    scoring stage, the `ml_eval_metrics`-beside-`ml_naive_bayes`
    pattern applied to retrieval.
    """
    from manual_data_ingest_spark.operators.similarity import cos_arrow
    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("label").alias("probe_label"),
                      F.col("embedding").alias("pv")))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    ranked = (F.broadcast(probes)
              .join(e, F.col("vec_id") != F.col("probe_id"))
              .select("probe_id", "probe_label",
                      F.col("vec_id").alias("n_id"),
                      F.col("label").alias("n_label"),
                      score.alias("score_raw"))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("probe_id")
                  .orderBy(F.col("score_raw").desc(), F.col("n_id"))))
              )
    match = F.count(F.when(F.col("n_label") == F.col("probe_label"), 1))
    return (ranked.filter(F.col("rn") <= 5)
            .groupBy("probe_id", "probe_label")
            .agg(match.alias("n_match"),
                 rnd(match.cast("double") / 5.0, 6).alias("precision_at_5")))


@register("ml_ndcg_at_k", f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
probes AS (
    SELECT vec_id AS probe_id, label AS probe_label, v FROM e
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) = 1
), ranked AS (
    SELECT a.probe_id, a.probe_label, b.label AS n_label,
           row_number() OVER (PARTITION BY a.probe_id
                              ORDER BY {{_COS}} DESC, b.vec_id) AS rn
    FROM (SELECT probe_id, probe_label, v FROM probes WHERE probe_label < 5) a
    JOIN e b ON b.vec_id <> a.probe_id
), agg AS (
    SELECT probe_id, probe_label,
           sum(CASE WHEN n_label = probe_label AND rn <= 10
                    THEN 1.0 / log2(rn + 1) ELSE 0.0 END) AS dcg,
           count(CASE WHEN n_label = probe_label THEN 1 END)
               AS n_rel_corpus,
           min(CASE WHEN n_label = probe_label THEN rn END) AS fr
    FROM ranked GROUP BY 1, 2
)
, ideal AS (
    SELECT s.i AS kk, sum(1.0 / log2(t.j + 1)) AS idcg
    FROM generate_series(1, 10) s(i), generate_series(1, 10) t(j)
    WHERE t.j <= s.i GROUP BY s.i
)
SELECT probe_id, probe_label, n_rel_corpus,
       {sql_rnd('''CASE WHEN n_rel_corpus = 0 THEN 0.0
            ELSE dcg / ideal.idcg END''', 6)} AS ndcg_at_10,
       {sql_rnd('''CASE WHEN fr IS NOT NULL AND fr <= 10
            THEN 1.0 / fr ELSE 0.0 END''', 6)} AS mrr_at_10
FROM agg LEFT JOIN ideal ON ideal.kk = least(n_rel_corpus, 10)
""".replace("{_COS}", _SIM_COS))
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 and MRR@10 of the embedding space (r11): the
    position-weighted retrieval-quality pair beside
    `ml_precision_at_k`'s set-based count — precision@k treats rank 1
    and rank 10 alike, but a RAG or search pipeline cares WHERE the
    first same-label hit lands (MRR) and how the whole relevant mass
    is ordered (NDCG's 1/log2(rank+1) discount against the ideal
    ordering, cut at min(k, |relevant|)).

    Same probe topology as `sim_topk`/`ml_precision_at_k` (probes
    broadcast, corpus never shuffled). r12 optimization (the r11
    advice's medium finding): the ORIGINAL form ranked the FULL corpus
    per probe under the probe window (no rank<=k filter → no
    WindowGroupLimit pushdown; the whole probes×corpus stream funneled
    through <=n_probes window tasks). Only rn<=10 contributes to DCG
    (fr>10 contributes 0 to MRR@10), and n_rel_corpus never needed the
    ranking at all — it is the probe label's corpus count minus the
    probe itself. So: (a) n_rel_corpus comes from a plain per-label
    corpus aggregate (map-side partial agg, no window); (b) the window
    carries an rn<=10 filter, so InferWindowGroupLimit keeps 10 rows
    per probe per input partition BEFORE the shuffle. Output-identical
    (dcg terms outside top-10 were zeroed; fr>10 mapped to mrr=0 and
    now arrives as NULL which maps to the same 0; n_rel_corpus
    arithmetic identity) — re-oracled at three SFs. The ideal DCG is a
    bounded fold over sequence(1, min(k, n_rel)); NDCG is defined as 0
    for a probe with no same-label corpus rows (both engines,
    explicitly).
    """
    from manual_data_ingest_spark.operators.similarity import cos_arrow

    e = load_table(spark, sf_dir, "embeddings")
    wp = Window.partitionBy("label").orderBy("vec_id")
    probes = (e.withColumn("rn", F.row_number().over(wp))
              .filter((F.col("rn") == 1) & (F.col("label") < 5))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("label").alias("probe_label"),
                      F.col("embedding").alias("pv")))
    # n_rel_corpus = corpus rows sharing the probe's label, excluding
    # the probe row itself (which always carries its own label): a
    # label-count aggregate, NOT a per-probe ranking
    label_n = e.groupBy("label").agg(F.count("*").alias("_n"))
    counts = (probes.join(label_n,
                          probes.probe_label == label_n.label)
              .select("probe_id", "probe_label",
                      (F.col("_n") - F.lit(1)).alias("n_rel_corpus")))
    score = cos_arrow(F.col("pv"), F.col("embedding"))
    top = (F.broadcast(probes)
           .join(e, F.col("vec_id") != F.col("probe_id"))
           .select("probe_id", "probe_label",
                   F.col("vec_id").alias("n_id"),
                   F.col("label").alias("n_label"),
                   score.alias("score_raw"))
           .withColumn("rn", F.row_number().over(
               Window.partitionBy("probe_id")
               .orderBy(F.col("score_raw").desc(), F.col("n_id"))))
           .filter(F.col("rn") <= 10))
    rel = F.col("n_label") == F.col("probe_label")
    top_agg = (top.groupBy("probe_id")
               .agg(F.sum(F.when(rel, F.lit(1.0) / F.log2(F.col("rn") + 1))
                          .otherwise(F.lit(0.0))).alias("dcg"),
                    F.min(F.when(rel, F.col("rn"))).alias("fr")))
    agg = counts.join(top_agg, "probe_id")
    # greatest(...,1) keeps the sequence ascending when n_rel = 0 (the
    # ndcg when-branch discards that case, but sequence(1, 0) would
    # otherwise produce the DESCENDING [1, 0] and an Inf term)
    k_ideal = F.greatest(
        F.least(F.col("n_rel_corpus"), F.lit(10).cast("long")),
        F.lit(1).cast("long"))
    idcg = F.aggregate(
        F.sequence(F.lit(1).cast("long"), k_ideal),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1))
    ndcg = F.when(F.col("n_rel_corpus") == 0, F.lit(0.0)) \
            .otherwise(F.col("dcg") / idcg)
    mrr = F.when(F.col("fr").isNotNull() & (F.col("fr") <= 10),
                 F.lit(1.0) / F.col("fr")).otherwise(F.lit(0.0))
    return agg.select("probe_id", "probe_label", "n_rel_corpus",
                      rnd(ndcg, 6).alias("ndcg_at_10"),
                      rnd(mrr, 6).alias("mrr_at_10"))


@register("ml_threshold_sweep", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer WHERE {_SCORED_ONLY_SQL}
), binned AS (
  SELECT y, ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
             AS score_decile
  FROM lab
), per AS (
  SELECT score_decile, count(*) AS n,
         count(CASE WHEN y = 1 THEN 1 END) AS n_pos
  FROM binned GROUP BY score_decile
), cum AS (
  SELECT score_decile,
         sum(n) OVER w AS pred_pos, sum(n_pos) OVER w AS tp,
         sum(n_pos) OVER () AS all_pos
  FROM per
  WINDOW w AS (ORDER BY score_decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT score_decile AS threshold_decile,
       {sql_rnd('tp::DOUBLE / pred_pos::DOUBLE', 6)} AS precision,
       {sql_rnd('tp::DOUBLE / all_pos::DOUBLE', 6)} AS recall,
       {sql_rnd('2.0 * tp::DOUBLE'
                ' / (pred_pos::DOUBLE + all_pos::DOUBLE)', 6)} AS f1,
       (40 * tp >= 19 * (pred_pos + all_pos)) AS above_f1_095
FROM cum
""")
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep: precision / recall / F1 at every
    "predict positive down to decile k" cut — the table a deployed
    classifier's threshold is actually chosen from (AUC says the model
    ranks; THIS says where to cut). F1 uses the 2TP/(predP+allP)
    identity so no harmonic-mean division chain stacks float error,
    and the 0.95-F1 flag is EXACT integer algebra (40·tp ≥
    19·(pred+all) ⇔ 2tp/(pred+all) ≥ 19/20 — the PARITY #21
    integer-compare rule).

    Same decile stage as `ml_lift_chart`; the cumulative windows run
    on the 10-row aggregate. Completes the eval suite: calibration,
    lift, AUC, and now the operating point.
    """
    # NULL scores are unrankable (PARITY #40) — scored entities only.
    # Decile via the distributed exact-rank stage (r9: default path,
    # no unpartitioned window over entities; _scored_lab_ranked)
    from manual_data_ingest_spark.functions.ranking import ntile_from_rank

    ranked = _scored_lab_ranked(spark, sf_dir, descending=True)
    per = (ranked.withColumn(
               "score_decile",
               ntile_from_rank(F.col("global_rank"), F.col("_n_tot"), 10))
           .groupBy("score_decile")
           .agg(F.count("*").alias("n"),
                F.count(F.when(F.col("y") == 1, 1)).alias("n_pos")))
    wc = (Window.orderBy("score_decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy()
    cum = (per.withColumn("pred_pos", F.sum("n").over(wc))
           .withColumn("tp", F.sum("n_pos").over(wc))
           .withColumn("all_pos", F.sum("n_pos").over(wt)))
    tp = F.col("tp").cast("double")
    return cum.select(
        F.col("score_decile").alias("threshold_decile"),
        rnd(tp / F.col("pred_pos").cast("double"), 6).alias("precision"),
        rnd(tp / F.col("all_pos").cast("double"), 6).alias("recall"),
        rnd(2.0 * tp / (F.col("pred_pos").cast("double")
                        + F.col("all_pos").cast("double")), 6).alias("f1"),
        (40 * F.col("tp") >= 19 * (F.col("pred_pos") + F.col("all_pos")))
        .alias("above_f1_095"))


@register("ml_embedding_dim_profile", f"""
WITH dims AS (
  SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  WHERE embedding IS NOT NULL
)
SELECT dim,
       count(*) AS n,
       {sql_rnd('avg(x)', 6)} AS mean,
       {sql_rnd('stddev_pop(x)', 6)} AS std,
       {sql_rnd('min(x)', 6)} AS min_x,
       {sql_rnd('max(x)', 6)} AS max_x
FROM dims GROUP BY dim
""")
def ml_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding profile (mean/std/range for each of the
    64 coordinates) — the whitening table: standardizing retrieval
    embeddings per-dim measurably improves cosine recall, and a dim
    whose std is ~0 is dead weight the index pays for anyway. The
    per-dim complement of `ml_embedding_qc`'s per-label norms.

    Long-form explode (posexplode — 64 rows per vector) into a
    (dim)-grouped moment pass: the shuffle carries partial aggregates
    per (dim × task), bounded at 64·tasks regardless of corpus size.
    The same long-form relation is `ml_pca_power`'s input — this
    profile is step zero of that pipeline. Moments ride builtin
    avg/stddev_pop on doubles; 6dp rounding absorbs summation-order
    drift (PARITY #23 class, values are O(1) floats).
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())
    dims = e.select("vec_id",
                    F.posexplode(F.col("embedding")).alias("dim", "xf")) \
            .select("dim", F.col("xf").cast("double").alias("x"))
    return (dims.groupBy("dim")
            .agg(F.count("*").alias("n"),
                 rnd(F.avg("x"), 6).alias("mean"),
                 rnd(F.stddev_pop("x"), 6).alias("std"),
                 rnd(F.min("x"), 6).alias("min_x"),
                 rnd(F.max("x"), 6).alias("max_x")))


@register("ml_cohens_kappa", """
WITH tok AS MATERIALIZED (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
), cls AS MATERIALIZED (
    SELECT lang AS cand, token, count(*) AS cnt FROM tok GROUP BY 1, 2
), tot AS (
    SELECT cand, sum(cnt)::DOUBLE AS tot FROM cls GROUP BY 1
), vocab AS (SELECT count(DISTINCT token)::DOUBLE AS v FROM tok),
langs AS (SELECT DISTINCT lang AS cand FROM documents),
priors AS (
    SELECT lang AS cand, ln(count(*)::DOUBLE /
           (SELECT count(*) FROM documents)) AS logprior
    FROM documents GROUP BY lang
), scored AS (
    SELECT t.doc_id, t.lang, l.cand,
           sum(ln((coalesce(c.cnt, 0) + 1.0) / (tt.tot + (SELECT v FROM vocab))))
               AS loglik
    FROM tok t
    CROSS JOIN langs l
    LEFT JOIN cls c ON c.cand = l.cand AND c.token = t.token
    JOIN tot tt ON tt.cand = l.cand
    GROUP BY t.doc_id, t.lang, l.cand
), pred AS MATERIALIZED (
    SELECT doc_id, lang AS actual, cand AS predicted
    FROM (SELECT s.*, p.logprior + s.loglik AS score FROM scored s
          JOIN priors p ON p.cand = s.cand)
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand) = 1
), marg AS (
    SELECT count(*)::BIGINT AS n,
           count(CASE WHEN actual = predicted THEN 1 END)::BIGINT AS agree,
           (SELECT sum(a.c * p.c)::BIGINT FROM
              (SELECT actual AS k, count(*) AS c FROM pred GROUP BY 1) a
              JOIN
              (SELECT predicted AS k, count(*) AS c FROM pred GROUP BY 1) p
              ON p.k = a.k) AS chance_prod
    FROM pred
)
SELECT n, agree,
       CASE WHEN n > 0 THEN
         floor((agree::DOUBLE / n::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
       END AS accuracy,
       CASE WHEN n * n - chance_prod > 0 THEN
         floor(((agree::DOUBLE * n::DOUBLE - chance_prod::DOUBLE)
                / (n::DOUBLE * n::DOUBLE - chance_prod::DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0
       END AS kappa
FROM marg
""")
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the NB classifier against truth: agreement
    corrected for CHANCE agreement — the statistic that exposes a
    classifier that "scores 86% accuracy" by always predicting the
    majority class (kappa ≈ 0). κ = (n·agree − Σ row·col marginal
    products) / (n² − Σ products), algebraically identical to
    (po−pe)/(1−pe) but with every term an exact INTEGER until the
    single final division (the `ml_auc_roc` discipline).

    Reuses the shared `_nb_predictions` stage; on top of it: one
    3-counter agg + a 5×5 marginal product — dims-sized work. The
    same formula scores annotator-vs-annotator agreement in labeling
    pipelines; truth column swaps for the second annotator.
    """
    # r12 measured NEGATIVE, kept as-was: folding predictions to the
    # ≤|langs|² confusion matrix first (one exchange, tiny branches)
    # LOST +6…+11% at both 1× and 4× (interleaved A/B, median of 5) —
    # the three pred-reading branches below already share the heavy NB
    # stage via ReuseExchange, so the rewrite only added an exchange.
    pred = _nb_predictions(spark, sf_dir)
    a = pred.groupBy(F.col("actual").alias("k")).agg(
        F.count("*").alias("ca"))
    p = pred.groupBy(F.col("predicted").alias("k")).agg(
        F.count("*").alias("cp"))
    chance = (a.join(p, "k")
              .agg(F.sum(F.col("ca") * F.col("cp")).alias("chance_prod")))
    marg = (pred.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("actual") == F.col("predicted"), 1))
        .alias("agree"))
        .join(F.broadcast(chance)))
    n = F.col("n").cast("double")
    agree = F.col("agree").cast("double")
    cp = F.col("chance_prod").cast("double")
    # empty-corpus guards: 0/0 crashes under ANSI (PARITY #30)
    return marg.select(
        "n", "agree",
        F.when(F.col("n") > 0, rnd(agree / n, 6)).alias("accuracy"),
        F.when(F.col("n") * F.col("n") - F.col("chance_prod") > 0,
               rnd((agree * n - cp) / (n * n - cp), 6)).alias("kappa"))


@register("ml_power_analysis", f"""
WITH stats AS (
  SELECT event_type,
         count(*)::BIGINT AS n,
         avg(value) AS mu,
         var_pop(value) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n,
       {sql_rnd('mu', 4)} AS mean_value,
       CAST(ceil(2.0 * v * 7.84895656 / (0.05 * mu) / (0.05 * mu))
            AS BIGINT) AS n_per_arm_5pct,
       (n >= 2 * CAST(ceil(2.0 * v * 7.84895656
                           / (0.05 * mu) / (0.05 * mu)) AS BIGINT))
           AS currently_powered
FROM stats WHERE mu > 0
""")
def ml_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis from observed metric variance: the per-arm
    sample size to detect a 5% lift at α=0.05 / 80% power —
    n = 2σ²(z₀.₉₇₅+z₀.₈)²/δ² with (1.96+0.8416)² = 7.84895656 as the
    shared literal (no inverse-CDF at query time, the `ml_ab_srm_check`
    discipline). The "how long must this experiment run" answer
    computed from the SAME table the experiment will read, not a stale
    spreadsheet; pairs with the SRM guard and the delta-method readout.

    One grouped moment pass; the IDENTICAL expression string runs on
    both engines, and ceil() sits on a product of well-separated
    magnitudes (no rounding-boundary risk). Zero-mean groups are
    excluded (δ = 5% of the mean would be 0).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    stats = (ev.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.avg("value").alias("mu"),
                  F.var_pop("value").alias("v")))
    delta = 0.05 * F.col("mu")
    n_req = F.ceil(2.0 * F.col("v") * F.lit(7.84895656)
                   / delta / delta).cast("long")
    return (stats.filter(F.col("mu") > 0)
            .select("event_type", "n",
                    rnd(F.col("mu"), 4).alias("mean_value"),
                    n_req.alias("n_per_arm_5pct"),
                    (F.col("n") >= 2 * n_req).alias("currently_powered")))


_BOOT_B = 100           # bootstrap replicates
_BOOT_MOD = 1_000_000_007
#: Poisson(1) inverse-CDF thresholds scaled to the integer hash range
#: [0, _BOOT_MOD): weight w is the count of thresholds below the hash.
#: Pure integer comparisons — zero cross-engine float hazard.
_BOOT_THRESH = (367879441, 735758882, 919698602, 981011843,
                996340153, 999405815, 999916758, 999990018)


def _boot_weight_sql(h: str) -> str:
    """Portable SQL for the Poisson(1) weight of integer hash ``h``."""
    return "(" + " + ".join(
        f"(CASE WHEN {h} >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_THRESH
    ) + ")"


@register("ml_bootstrap_ci", f"""
WITH rep AS (
    SELECT b,
           {_boot_weight_sql(f'(o_orderkey * 2654435761 + b * 40503)'
                             f' % {_BOOT_MOD}')} AS w,
           floor(o_totalprice * 100.0 + 0.5)::BIGINT AS cents
    FROM orders, LATERAL (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                          AS b) u
), means AS (
    SELECT b, sum(w * cents)::DOUBLE / sum(w)::DOUBLE / 100.0 AS m
    FROM rep GROUP BY b HAVING sum(w) > 0
), full_mean AS (
    SELECT sum(floor(o_totalprice * 100.0 + 0.5)::BIGINT)::DOUBLE
           / count(*)::DOUBLE / 100.0 AS est
    FROM orders
)
SELECT count(*) AS n_replicates,
       {sql_rnd('(SELECT est FROM full_mean)')} AS mean_estimate,
       {sql_rnd('quantile_cont(m, 0.025)')} AS ci_lo,
       {sql_rnd('quantile_cont(m, 0.975)')} AS ci_hi
FROM means
""")
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for the mean order
    value — THE way to put error bars on a metric at 100 TB, where
    classical resampling (materialize B copies of the data) is
    impossible: each row independently draws a Poisson(1) weight per
    replicate, so one pass computes all B weighted sums and the
    replicate means' quantiles are the CI (the standard streaming
    bootstrap).

    Determinism: the per-(row, replicate) weight comes from an integer
    congruential hash compared against integer-scaled Poisson CDF
    thresholds — no RNG, no floats until the final division of two
    exact int64 sums, so both engines see bit-identical replicate
    means. Scale shape: the fan-out is a generator expression (no
    data duplication on disk), partial aggregation collapses each
    partition to B rows before the one B-group shuffle; exact
    `percentile` over B=100 replicate means is driver-trivial. The
    full-sample mean rides a second scan of the same cached table.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    h = (F.col("o_orderkey") * F.lit(2654435761)
         + F.col("b") * F.lit(40503)) % F.lit(_BOOT_MOD)
    w = functools_reduce_add([
        F.when(h >= t, 1).otherwise(0) for t in _BOOT_THRESH])
    rep = (o.select(F.col("o_orderkey"), cents.alias("cents"),
                    F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
                    .alias("b"))
           .select("b", w.alias("w"), "cents"))
    means = (rep.groupBy("b")
             .agg(F.sum(F.col("w") * F.col("cents")).alias("s"),
                  F.sum("w").alias("c"))
             .filter(F.col("c") > 0)
             .select((F.col("s").cast("double") / F.col("c").cast("double")
                      / 100.0).alias("m")))
    full = o.agg((F.sum(cents).cast("double") / F.count("*").cast("double")
                  / 100.0).alias("est"))
    return (means.join(F.broadcast(full))
            .agg(F.count("*").alias("n_replicates"),
                 rnd(F.first("est")).alias("mean_estimate"),
                 rnd(F.expr("percentile(m, 0.025D)")).alias("ci_lo"),
                 rnd(F.expr("percentile(m, 0.975D)")).alias("ci_hi")))


def functools_reduce_add(cols):
    """Sum a list of integer Columns into one expression."""
    import functools
    import operator

    return functools.reduce(operator.add, cols)


_CENT_SQL = """
pe AS (
    SELECT vec_id, label, unnest(list_transform(embedding, x -> x::DOUBLE))
               AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
"""


@register("ml_centroid_classify", f"""
WITH {_CENT_SQL},
cent AS (
    SELECT label AS clabel, pos, avg(x) AS cx FROM pe GROUP BY 1, 2
), cv AS (
    SELECT clabel, list(cx ORDER BY pos) AS c FROM cent GROUP BY 1
), e AS (
    SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings
), scored AS (
    SELECT vec_id, label, clabel,
           list_dot_product(v, c)
           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)))
               AS s
    FROM e CROSS JOIN cv
), pred AS (
    SELECT vec_id, label, clabel AS predicted
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY s DESC, clabel) = 1
)
SELECT label, predicted, count(*) AS n
FROM pred GROUP BY 1, 2
""")
def ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of every embedding
    against its label centroids, reported as a confusion matrix — the
    cheapest possible embedding-space sanity check (`ml_knn_classify`
    needs a neighbor search; this needs 10 dot products/vector) and
    the standard first pass before spending on an ANN index.

    Scale shape: centroids are a (label, dim)-sized aggregate
    (posexplode + hash agg with map-side partials → 10 rows), then
    BROADCAST back so the corpus never shuffles for scoring; the
    argmax window partitions by vec_id (high cardinality, bounded
    10-row groups). Cross-engine argmax discipline: the top-1 vs
    top-2 centroid-cosine gap is >= 2.7e-5 on every fixture SF
    (pinned in tests/test_guard_band.py), ~7 orders above engine
    last-bit drift, with `clabel` as the deterministic tie-break.
    """
    from manual_data_ingest_spark.operators.similarity import cos_arrow

    e = load_table(spark, sf_dir, "embeddings")
    pe = e.select("vec_id", "label",
                  F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x"))
    cent = (pe.groupBy(F.col("label").alias("clabel"), "pos")
            .agg(F.avg("x").alias("cx")))
    cv = (cent.groupBy("clabel")
          .agg(F.transform(F.array_sort(F.collect_list(
              F.struct("pos", "cx"))), lambda s: s["cx"]).alias("c")))
    scored = (e.join(F.broadcast(cv))
              .select("vec_id", "label", "clabel",
                      cos_arrow(F.col("c"), F.col("embedding")).alias("s")))
    pred = (scored.withColumn("rn", F.row_number().over(
        Window.partitionBy("vec_id")
        .orderBy(F.col("s").desc(), F.col("clabel"))))
        .filter(F.col("rn") == 1))
    return (pred.groupBy("label", F.col("clabel").alias("predicted"))
            .agg(F.count("*").alias("n")))


@register("ml_embedding_drift", f"""
WITH {_CENT_SQL},
halves AS (
    SELECT label, pos, vec_id % 2 AS parity, x FROM pe
), cents AS (
    SELECT label, pos,
           avg(CASE WHEN parity = 0 THEN x END) AS a0,
           avg(CASE WHEN parity = 1 THEN x END) AS a1
    FROM halves GROUP BY 1, 2
), agg AS (
    SELECT label,
           sum((a0 - a1) * (a0 - a1)) AS d2,
           sum(a0 * a1) AS dot,
           sum(a0 * a0) AS n0,
           sum(a1 * a1) AS n1
    FROM cents GROUP BY 1
), counts AS (
    SELECT label,
           count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS n_even,
           count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END) AS n_odd
    FROM embeddings GROUP BY 1
)
SELECT agg.label, n_even, n_odd,
       {sql_rnd('sqrt(d2)', 6)} AS centroid_l2,
       {sql_rnd('dot / (sqrt(n0) * sqrt(n1))', 6)} AS centroid_cos
FROM agg JOIN counts ON agg.label = counts.label
""")
def ml_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift detector: per label, the L2 distance and cosine
    between the centroids of two deterministic halves (even/odd
    vec_id) of the corpus — the check that catches a re-embedding run
    whose model silently changed (split by ingest batch in
    production; here parity stands in for batch id). Stable spaces
    show cos ~ 1 / L2 ~ 0; a drifted half shows up per label before
    any downstream eval does.

    Scale shape: one posexplode pass → (label, pos, parity) hash agg
    (map-side partials; 10×64×2 output rows), then dim-sized
    arithmetic — the same collapse-then-compute shape as
    `ml_embedding_dim_profile`. Conditional avg keeps both halves in
    ONE aggregation instead of two scans + a join. Float discipline:
    per-cell averages divide identical partial sums (drift ~1e-13,
    far below 6dp rounding); sqrt is IEEE-exact in both engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pe = e.select("vec_id", "label",
                  F.posexplode(F.col("embedding").cast("array<double>"))
                  .alias("pos", "x"),
                  (F.col("vec_id") % 2).alias("parity"))
    cents = (pe.groupBy("label", "pos")
             .agg(F.avg(F.when(F.col("parity") == 0, F.col("x")))
                  .alias("a0"),
                  F.avg(F.when(F.col("parity") == 1, F.col("x")))
                  .alias("a1")))
    agg = (cents.groupBy("label")
           .agg(F.sum((F.col("a0") - F.col("a1"))
                      * (F.col("a0") - F.col("a1"))).alias("d2"),
                F.sum(F.col("a0") * F.col("a1")).alias("dot"),
                F.sum(F.col("a0") * F.col("a0")).alias("n0"),
                F.sum(F.col("a1") * F.col("a1")).alias("n1")))
    counts = (e.groupBy("label")
              .agg(F.countDistinct(
                  F.when(F.col("vec_id") % 2 == 0, F.col("vec_id")))
                  .alias("n_even"),
                  F.countDistinct(
                  F.when(F.col("vec_id") % 2 == 1, F.col("vec_id")))
                  .alias("n_odd")))
    return (agg.join(counts, "label")
            .select("label", "n_even", "n_odd",
                    rnd(F.sqrt("d2"), 6).alias("centroid_l2"),
                    rnd(F.col("dot") / (F.sqrt("n0") * F.sqrt("n1")), 6)
                    .alias("centroid_cos")))


@register("ml_propensity_weighting", f"""
WITH units AS (
    SELECT (o_orderpriority = '1-URGENT')::INT AS t,
           floor(o_totalprice * 100.0 + 0.5)::BIGINT AS y,
           c_mktsegment AS seg
    FROM orders JOIN customer ON o_custkey = c_custkey
), seg_p AS (
    SELECT seg, sum(t)::BIGINT AS nt, count(*) AS n FROM units GROUP BY seg
    HAVING sum(t) > 0 AND sum(t) < count(*)
), w AS (
    SELECT u.t, u.y,
           u.t * u.y::DOUBLE / (sp.nt::DOUBLE / sp.n)          AS wt_y,
           (1 - u.t) * u.y::DOUBLE
               / (1.0 - sp.nt::DOUBLE / sp.n)                  AS wc_y
    FROM units u JOIN seg_p sp ON u.seg = sp.seg
)
SELECT count(*) AS n_units,
       sum(t)::BIGINT AS n_treated,
       {sql_rnd('(sum(CASE WHEN t = 1 THEN y END)::DOUBLE'
                ' / sum(t)'
                ' - sum(CASE WHEN t = 0 THEN y END)::DOUBLE'
                ' / (count(*) - sum(t))) / 100.0')} AS naive_diff,
       {sql_rnd('(sum(wt_y) - sum(wc_y)) / count(*) / 100.0')} AS ate_ipw
FROM w
""")
def ml_propensity_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted treatment effect (Horvitz-Thompson):
    the effect of URGENT priority on order value, deconfounded by
    customer segment — the observational-causal estimator that
    completes the experimentation suite (`ml_ab_srm_check` validates
    randomization; CUPED reduces variance; IPW is what's left when
    there WAS no randomization). Propensity = the segment's observed
    treatment share; each unit is reweighted by 1/p (treated) or
    1/(1-p) (control) so both groups match the segment mix.

    Positivity (overlap) guard: a segment whose units are ALL treated
    (p=1) or ALL control (p=0) has no identifiable counterfactual —
    and its weight terms divide by zero, which Spark-4 ANSI mode
    raises as DIVIDE_BY_ZERO (r4 ADVICE.md). Such segments are
    EXCLUDED from the estimator (the standard IPW positivity filter),
    mirrored as HAVING in the oracle; the fixtures' 86/14 priority
    split keeps every segment two-sided, so fixture results are
    unchanged — tests/test_unit_operators.py pins the degenerate case
    on a synthetic all-treated segment.

    Float discipline: propensities divide two exact int64 counts per
    segment (5 segments); the weighted sums add exact-cent outcomes
    scaled by those fixed doubles — last-bit accumulation drift is far
    below the 2dp output rounding. Scale: one fact-dim broadcast join
    + a 5-row propensity aggregate joined back broadcast + one final
    pass — three map-side-combined aggregates, no wide shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    units = (o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
                    o.o_custkey == F.col("c_custkey"))
             .select((F.col("o_orderpriority") == "1-URGENT").cast("int")
                     .alias("t"),
                     F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
                     .cast("long").alias("y"),
                     F.col("c_mktsegment").alias("seg")))
    seg_p = (units.groupBy("seg").agg(F.sum("t").alias("nt"),
                                      F.count("*").alias("n"))
             # positivity filter: drop p=0 / p=1 segments (no overlap;
             # their weights would divide by zero under ANSI mode)
             .filter((F.col("nt") > 0) & (F.col("nt") < F.col("n"))))
    p = F.col("nt").cast("double") / F.col("n")
    w = (units.join(F.broadcast(seg_p), "seg")
         .select("t", "y",
                 (F.col("t") * F.col("y").cast("double") / p).alias("wt_y"),
                 ((1 - F.col("t")) * F.col("y").cast("double")
                  / (1.0 - p)).alias("wc_y")))
    n = F.count("*")
    nt = F.sum("t")
    naive = (F.sum(F.when(F.col("t") == 1, F.col("y"))).cast("double") / nt
             - F.sum(F.when(F.col("t") == 0, F.col("y"))).cast("double")
             / (n - nt))
    return w.agg(
        n.alias("n_units"),
        nt.cast("long").alias("n_treated"),
        rnd(naive / 100.0).alias("naive_diff"),
        rnd((F.sum("wt_y") - F.sum("wc_y")) / n / 100.0).alias("ate_ipw"))


@register("ml_two_proportion_ztest", f"""
WITH u AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
), base AS (
    SELECT c_mktsegment AS segment, c_custkey % 2 AS arm,
           CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS conv
    FROM customer LEFT JOIN u ON c_custkey = o_custkey
), agg AS (
    SELECT segment,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
           CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE) AS c0,
           CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE) AS c1
    FROM base GROUP BY 1
)
SELECT segment,
       CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       CASE WHEN n0 > 0 THEN {sql_rnd('c0 / n0', 6)} END AS p_control,
       CASE WHEN n1 > 0 THEN {sql_rnd('c1 / n1', 6)} END AS p_treat,
       CASE WHEN n0 > 0 AND n1 > 0
                 AND (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1)
            THEN {sql_rnd('''(c1 / n1 - c0 / n0)
                 / sqrt((c0 + c1) / (n0 + n1)
                        * (1.0::DOUBLE - (c0 + c1) / (n0 + n1))
                        * (1.0::DOUBLE / n0 + 1.0::DOUBLE / n1))''', 4)}
            ELSE NULL END AS z_score
FROM agg
""")
def ml_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test per segment — the workhorse A/B
    readout for CONVERSION metrics (the continuous-metric siblings are
    `agg_ttest_welch` and `ml_ratio_delta_method`): arms are the
    deterministic custkey parity split, conversion = the customer
    placed >= 1 URGENT order, z = (p1-p0)/sqrt(pp(1-pp)(1/n0+1/n1))
    with pp the pooled rate. Degenerate segments (an empty arm, or
    conversions all-0/all-1 so the pooled variance is 0) return NULL
    instead of tripping ANSI DIVIDE_BY_ZERO — the same guard class as
    `ml_propensity_weighting`'s positivity filter.

    Scale shape: conversion flags come from one distinct-projection of
    orders left-joined to customer (AQE sizes it); everything after is
    a 5-row segment aggregate. Nothing here is per-pair or windowed —
    it is the cheapest experiment readout in the family.
    """
    c = load_table(spark, sf_dir, "customer")
    u = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    base = (c.join(u, c.c_custkey == u.o_custkey, "left")
            .select(F.col("c_mktsegment").alias("segment"),
                    (F.col("c_custkey") % 2).alias("arm"),
                    F.when(F.col("o_custkey").isNull(), 0).otherwise(1)
                    .alias("conv")))
    agg = base.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("double").alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("double").alias("c1"))
    n0, n1, c0, c1 = (F.col(x) for x in ("n0", "n1", "c0", "c1"))
    pp = (c0 + c1) / (n0 + n1)
    z = ((c1 / n1 - c0 / n0)
         / F.sqrt(pp * (F.lit(1.0) - pp)
                  * (F.lit(1.0) / n0 + F.lit(1.0) / n1)))
    ok = (n0 > 0) & (n1 > 0) & ((c0 + c1) > 0) & ((c0 + c1) < (n0 + n1))
    return agg.select(
        "segment",
        n0.cast("long").alias("n_control"), n1.cast("long").alias("n_treat"),
        F.when(n0 > 0, rnd(c0 / n0, 6)).alias("p_control"),
        F.when(n1 > 0, rnd(c1 / n1, 6)).alias("p_treat"),
        F.when(ok, rnd(z, 4)).otherwise(F.lit(None)).alias("z_score"))


@register("ml_woe_encoding", f"""
WITH lab AS (
  SELECT c_mktsegment AS seg,
         (o_orderpriority = '1-URGENT')::INT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IS NOT NULL AND o_orderpriority IS NOT NULL
), cell AS (
  SELECT seg,
         sum(y)::BIGINT AS n_pos, (count(*) - sum(y))::BIGINT AS n_neg
  FROM lab GROUP BY seg
), tot AS (
  SELECT sum(n_pos)::BIGINT AS t_pos, sum(n_neg)::BIGINT AS t_neg FROM cell
)
SELECT seg, n_pos, n_neg,
       {sql_rnd('''ln(((n_pos + 0.5::DOUBLE) / (t_pos + 0.5::DOUBLE))
                  / ((n_neg + 0.5::DOUBLE) / (t_neg + 0.5::DOUBLE)))''', 6)}
           AS woe,
       {sql_rnd('''((n_pos + 0.5::DOUBLE) / (t_pos + 0.5::DOUBLE)
                  - (n_neg + 0.5::DOUBLE) / (t_neg + 0.5::DOUBLE))
                 * ln(((n_pos + 0.5::DOUBLE) / (t_pos + 0.5::DOUBLE))
                      / ((n_neg + 0.5::DOUBLE) / (t_neg + 0.5::DOUBLE)))''',
                6)} AS iv_term
FROM cell CROSS JOIN tot
""")
def ml_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of a categorical feature against a
    binary label (market segment vs urgent-order rate) — the
    credit-scoring sibling of `ml_target_encoding`: WOE(level) =
    ln(P(level|pos)/P(level|neg)), plus each level's information-value
    term (Σ iv_term = the feature's IV, the classic keep/drop score).

    Laplace-smoothed with +0.5 on every cell so empty levels cannot
    hit ln(0)/divide-by-zero in either engine (the degenerate-arm
    class the empty/NULL sweeps exist for). Everything reduces to
    exact integer counts in ONE map-side-combinable pass + a 5-row
    broadcast of the totals; WOE is a single fixed IEEE expression
    over those integers — ln() is ≤1 ulp cross-engine (PARITY #31),
    safe under 6dp rounding with boundary distances pinned in
    tests/test_guard_band.py.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    lab = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
           .filter(F.col("c_mktsegment").isNotNull()
                   & F.col("o_orderpriority").isNotNull())
           .select(F.col("c_mktsegment").alias("seg"),
                   (F.col("o_orderpriority") == "1-URGENT")
                   .cast("int").alias("y")))
    cell = lab.groupBy("seg").agg(
        F.sum("y").alias("n_pos"),
        (F.count("*") - F.sum("y")).alias("n_neg"))
    tot = cell.agg(F.sum("n_pos").alias("t_pos"),
                   F.sum("n_neg").alias("t_neg"))
    pp = (F.col("n_pos") + 0.5) / (F.col("t_pos") + 0.5)
    pn = (F.col("n_neg") + 0.5) / (F.col("t_neg") + 0.5)
    woe = F.log(pp / pn)
    return (cell.crossJoin(F.broadcast(tot))
            .select("seg", "n_pos", "n_neg",
                    rnd(woe, 6).alias("woe"),
                    rnd((pp - pn) * woe, 6).alias("iv_term")))


@register("ml_isotonic_calibration", f"""
WITH lab AS (
  SELECT c_custkey, c_acctbal,
         CASE WHEN EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer WHERE {_SCORED_ONLY_SQL}
), binned AS (
  SELECT y, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS d
  FROM lab
), b AS (
  SELECT d, count(*)::BIGINT AS n,
         count(CASE WHEN y = 1 THEN 1 END)::BIGINT AS p
  FROM binned GROUP BY d
), pre AS (
  SELECT d, sum(n) OVER (ORDER BY d)::BIGINT AS cn,
         sum(p) OVER (ORDER BY d)::BIGINT AS cp
  FROM b
), pre0 AS (
  SELECT 0 AS d, 0::BIGINT AS cn, 0::BIGINT AS cp
  UNION ALL SELECT d, cn, cp FROM pre
), lvl1 AS (
  SELECT i.d AS i, j.d AS j,
         min((k.cp - j.cp)::DOUBLE / (k.cn - j.cn)::DOUBLE) AS mn
  FROM pre i
  JOIN pre0 j ON j.d < i.d
  JOIN pre k ON k.d >= i.d
  GROUP BY 1, 2
), iso AS (SELECT i AS d, max(mn) AS iso_raw FROM lvl1 GROUP BY 1)
SELECT b.d AS score_decile, b.n, b.p AS n_pos,
       {sql_rnd('b.p::DOUBLE / b.n::DOUBLE', 6)} AS pos_rate,
       {sql_rnd('iso.iso_raw', 6)} AS iso_prob
FROM b JOIN iso ON b.d = iso.d
""")
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the decile reliability table —
    the standard step AFTER `ml_calibration_bins_scalable`: the raw per-decile
    conversion rates need not be monotone in the score, and serving a
    non-monotone calibration map lets a HIGHER score imply a LOWER
    probability. Pool-adjacent-violators fixes that; this computes the
    exact PAV fit via its minimax identity
    iso(i) = max_{j<=i} min_{k>=i} avg(y over bins j..k), which needs
    no sequential pooling loop — on B=10 bins the (i, j, k) grid is
    <=1000 integer-prefix-sum lookups, a dim-sized triple join both
    engines evaluate identically (each candidate is one BIGINT/BIGINT
    division; min/max over a set of doubles is order-free).

    Scale: the fact-side work is `ml_calibration_bins_scalable`' label join and
    decile rank; everything isotonic happens on the 10-row bin table.
    Monotonicity of iso_prob is pinned in tests/test_new_ops.py —
    that property IS the operator's contract.
    """
    # a NULL score cannot be ranked into a decile (and the engines'
    # null sort orders differ — PARITY #40); calibration is over
    # scored entities only, both engines. Decile via the distributed
    # exact-rank stage (r9: default path, _scored_lab_ranked).
    from manual_data_ingest_spark.functions.ranking import ntile_from_rank

    ranked = _scored_lab_ranked(spark, sf_dir)
    binned = ranked.select(
        "y", ntile_from_rank(F.col("global_rank"),
                             F.col("_n_tot"), 10).alias("d"))
    b = (binned.groupBy("d")
         .agg(F.count("*").alias("n"),
              F.count(F.when(F.col("y") == 1, 1)).alias("p")))
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = b.select("d", F.sum("n").over(wp).alias("cn"),
                   F.sum("p").over(wp).alias("cp"))
    pre0 = pre.unionByName(
        pre.sparkSession.createDataFrame([(0, 0, 0)], "d int, cn bigint, cp bigint"))
    i = pre.select(F.col("d").alias("i"))
    j = pre0.select(F.col("d").alias("j"), F.col("cp").alias("jcp"),
                    F.col("cn").alias("jcn"))
    k = pre.select(F.col("d").alias("k"), F.col("cp").alias("kcp"),
                   F.col("cn").alias("kcn"))
    cand = (i.join(j, F.col("j") < F.col("i"))
            .join(k, F.col("k") >= F.col("i"))
            .select("i", "j",
                    ((F.col("kcp") - F.col("jcp")).cast("double")
                     / (F.col("kcn") - F.col("jcn")).cast("double"))
                    .alias("r")))
    iso = (cand.groupBy("i", "j").agg(F.min("r").alias("mn"))
           .groupBy("i").agg(F.max("mn").alias("iso_raw")))
    return (b.join(iso, b.d == iso.i)
            .select(F.col("d").alias("score_decile"), "n",
                    F.col("p").alias("n_pos"),
                    rnd(F.col("p").cast("double") / F.col("n").cast("double"),
                        6).alias("pos_rate"),
                    rnd(F.col("iso_raw"), 6).alias("iso_prob")))


@register("ml_conformal_interval", f"""
WITH scaled AS (
  SELECT CAST(l_quantity AS BIGINT)                          AS q,
         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)     AS d,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
         l_orderkey, l_linenumber,
         (l_orderkey + l_linenumber) % 2 AS split
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_extendedprice IS NOT NULL
), m AS (
  SELECT CAST(count(*) AS DOUBLE)            AS n,
         CAST(sum(q)   AS DOUBLE)            AS s1,
         CAST(sum(d)   AS DOUBLE)            AS s2,
         CAST(sum(q*q) AS DOUBLE)            AS s11,
         CAST(sum(q*d) AS DOUBLE)            AS s12,
         CAST(sum(d*d) AS DOUBLE)            AS s22,
         CAST(sum(y)   AS DOUBLE)            AS sy,
         CAST(sum(q*y) AS DOUBLE)            AS s1y,
         CAST(sum(d*y) AS DOUBLE)            AS s2y
  FROM scaled WHERE split = 0
), beta AS (
  SELECT n AS n_train,
         ({_DET0}) / ({_DET}) AS b0p,
         ({_DET1}) / ({_DET}) AS b1p,
         ({_DET2}) / ({_DET}) AS b2p
  FROM m
), cal AS (
  SELECT abs(CAST(s.y AS DOUBLE)
             - (b.b0p + b.b1p * s.q + b.b2p * s.d)) AS r,
         s.l_orderkey, s.l_linenumber, b.n_train, b.b0p, b.b1p, b.b2p
  FROM scaled s, beta b WHERE s.split = 1
), kk AS (
  SELECT count(*)::BIGINT AS n_cal,
         least(ceil(0.9 * (count(*) + 1))::BIGINT, count(*)::BIGINT) AS k
  FROM cal
), qh AS (
  SELECT r AS q_hat FROM cal, kk
  ORDER BY r, l_orderkey, l_linenumber
  OFFSET (SELECT k - 1 FROM kk) LIMIT 1
)
SELECT beta.n_train::BIGINT AS n_train, kk.n_cal, kk.k,
       {sql_rnd('qh.q_hat / 100.0', 6)} AS q90,
       {sql_rnd('(SELECT count(*) FROM cal WHERE r <= qh.q_hat)::DOUBLE'
                ' / kk.n_cal::DOUBLE', 6)} AS coverage
FROM beta, kk, qh
WHERE beta.n_train > 0 AND kk.n_cal > 0
""")
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction interval for the OLS price model —
    the distribution-free uncertainty layer `ml_ols_normal_equations`
    lacks: fit on the hash-split train half, take the
    ⌈0.9·(n+1)⌉-th smallest absolute calibration residual as the
    half-width q90, and any future prediction ± q90 covers the truth
    with probability ≥ 0.9, no Gaussian assumption. Emits the split
    sizes, the selection rank k, q90 (dollars), and the empirical
    calibration coverage (≈ 0.9 by construction — the self-check).

    Determinism: the train moments are exact integers, so β̂ is the
    same IEEE expression on both engines; every calibration residual
    is then the identical double and the rank selection is total-
    ordered by (r, orderkey, linenumber). The coverage comparison is
    r ≤ q_hat between doubles from the same computation — exact.
    Scale: the k-th-smallest selection here rides the oracle-shaped
    global order; the two-phase binned rewrite (`agg_percentile_
    weighted`'s) drops in when n_cal stops fitting a task — the
    operator's output is selection-algorithm-invariant by
    construction, which the hash-equality gate already proves for
    the weighted-percentile twin.
    """
    # a model row needs COMPLETE (features, y) on both engines — null
    # residuals otherwise rank nulls-first in Spark and nulls-last in
    # DuckDB (PARITY #40) and skew the moment count
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_discount").isNotNull()
        & F.col("l_extendedprice").isNotNull())
    scaled = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("d"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .alias("y"),
        "l_orderkey", "l_linenumber",
        F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), F.lit(2))
        .alias("split"))
    m = scaled.filter(F.col("split") == 0).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("q").cast("double").alias("s1"),
        F.sum("d").cast("double").alias("s2"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("s11"),
        F.sum(F.col("q") * F.col("d")).cast("double").alias("s12"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("s22"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("q") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("d") * F.col("y")).cast("double").alias("s2y"))
    beta = m.select(
        F.col("n").alias("n_train"),
        F.expr(f"({_DET0}) / ({_DET})").alias("b0p"),
        F.expr(f"({_DET1}) / ({_DET})").alias("b1p"),
        F.expr(f"({_DET2}) / ({_DET})").alias("b2p"))
    cal = (scaled.filter(F.col("split") == 1)
           .crossJoin(F.broadcast(beta))
           .select(F.abs(F.col("y").cast("double")
                         - (F.col("b0p") + F.col("b1p") * F.col("q")
                            + F.col("b2p") * F.col("d"))).alias("r"),
                   "l_orderkey", "l_linenumber", "n_train"))
    kk = cal.agg(F.count("*").alias("n_cal"),
                 F.least(F.ceil(0.9 * (F.count("*") + 1)),
                         F.count("*")).alias("k"))
    # k-th-smallest WITHOUT a global sort (agg_percentile_weighted's
    # two-phase selection): residuals bin by ~$164 of error, the bin
    # table is dim-sized, and only the target bin's rows rank — seeded
    # by the cumulative offset so rk is the GLOBAL rank
    binned = cal.withColumn("bin", F.floor(F.col("r") / 16384.0)
                            .cast("long"))
    bins = binned.groupBy("bin").agg(F.count("*").alias("bn"))
    wb = (Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0))
    bins = bins.withColumn("cumb", F.sum("bn").over(wb))
    target = (bins.crossJoin(F.broadcast(kk))
              .filter(F.col("cumb") >= F.col("k"))
              .groupBy().agg(F.min("bin").alias("tbin")))
    toff = (bins.join(F.broadcast(target),
                      bins.bin == F.col("tbin"))
            .select("tbin", (F.col("cumb") - F.col("bn")).alias("off")))
    qh = (binned.join(F.broadcast(toff), binned.bin == F.col("tbin"))
          .crossJoin(F.broadcast(kk))
          .withColumn("rk", F.col("off") + F.row_number().over(
              Window.partitionBy("tbin")
              .orderBy("r", "l_orderkey", "l_linenumber")))
          .filter(F.col("rk") == F.col("k"))
          .select(F.col("r").alias("q_hat")))
    cov = (cal.crossJoin(F.broadcast(qh))
           .agg(F.count(F.when(F.col("r") <= F.col("q_hat"), 1))
                .alias("n_cov")))
    return (beta.crossJoin(F.broadcast(kk)).crossJoin(F.broadcast(qh))
            .crossJoin(F.broadcast(cov))
            .filter((F.col("n_train") > 0) & (F.col("n_cal") > 0))
            .select(F.col("n_train").cast("long").alias("n_train"),
                    F.col("n_cal").cast("long"), F.col("k").cast("long"),
                    rnd(F.col("q_hat") / 100.0, 6).alias("q90"),
                    rnd(F.col("n_cov").cast("double")
                        / F.col("n_cal").cast("double"), 6)
                    .alias("coverage")))
