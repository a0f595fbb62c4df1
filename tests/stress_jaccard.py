"""Power-law stress harness for the Jaccard dedup family (r1 VERDICT
item 6) — NOT a pytest test (runtime is minutes); run directly:

    python tests/stress_jaccard.py [N_BASE]

Generates a synthetic corpus whose shingle document-frequency follows a
Zipf law — hot phrase k (k = 4..63) appears in every k-th document, so
df(k) ≈ N/k — plus per-document unique filler. That is the shape of a
real web corpus (boilerplate, licenses, navigation chrome), and exactly
the regime the r1 scaling run could NOT exhibit with its near-uniform
replica corpus: there the stop-shingle cutoff's bookkeeping cost more
than it saved (BASELINE.md r1 follow-up).

Measures `dedup_near_jaccard` (uncapped posting-list expansion) vs
`dedup_near_jaccard_capped` (df ≤ 20 cutoff) at 1× and 4× documents and
prints the crossover table for BASELINE.md. Expected shape: uncapped
pair expansion is Σ_k (N/k)²/2 ≈ 0.3 N² → 16× work for 4× docs
(superlinear), while the capped variant only expands posting lists with
df ≤ 20 → ~linear in N.

Output-semantics note (by design): on a power-law corpus the two
variants return DIFFERENT pair sets — the cutoff removes shingles
shared by > 20 documents from the Jaccard space, which is the point
(df≫cap shingles are corpus cliches, not near-dup evidence). On the
oracle fixtures both variants are hash-exact against their own oracles,
which encode the same kept-shingle semantics.
"""

from __future__ import annotations

import statistics
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_K_PHRASES = range(4, 64)  # phrase k → df ≈ N/k (Zipf, capped at N/4)


def build_power_law_corpus(spark, n_docs: int, out_dir: str) -> None:
    """documents.parquet with Zipfian shingle document frequency.

    Built distributed (spark.range → expression-only text assembly):
    no driver-side loops, so corpus generation itself scales.
    """
    from pyspark.sql import functions as F

    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    hot = [
        F.when(F.col("doc_id") % k == 0,
               F.lit(" ".join(f"hot{k}t{j}" for j in range(8))))
        for k in _K_PHRASES
    ]
    filler = F.concat_ws(" ", *[
        F.concat_ws("", F.lit("u"), F.col("doc_id").cast("string"),
                    F.lit(f"x{j}"))
        for j in range(12)
    ])
    text = F.concat_ws(" ", *(hot + [filler]))
    (docs.select("doc_id", text.alias("text"))
     .repartition(8)
     .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))


def _timed(fn, runs: int = 2) -> float:
    fn()  # warm
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def main() -> None:
    from manual_data_ingest_spark.session import get_spark
    import __spark_entry__ as E

    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    spark = get_spark("jaccard-stress")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    qs = E.queries()
    print(f"scale  docs   uncapped_s  capped_s  uncapped_pairs  capped_pairs")
    for scale in (1, 4):
        n = n_base * scale
        d = tempfile.mkdtemp(prefix=f"mdis_stress_{scale}x_")
        build_power_law_corpus(spark, n, d)
        res = {}
        for name in ("dedup_near_jaccard", "dedup_near_jaccard_capped"):
            df = qs[name](spark, d)
            res[name] = (_timed(lambda: df.count()), df.count())
        u, c = res["dedup_near_jaccard"], res["dedup_near_jaccard_capped"]
        print(f"{scale}x     {n:<6d} {u[0]:>9.2f} {c[0]:>9.2f}"
              f" {u[1]:>14d} {c[1]:>13d}")


if __name__ == "__main__":
    main()
