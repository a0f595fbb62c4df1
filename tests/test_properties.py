"""Property-based invariants (SURVEY.md §5.4) via hypothesis.

Each property drives the engine's real transforms on generated inline
DataFrames. Example counts are kept small — every example is a Spark
job; the value is in the invariant, not the volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import Window

SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=list(HealthCheck))

texts = st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=20), min_size=0, max_size=12)


def _dedup(df):
    """The dedup_exact core: keep min id per normalized-text digest."""
    w = Window.partitionBy("d").orderBy("id")
    return (df.withColumn("d", F.md5(F.lower(F.trim("t"))))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("id", "t", "d"))


@settings(**SETTINGS)
@given(ts=texts)
def test_dedup_idempotent_and_minimal(spark, ts):
    df = spark.createDataFrame(list(enumerate(ts)), "id long, t string") \
        if ts else spark.createDataFrame([], "id long, t string")
    once = _dedup(df)
    twice = _dedup(once.select("id", "t"))
    a = sorted((r.id, r.t) for r in once.collect())
    b = sorted((r.id, r.t) for r in twice.collect())
    assert a == b  # idempotent
    # exactly one survivor per normalized text, and it's the min id
    norm = {}
    for i, t in enumerate(ts):
        norm.setdefault(t.lower().strip(), i)
    assert sorted(i for i, _ in a) == sorted(norm.values())


@settings(**SETTINGS)
@given(xs=st.lists(st.integers(0, 5), min_size=0, max_size=20),
       ys=st.lists(st.integers(0, 5), min_size=0, max_size=20))
def test_union_all_count_additive_and_join_bounds(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs] or [], "k int")
    b = spark.createDataFrame([(y,) for y in ys] or [], "k int")
    assert a.unionByName(b).count() == len(xs) + len(ys)
    semi = a.join(b, "k", "left_semi").count()
    inner = a.join(b, "k").count()
    assert semi <= inner <= len(xs) * len(ys) or (inner == 0)
    # anti + semi partition the left side's distinct reach over rows
    anti = a.join(b, "k", "left_anti").count()
    assert semi + anti == len(xs)


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)),
                     min_size=1, max_size=25))
def test_window_rank_properties(spark, rows):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k int, v int, id int")
    w = Window.partitionBy("k").orderBy("v", "id")
    out = df.select("k", F.row_number().over(w).alias("rn"),
                    F.rank().over(w).alias("rk"),
                    F.dense_rank().over(w).alias("dr")).collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r.k, []).append(r)
    for rs in by_k.values():
        rns = sorted(x.rn for x in rs)
        assert rns == list(range(1, len(rs) + 1))  # row_number is a permutation
        for x in rs:
            assert x.dr <= x.rk <= x.rn


@settings(**SETTINGS)
@given(ts_offsets=st.lists(st.integers(0, 7200), min_size=1, max_size=30))
def test_session_window_equals_gaps_and_islands(spark, ts_offsets):
    """Spark's session_window (30-min gap) must equal the classic
    gaps-and-islands computation on any event set (SURVEY §5.4)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(seconds=s)) for s in sorted(set(ts_offsets))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r.start, r.end, r.n) for r in
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
          .agg(F.count("*").alias("n"))
          .select(F.col("session_window.start").alias("start"),
                  F.col("session_window.end").alias("end"), "n").collect())
    # python reference (r9 fix): split only when gap > 30 min — Spark's
    # session_window MERGES events exactly gap-distance apart (each
    # event's mergeable extent is [ts, ts+gap] inclusive), found by
    # hypothesis on ts_offsets=[0, 1800].
    expect = []
    cur = []
    for _, t in rows:
        if cur and (t - cur[-1]).total_seconds() > 1800:
            expect.append(cur)
            cur = []
        cur.append(t)
    if cur:
        expect.append(cur)
    ref = sorted((c[0], c[-1] + dt.timedelta(minutes=30), len(c)) for c in expect)
    assert got == ref


@settings(**SETTINGS)
@given(clicks=st.lists(st.integers(0, 1000), min_size=0, max_size=15),
       purchases=st.lists(st.integers(0, 1000), min_size=1, max_size=10))
def test_asof_semantics_match_reference(spark, clicks, purchases):
    """As-of join (latest prior click per purchase) vs a python reference
    on arbitrary event times — same-timestamp clicks count as prior
    (<=), ties broken toward the larger click id."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    cl = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(sorted(clicks))]
    pu = [(1000 + i, base + dt.timedelta(seconds=s))
          for i, s in enumerate(sorted(purchases))]
    cdf = spark.createDataFrame(cl or [], "click_id long, c_ts timestamp")
    pdf = spark.createDataFrame(pu, "purchase_id long, p_ts timestamp")
    from pyspark.sql import Window

    j = (pdf.join(cdf, F.col("c_ts") <= F.col("p_ts"), "left")
         .withColumn("rn", F.row_number().over(
             Window.partitionBy("purchase_id")
             .orderBy(F.col("c_ts").desc(), F.col("click_id").desc())))
         .filter(F.col("rn") == 1)
         .select("purchase_id", "click_id"))
    got = {r.purchase_id: r.click_id for r in j.collect()}
    for pid, pts in pu:
        prior = [(ts, cid) for cid, ts in cl if ts <= pts]
        want = max(prior)[1] if prior else None
        assert got[pid] == want, (pid, got[pid], want)


def test_id_mint_deterministic_across_runs(spark):
    """Minted IDs must be identical on re-execution — the property that
    makes re-registration idempotent (never monotonically_increasing_id)."""
    import __spark_entry__ as E

    q = E.queries()["ingest_id_mint_scalable"]
    a = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


@settings(**SETTINGS)
@given(vals=st.lists(st.floats(min_value=-100, max_value=100,
                               allow_nan=False, allow_infinity=False),
                     min_size=1, max_size=30))
def test_ewma_fold_bounds_and_reference(spark, vals):
    """The codegen EWMA fold must equal the Python recurrence exactly
    and stay within [min, max] of its inputs (convexity)."""
    # explicit insertion ids pin the fold order to the Python reference
    d2 = spark.createDataFrame(list(enumerate(vals)), "i long, v double")
    a = F.transform(F.array_sort(F.collect_list(F.struct("i", "v"))),
                    lambda s: s["v"])
    fold = F.aggregate(
        F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
        F.element_at(a, 1),
        lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25))
    got = d2.agg(fold.alias("e")).collect()[0].e
    ref = vals[0]
    for x in vals[1:]:
        ref = 0.75 * ref + 0.25 * x
    assert got == ref  # identical IEEE sequence, bit-exact
    assert min(vals) - 1e-12 <= got <= max(vals) + 1e-12


@settings(**SETTINGS)
@given(n=st.integers(1, 200))
def test_chunk_overlap_tiling_law(spark, n):
    """For any token count n, stride-40/size-50 chunking yields
    ceil(n/40) windows capped so the last window is non-empty, covers
    every token, and double-covers exactly the 10-token overlaps."""
    words = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    base = df.select("doc_id", F.split("text", " ").alias("l"))
    starts = F.expr("sequence(0, greatest(size(l) - 1, 0), 40)")
    c = base.select(F.explode(starts).alias("s"),
                    F.expr("slice(l, s + 1, 50)").alias("chunk"))
    rows = c.select("s", F.size("chunk").alias("k")).collect()
    n_chunks = len(rows)
    import math
    assert n_chunks == max(1, math.ceil(n / 40))
    total = sum(r.k for r in rows)
    overlap = sum(max(0, min(r.s + 50, n) - (r.s + 40))
                  for r in rows if r.s + 40 < n)
    assert total == n + overlap  # covers everything, double-counts overlaps


@settings(**SETTINGS)
@given(vals=st.lists(st.floats(min_value=0, max_value=1000,
                               allow_nan=False, allow_infinity=False),
                     min_size=32, max_size=200))
def test_quantile_sketch_rank_error_property(spark, vals):
    """Uniform-rank compaction (K=16 per bucket) keeps the merged p50
    within 2/K rank error of the exact median for ANY input."""
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    K = 16
    b = (df.groupBy((F.col("id") % 4).alias("bucket"))
         .agg(F.sort_array(F.collect_list("v")).alias("arr"),
              F.count("*").alias("n")))
    pts = b.select(
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(K - 1)),
            lambda i: F.element_at(
                F.col("arr"),
                F.floor((i + F.lit(0.5)) * F.col("n") / K).cast("int") + 1)))
        .alias("v"), (F.col("n") / F.lit(float(K))).alias("w"))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = pts.select("v", F.sum("w").over(cum).alias("cumw"),
                   F.sum("w").over(Window.partitionBy()).alias("t"))
    p50 = c.filter(F.col("cumw") >= 0.5 * F.col("t")) \
           .agg(F.min("v")).collect()[0][0]
    s = sorted(vals)
    n = len(s)
    # true rank of the estimate must sit within 2/K of the median rank
    import bisect
    lo = bisect.bisect_left(s, p50) / n
    hi = bisect.bisect_right(s, p50) / n
    assert lo - 2.0 / K <= 0.5 <= hi + 2.0 / K, (lo, hi, p50)


@settings(**SETTINGS)
@given(keys=st.lists(st.integers(min_value=0, max_value=2**40),
                     min_size=1, max_size=40, unique=True),
       probes=st.lists(st.integers(min_value=0, max_value=2**40),
                       min_size=1, max_size=40, unique=True))
def test_bloom_prefilter_no_false_negatives_property(spark, keys, probes):
    """The bloom membership law on ARBITRARY key sets (not just the
    fixture): every true member must pass the bit test. Runs against
    the operator's PRODUCTION expressions — `bloom_build` /
    `bloom_positions` / `bloom_bit_set` are the exact helpers
    `join_bloom_prefilter` composes (the r5 advisor caught the old
    test proving the law for a parallel map-based rebuild instead)."""
    from functools import reduce
    from manual_data_ingest_spark.operators.joins import (
        _BLOOM_K, bloom_bit_set, bloom_build, bloom_positions)
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    bloom = bloom_build(spark, kdf, "k")
    pdf = (spark.createDataFrame([(p,) for p in probes], "k long")
           .crossJoin(F.broadcast(bloom)))
    for i, p in enumerate(bloom_positions("k")):
        pdf = pdf.withColumn(f"p{i}", p)
    passed = {r.k for r in pdf.filter(
        reduce(lambda a, b: a & b,
               [bloom_bit_set(i) for i in range(_BLOOM_K)]))
        .select("k").collect()}
    assert set(keys) & set(probes) <= passed  # no false negatives, ever


@settings(**SETTINGS)
@given(vals=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                               allow_nan=False, allow_infinity=False),
                     min_size=1, max_size=30),
       digits=st.integers(min_value=0, max_value=6))
def test_rnd_matches_duckdb_bit_exactly(spark, vals, digits):
    """The cross-engine rounder law on arbitrary doubles: Spark rnd()
    and the DuckDB sql_rnd() twin produce BIT-identical results for
    any input and any supported digit count."""
    import duckdb
    from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd

    got = [r.v for r in
           spark.createDataFrame([(v,) for v in vals], "x double")
           .select(rnd(F.col("x"), digits).alias("v"))
           .collect()]
    con = duckdb.connect()
    want = [con.execute(
        f"SELECT {sql_rnd('?::DOUBLE', digits)}", [v]).fetchone()[0]
        for v in vals]
    assert all(
        (a is None and b is None) or a == b or (a != a and b != b)
        for a, b in zip(got, want)), (vals, digits, got, want)


@settings(**SETTINGS)
@given(vals=st.lists(st.floats(min_value=-1e290, max_value=1e290,
                               allow_nan=False, allow_infinity=False),
                     min_size=1, max_size=30),
       digits=st.integers(min_value=0, max_value=6))
def test_rnd_no_saturation_full_double_range(spark, vals, digits):
    """The rounder law over the FULL double range — the numeric-edge
    sweep's regression pin: Spark's old long-based floor silently
    SATURATED money to ±2^63/10^d above |x| ≈ 9.2e18/10^d, while
    DuckDB floors in doubles. The hybrid rnd() must stay BIT-identical
    to the DuckDB twin at any magnitude (beyond 2^53 both reduce to
    the identity, which is what a double 'floor' means there)."""
    import duckdb
    from manual_data_ingest_spark.functions.rounding import rnd, sql_rnd

    got = [r.v for r in
           spark.createDataFrame([(v,) for v in vals], "x double")
           .select(rnd(F.col("x"), digits).alias("v"))
           .collect()]
    con = duckdb.connect()
    want = [con.execute(
        f"SELECT {sql_rnd('?::DOUBLE', digits)}", [v]).fetchone()[0]
        for v in vals]
    assert all(
        (a is None and b is None) or a == b or (a != a and b != b)
        for a, b in zip(got, want)), (vals, digits, got, want)


@settings(**SETTINGS)
@given(keys=st.lists(st.text(min_size=1, max_size=30), min_size=1,
                     max_size=25, unique=True))
def test_md5_base_hash_contract_property(spark, keys):
    """The §2.14 portable-hash contract under EVERY md5-based operator
    (minhash band-tune/estimate, audience overlap, simhash): Spark's
    `conv(substring(md5(x),1,15),16,10) % P` must equal DuckDB's
    `('0x'||substr(md5(x),1,15))::BIGINT % P` for ARBITRARY unicode
    strings — a drift here silently rots every CW signature at once."""
    import duckdb

    P = 2_147_483_647
    df = spark.createDataFrame([(k,) for k in keys], "x string")
    got = {r.x: r.h for r in df.select(
        "x",
        (F.expr("cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)")
         % F.lit(P)).alias("h")).collect()}
    con = duckdb.connect()
    for k in keys:
        want = con.execute(
            f"SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT % {P}",
            [k]).fetchone()[0]
        assert got[k] == want, (k, got[k], want)


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_subnormal=False)),
    st.integers(0, 10**6)), min_size=1, max_size=40),
    desc=st.booleans(), buckets=st.sampled_from([2, 3, 10]))
def test_distributed_rank_equals_serial_window(spark, rows, desc, buckets):
    """functions/ranking.py's bucket+offset rank must equal the serial
    row_number window (and its tile rule must equal ntile) on ANY
    score multiset — duplicates, negatives, NULLs — in both sort
    directions. This is the identity the whole r9 global-rank rewrite
    rests on (SURVEY §5.4)."""
    from manual_data_ingest_spark.functions.ranking import (
        ntile_from_rank, with_exact_global_rank)

    uniq = {}
    for s, i in rows:
        uniq.setdefault(i, s)
    df = spark.createDataFrame(
        [(s, i) for i, s in uniq.items()], "score double, id long")
    got = {r.id: (r.global_rank, r.tile) for r in
           with_exact_global_rank(df, "score", ["id"], descending=desc,
                                  n_buckets=4, total_col="_n")
           .withColumn("tile", ntile_from_rank(
               F.col("global_rank"), F.col("_n"), buckets))
           .collect()}
    lead = (F.desc_nulls_last("score") if desc
            else F.asc_nulls_last("score"))
    w = Window.orderBy(lead, F.asc("id"))
    want = {r.id: (r.rn, r.nt) for r in
            df.select("id", F.row_number().over(w).alias("rn"),
                      F.ntile(buckets).over(w).alias("nt")).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_subnormal=False)),
    st.integers(0, 10**6)), min_size=1, max_size=40),
    desc=st.booleans(), buckets=st.sampled_from([2, 3, 10]))
def test_partitioned_rank_equals_native_window(spark, rows, desc, buckets):
    """with_exact_partitioned_rank must equal the NATIVE partitioned
    row_number window (and its tile rule per-partition ntile) on ANY
    (partition, score) multiset — NULL partition keys, NULL scores,
    duplicates, both directions (r9 verdict task 2; mirrors the global
    rank primitive's pin)."""
    from manual_data_ingest_spark.functions.ranking import (
        ntile_from_rank, with_exact_partitioned_rank)

    uniq = {}
    for p, s, i in rows:
        uniq.setdefault(i, (p, s))
    df = spark.createDataFrame(
        [(p, s, i) for i, (p, s) in uniq.items()],
        "pkey int, score double, id long")
    got = {r.id: (r.rank, r.tile) for r in
           with_exact_partitioned_rank(df, ["pkey"], "score", ["id"],
                                       descending=desc, n_buckets=4,
                                       total_col="_n")
           .withColumn("tile", ntile_from_rank(
               F.col("rank"), F.col("_n"), buckets))
           .collect()}
    lead = (F.desc_nulls_last("score") if desc
            else F.asc_nulls_last("score"))
    w = Window.partitionBy("pkey").orderBy(lead, F.asc("id"))
    want = {r.id: (r.rn, r.nt) for r in
            df.select("id", F.row_number().over(w).alias("rn"),
                      F.ntile(buckets).over(w).alias("nt")).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(-1000, 1000)),
    st.one_of(st.none(),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_subnormal=False)),
    st.integers(0, 10**6)), min_size=1, max_size=40))
def test_distributed_running_sum_equals_serial_window(spark, rows):
    """with_exact_running_sum must equal the serial inclusive
    running-sum window on ANY (value, score) multiset — NULL scores,
    NULL VALUES (r10 advice: an all-NULL within-bucket prefix must
    still carry earlier buckets' offset forward, and an all-NULL
    global prefix must stay NULL), duplicate scores, negative values
    (r9 verdict task 6; integer values keep the reassociation exact,
    per the primitive's contract)."""
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_running_sum)

    uniq = {}
    for v, s, i in rows:
        uniq.setdefault(i, (v, s))
    df = spark.createDataFrame(
        [(v, s, i) for i, (v, s) in uniq.items()],
        "val long, score double, id long")
    got = {r.id: r.rs for r in
           with_exact_running_sum(df, "val", "score", ["id"],
                                  n_buckets=4, out_col="rs").collect()}
    w = (Window.orderBy(F.asc_nulls_last("score"), F.asc("id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r.id: r.rs for r in
            df.select("id", F.sum("val").over(w).alias("rs")).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.sampled_from([0.0, 1.0, 2.0])),
    st.integers(0, 10**6)), min_size=1, max_size=60),
    desc=st.booleans())
def test_rank_tie_subdivision_equals_serial_window(spark, rows, desc):
    """tie_proxy subdivision (r10): with a 3-value score domain every
    value is dominant, so the subdivision path is exercised on every
    draw — the rank must STILL equal the serial row_number window
    exactly, in both directions, with NULL scores mixed in."""
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_global_rank)

    uniq = {}
    for s, i in rows:
        uniq.setdefault(i, s)
    df = spark.createDataFrame(
        [(s, i) for i, s in uniq.items()], "score double, id long")
    got = {r.id: r.global_rank for r in
           with_exact_global_rank(df, "score", ["id"], descending=desc,
                                  n_buckets=4,
                                  tie_proxy=F.col("id")).collect()}
    lead = (F.desc_nulls_last("score") if desc
            else F.asc_nulls_last("score"))
    w = Window.orderBy(lead, F.asc("id"))
    want = {r.id: r.rn for r in
            df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.sampled_from([0.0, 1.0, 2.0])),
    st.integers(0, 10**6)), min_size=1, max_size=50),
    desc=st.booleans())
def test_partitioned_rank_tie_subdivision_equals_native_window(
        spark, rows, desc):
    """tie_proxy through the PARTITIONED rank (r10 advice: production
    callers agg_gini / pipeline_token_shard use exactly this combo —
    sub-cut quantiles are computed GLOBALLY while rank offsets are
    per-partition, previously untested): a 3-value score domain makes
    every value dominant, so the subdivision path runs on every draw
    and the rank must still equal the native per-partition row_number
    window, NULL keys and NULL scores included."""
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_partitioned_rank)

    uniq = {}
    for p, s, i in rows:
        uniq.setdefault(i, (p, s))
    df = spark.createDataFrame(
        [(p, s, i) for i, (p, s) in uniq.items()],
        "pkey int, score double, id long")
    got = {r.id: r.rank for r in
           with_exact_partitioned_rank(df, ["pkey"], "score", ["id"],
                                       descending=desc, n_buckets=4,
                                       tie_proxy=F.col("id")).collect()}
    lead = (F.desc_nulls_last("score") if desc
            else F.asc_nulls_last("score"))
    w = Window.partitionBy("pkey").orderBy(lead, F.asc("id"))
    want = {r.id: r.rn for r in
            df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert got == want


def test_rank_tie_subdivision_spreads_buckets(spark):
    """The subdivision must actually BALANCE: one dominant tied score
    over the whole frame spreads across multiple sub-buckets (i.e.
    multiple window tasks) instead of one mega-bucket."""
    from manual_data_ingest_spark.functions.ranking import _bucketize

    work = spark.range(2000).select(
        F.lit(1.0).alias("_rk_score"),
        F.col("id").cast("double").alias("_rk_tie"))
    b, _ = _bucketize(work, 8, tie="_rk_tie")
    counts = [r.n for r in
              b.groupBy("_bkt").agg(F.count("*").alias("n")).collect()]
    assert len(counts) >= 4, counts
    assert max(counts) < 2000 * 0.5, counts


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 2)),
    st.one_of(st.none(),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_subnormal=False)),
    st.integers(-100, 100),
    st.integers(0, 10**6)), min_size=1, max_size=50),
    kb=st.sampled_from([0, 1, 3, 14]), kf=st.sampled_from([0, 1, 2]))
def test_bounded_frame_buckets_equal_serial_window(spark, rows, kb, kf):
    """with_bounded_frame_buckets (r10): a rowsBetween(-k_back, k_fwd)
    window over the halo-augmented blocks must equal the serial
    per-partition window for every non-halo row — any partition/score
    multiset (NULL keys, NULL scores, duplicate scores), any frame
    combo, blocks forced small (n_buckets=4) so frames cross block
    edges on nearly every draw."""
    from manual_data_ingest_spark.functions.ranking import (
        with_bounded_frame_buckets)

    if kb == 0 and kf == 0:
        kb = 1
    uniq = {}
    for p, s, v, i in rows:
        uniq.setdefault(i, (p, s, v))
    df = spark.createDataFrame(
        [(p, s, v, i) for i, (p, s, v) in uniq.items()],
        "pkey int, score double, val int, id long")
    order = [F.asc_nulls_last("score"), F.asc("id")]
    aug = with_bounded_frame_buckets(df, ["pkey"], "score", ["id"],
                                     k_back=kb, k_fwd=kf, n_buckets=4)
    wb = (Window.partitionBy("pkey", "_fbkt").orderBy(*order)
          .rowsBetween(-kb, kf))
    got = {r.id: (r.s, r.n) for r in
           aug.withColumn("s", F.sum("val").over(wb))
           .withColumn("n", F.count("*").over(wb))
           .filter(~F.col("_fhalo")).collect()}
    ws = Window.partitionBy("pkey").orderBy(*order).rowsBetween(-kb, kf)
    want = {r.id: (r.s, r.n) for r in
            df.withColumn("s", F.sum("val").over(ws))
            .withColumn("n", F.count("*").over(ws)).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 2)),
    st.one_of(st.none(), st.integers(-40, 40)),
    st.one_of(st.none(), st.integers(-100, 100)),
    st.integers(0, 10**6)), min_size=1, max_size=50),
    db=st.sampled_from([0, 1, 3, 10]), df_=st.sampled_from([0, 2, 7]))
def test_bounded_range_frame_equals_serial_window(spark, rows, db, df_):
    """with_bounded_range_frame (r11): a rangeBetween(-δb, δf) window
    over the halo-augmented value blocks must equal the serial
    per-partition RANGE window for every non-halo row — any multiset
    (NULL keys, NULL order values → the null peer group, heavy
    duplicate order values), any δ combo, a dense integer order
    domain (-40..40) with n_buckets=4 so frames cross block edges on
    nearly every draw."""
    from manual_data_ingest_spark.functions.ranking import (
        with_bounded_range_frame)

    uniq = {}
    for p, s, v, i in rows:
        uniq.setdefault(i, (p, s, v))
    df = spark.createDataFrame(
        [(p, s, v, i) for i, (p, s, v) in uniq.items()],
        "pkey int, ordv long, val int, id long")
    aug = with_bounded_range_frame(df, ["pkey"], "ordv",
                                   delta_back=db, delta_fwd=df_,
                                   n_buckets=4)
    wb = (Window.partitionBy("pkey", "_rbkt").orderBy("ordv")
          .rangeBetween(-db, df_))
    got = {r.id: (r.s, r.n) for r in
           aug.withColumn("s", F.sum("val").over(wb))
           .withColumn("n", F.count("*").over(wb))
           .filter(~F.col("_rhalo")).collect()}
    ws = Window.partitionBy("pkey").orderBy("ordv").rangeBetween(-db, df_)
    want = {r.id: (r.s, r.n) for r in
            df.withColumn("s", F.sum("val").over(ws))
            .withColumn("n", F.count("*").over(ws)).collect()}
    assert got == want


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 2)),
    st.one_of(st.none(),
              st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_subnormal=False)),
    st.one_of(st.none(), st.integers(-100, 100)),
    st.integers(0, 10**6)), min_size=1, max_size=40),
    inclusive=st.booleans())
def test_distributed_running_max_equals_serial_window(spark, rows,
                                                      inclusive):
    """with_exact_running_max must equal the serial prefix-max window
    (inclusive and strict-prefix / high-watermark frames) on any
    (partition, value, score) multiset — NULL keys, NULL scores, NULL
    values, duplicates."""
    from manual_data_ingest_spark.functions.ranking import (
        with_exact_running_max)

    uniq = {}
    for p, s, v, i in rows:
        uniq.setdefault(i, (p, s, v))
    df = spark.createDataFrame(
        [(p, s, v, i) for i, (p, s, v) in uniq.items()],
        "pkey int, score double, val int, id long")
    got = {r.id: r.rm for r in
           with_exact_running_max(df, "val", "score", ["id"],
                                  n_buckets=4, out_col="rm",
                                  partition_by=["pkey"],
                                  inclusive=inclusive).collect()}
    end = Window.currentRow if inclusive else -1
    w = (Window.partitionBy("pkey")
         .orderBy(F.asc_nulls_last("score"), F.asc("id"))
         .rowsBetween(Window.unboundedPreceding, end))
    want = {r.id: r.rm for r in
            df.select("id", F.max("val").over(w).alias("rm")).collect()}
    assert got == want
