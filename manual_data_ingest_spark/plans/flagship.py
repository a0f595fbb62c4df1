"""Flagship query — TPC-H-Q3-shaped shipping-priority revenue report.

The minimum end-to-end slice (SURVEY.md §7 Phase 0): scan + filter +
join + aggregate + sort + limit, exercising predicate pushdown (the date
filters reach the parquet scan), broadcast of the small filtered customer
side, partial aggregation, and TakeOrderedAndProject for the top-k.

At 100 TB: customer(BUILDING) after the segment filter is ~1/5 of
customers — still too big to broadcast at full scale, so we leave join
selection to Catalyst/AQE rather than forcing a hint; the groupBy key
(l_orderkey) is high-cardinality and evenly distributed, so the shuffle
is skew-free; top-10 uses per-partition partial top-k (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manual_data_ingest_spark.io import load_table
from manual_data_ingest_spark.registry import register

_CUTOFF = "1998-06-01"

FLAGSHIP_ORACLE = f"""
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE) AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_CUTOFF}'
  AND l_shipdate  > TIMESTAMP '{_CUTOFF}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("flagship_q3", FLAGSHIP_ORACLE)
def flagship_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < _CUTOFF),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > _CUTOFF),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        # DECIMAL sum (PARITY #62): an exact half-cent total rounds the
        # same on both engines, where a double sum lands on either side
        # of the tie depending on summation order
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(15,2)")
                           * (1 - F.col("l_discount").cast("decimal(15,2)"))), 2)
             .cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register("flagship_q5_local_volume", """
SELECT n_name,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
           AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def flagship_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped local-supplier volume: revenue per nation where
    the supplier and the customer share a nation, one region, one year.

    Six-way join exercising Catalyst's join ordering with TWO join
    conditions on the supplier edge (equi on l_suppkey + the
    same-nation constraint). The dims (supplier/nation/region) are
    broadcast; the orders date filter is pushed to the scan, so the
    only large shuffle is orders⋈lineitem — at 100 TB both sides
    arrive hash-distributed on orderkey and AQE picks SMJ vs broadcast
    from runtime sizes.
    """
    from manual_data_ingest_spark.functions.rounding import rnd

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    return (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("s_nationkey") == F.col("c_nationkey")))
            .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(rnd(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")))).alias("revenue")))


@register("flagship_q10_returns", """
SELECT c_custkey, c_name, n_name,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
           AS revenue_lost
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_lost DESC, c_custkey
LIMIT 20
""")
def flagship_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: customers who returned
    the most revenue in one quarter — the curation analog is 'which
    sources produced the most rejected data last month'.

    Shape: two pushed scan filters (returnflag, date window), one big
    orders⋈lineitem shuffle, customer side broadcast after the join
    order settles, top-20 via TakeOrderedAndProject (per-partition
    heaps, never a global sort).
    """
    from manual_data_ingest_spark.functions.rounding import rnd

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01")
        & (F.col("o_orderdate") < "1997-10-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")

    return (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(rnd(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))))
                 .alias("revenue_lost"))
            .orderBy(F.col("revenue_lost").desc(), F.col("c_custkey"))
            .limit(20))


@register("flagship_q18_volume", """
WITH big AS (
    SELECT l_orderkey
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity) > 250
)
SELECT c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       floor(o_totalprice * 100.0 + 0.5) / 100.0 AS total_price,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
""")
def flagship_q18_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume-customer report: orders whose
    total quantity exceeds 250, joined back to customer detail.

    The scale shape is the HAVING-then-semi-join: the heavy aggregate
    (sum per orderkey) runs FIRST and produces a small key set; the
    detail join then touches only qualifying orders (Catalyst plans
    the IN as a left-semi). The second lineitem aggregate re-reads
    only semi-joined rows and reuses the l_orderkey shuffle layout.
    The anti-pattern — joining everything then filtering on a windowed
    sum — shuffles the full fact table twice.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    from manual_data_ingest_spark.functions.rounding import rnd

    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("q"))
           .filter(F.col("q") > 250)
           .select("l_orderkey"))
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            .join(big, "l_orderkey", "left_semi")
            .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
            .agg(rnd(F.sum("l_quantity")).alias("sum_qty"))
            .select("c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("order_date"),
                    rnd(F.col("o_totalprice")).alias("total_price"),
                    "sum_qty"))


@register("flagship_q19_brackets", """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 30)
""")
def flagship_q19_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs bracket predicate across a join.

    The optimizer stress here is disjunctive predicate handling:
    Catalyst factors the common join key, pushes the single-table
    conjuncts it can derive (p_size/p_brand ranges OR-folded into a
    part-side filter, l_quantity range into the lineitem scan) and
    evaluates the residual OR after the join. At 100 TB the part side
    after pushdown is a fraction of the dim and broadcasts; lineitem
    never shuffles. `.explain` shows PushedFilters Or(...) on BOTH
    scans — checked in tests/test_plans.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    brk = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11)) |
        ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30)
         & F.col("l_quantity").between(10, 20)) |
        ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(20, 50)
         & F.col("l_quantity").between(20, 30)))
    return j.filter(brk).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2).alias("revenue"),
        F.count("*").alias("n_lines"))


@register("flagship_q22_idle_customers", """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
""")
def flagship_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery + anti join.

    'Rich but idle' customers: balance above the positive-balance mean,
    with no orders since 2000 (the date filter pushes into the anti
    join's build-side scan). The scalar mean is a one-row broadcast
    (Catalyst plans the cross join as BroadcastNestedLoopJoin over a
    single row — free); the NOT EXISTS is a left-anti hash join on the
    customer key. At 100 TB the anti join's build side is the orders
    key set — bucketed storage on o_custkey turns it into a
    zero-exchange sort-merge anti join (`sink_bucketed_join` pattern).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("a")))
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01")
    return (c.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("a"))
            .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_cust"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_bal")))


@register("flagship_q8_market_share", f"""
WITH rev AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE 0.0 END), 2) AS nation_volume,
       round(sum(volume), 2) AS total_volume,
       floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE 0.0 END)
             / sum(volume) * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
FROM rev GROUP BY o_year
""")
def flagship_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of yearly order
    volume sold into ASIA-resident customers — a 7-relation star join
    feeding a conditional-ratio aggregate.

    Optimizer stress: join ORDER matters (region filter must reduce
    the customer side before the fact join; all five dims broadcast),
    and the share is a CASE-conditional sum over the SAME pass as the
    total — no second scan. The share divides unrounded sums and
    rounds once at 6dp (dividing rounded sums would drift)."""
    from manual_data_ingest_spark.functions.rounding import rnd

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    cn = n.alias("cn")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    rev = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
           .join(F.broadcast(r), F.col("cn.n_regionkey") == F.col("r_regionkey"))
           .filter(F.col("r_name") == "ASIA")
           .join(s, li.l_suppkey == s.s_suppkey)
           .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
           .select(F.year("o_orderdate").alias("o_year"),
                   (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .alias("volume"), "supp_nation"))
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_3",
                              F.col("volume")).otherwise(0.0))
    total_vol = F.sum("volume")
    return (rev.groupBy("o_year")
            .agg(F.round(nation_vol, 2).alias("nation_volume"),
                 F.round(total_vol, 2).alias("total_volume"),
                 rnd(nation_vol / total_vol, 6).alias("mkt_share")))


@register("flagship_q4_priority_waiting", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""")
def flagship_q4_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for one quarter, keeping
    only orders with at least one line shipped 60+ days after the
    order date (the late-shipment EXISTS).

    The EXISTS with a correlated inequality becomes a left-SEMI join on
    the order key with the date comparison as a join-side residual —
    the build side is lineitem keys only, the quarter filter pushes to
    the orders scan, and each order is counted once no matter how many
    late lines it has (the semi-join guarantee a plain join + distinct
    would pay an extra shuffle for)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01"))
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li, (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"))


@register("flagship_q16_supplier_variety", """
SELECT p_brand, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 4, 7, 10, 14, 19, 25, 28)
GROUP BY p_brand, p_size
""")
def flagship_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem standing in for partsupp): how many
    distinct suppliers serve each (brand, size) slice, excluding one
    brand and restricting to a size IN-list.

    Both single-table predicates (<> and IN) push to the part scan, the
    filtered part side broadcasts, and the count-distinct expands on
    (brand, size, suppkey) — the expansion rides the SAME shuffle as
    the final group-by, so the distinct costs one exchange, not two."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 28))
    li = load_table(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@register("flagship_q7_bilateral_volume", f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       year(o_orderdate) AS o_year,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
           AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
    OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""")
def flagship_q7_bilateral_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year, both directions reported separately.

    The optimizer stress is the symmetric OR over TWO dimension
    attributes on DIFFERENT join branches: neither nation filter can
    be pushed below its join alone (each disjunct couples both
    branches), so Catalyst keeps the residual above both nation joins
    while still broadcasting the dims — a different pushdown failure
    mode than Q19's single-table OR brackets, worth pinning beside it.
    """
    from manual_data_ingest_spark.functions.rounding import rnd

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    pair = (((F.col("cust_nation") == "NATION_1")
             & (F.col("supp_nation") == "NATION_2"))
            | ((F.col("cust_nation") == "NATION_2")
               & (F.col("supp_nation") == "NATION_1")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .filter(pair)
            .groupBy("cust_nation", "supp_nation",
                     F.year("o_orderdate").alias("o_year"))
            .agg(rnd(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")))).alias("volume")))
