"""fan_out() caller-contract enforcement (r12 verdict task 7).

The probe calls ``executedPlan().execute()``, which under AQE would
eagerly materialize query stages if the plan carries an exchange; the
contract used to be a docstring only. These tests pin the guard:
scan-shaped plans pass (and under-parallel ones are repartitioned),
exchange-bearing plans raise. The guard reads node classes, not plan
text, so a path or column named ``Exchange...`` is not a hit.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from manual_data_ingest_spark.io import fan_out, load_table
from tests.conftest import SF_SMALL as SF


def test_fan_out_accepts_scan_shaped_plan(spark):
    df = load_table(spark, SF, "documents").filter("doc_id > 0")
    slots = spark.sparkContext.defaultParallelism
    partitions = df.rdd.getNumPartitions()
    out = fan_out(df)
    if partitions * 2 < slots:  # under-parallel: round-robin to the slots
        assert out.rdd.getNumPartitions() == slots
    else:
        assert out is df


def test_fan_out_rejects_exchange_bearing_plan(spark):
    df = load_table(spark, SF, "documents").repartition(4)
    with pytest.raises(ValueError, match="caller contract"):
        fan_out(df)


def test_fan_out_rejects_aggregate_plan(spark):
    df = load_table(spark, SF, "orders").groupBy("o_custkey").count()
    with pytest.raises(ValueError, match="caller contract"):
        fan_out(df)


def test_fan_out_accepts_scan_path_named_exchange(spark):
    # a short path: the plan text truncates long locations
    path = tempfile.mkdtemp(prefix="Exchange_")
    try:
        (load_table(spark, SF, "documents")
         .write.mode("overwrite").parquet(path))
        df = spark.read.parquet(path).filter("doc_id > 0")
        assert fan_out(df).count() == df.count()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_fan_out_accepts_column_named_exchange(spark):
    df = spark.range(100).withColumnRenamed("id", "ExchangeRate")
    assert fan_out(df).count() == 100


def test_fan_out_accepts_scan_of_cached_aggregate(spark):
    # without AQE the scan of a cached aggregate is a plain leaf: the
    # cached relation's plan holds an Exchange, but reading the cache
    # does not re-run it (under AQE the root is an AdaptiveSparkPlanExec,
    # which is rejected)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    agg = load_table(spark, SF, "orders").groupBy("o_custkey").count()
    try:
        agg.cache().count()
        df = agg.filter("count > 1")
        assert fan_out(df).count() == df.count()
    finally:
        agg.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_fan_out_rejects_round_robin_repartition(spark):
    with pytest.raises(ValueError, match="caller contract"):
        fan_out(spark.range(100).repartition(3))
