"""fan_out() caller-contract enforcement (r12 verdict task 7).

The probe calls ``executedPlan().execute()``, which under AQE would
eagerly materialize query stages if the plan carries an exchange; the
contract used to be a docstring only. These tests pin the r13 guard:
scan-shaped plans pass (and under-parallel ones are repartitioned),
exchange-bearing plans raise.
"""

from __future__ import annotations

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
