"""Session configuration contract (manual_data_ingest_spark.session)."""

from __future__ import annotations

from manual_data_ingest_spark.session import ensure_engine_configs

SHJ = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"


def test_ensure_engine_configs_keeps_owner_shj_threshold(spark):
    """The SMJ→SHJ threshold is a data-regime knob the session owner
    sizes (a production deployment sets ≥ 64m); applying the engine
    configs must not reset it."""
    old = spark.conf.get(SHJ)
    spark.conf.set(SHJ, "64m")
    try:
        ensure_engine_configs(spark)
        assert spark.conf.get(SHJ) == "64m"
    finally:
        spark.conf.set(SHJ, old)
