"""Session configuration contract (manual_data_ingest_spark.session)."""

from __future__ import annotations

from manual_data_ingest_spark.session import ensure_engine_configs

SHJ = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


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


def test_engine_session_skips_call_site_capture(spark, monkeypatch):
    """get_spark turns off pyspark's per-Column call-site capture (a
    static config, so it must be set when the session is built): every
    F.*/Column call would otherwise pay extra py4j round trips."""
    import pyspark.errors.utils as U

    assert spark.conf.get(DEBUGGING) == "false"
    # the flag is cached process-wide on first use; re-read it from
    # the engine session
    monkeypatch.setattr(U, "_enable_debugging_cache", None)
    assert U.is_debugging_enabled() is False


def test_ensure_engine_configs_skips_static_debugging_flag(spark,
                                                          monkeypatch):
    """ensure_engine_configs never tries to set the static flag: the set
    would raise (and be swallowed) on every wrapped operator call."""
    from pyspark.sql.conf import RuntimeConfig

    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    ensure_engine_configs(spark)
    assert keys and DEBUGGING not in keys
    assert spark.conf.get(DEBUGGING) == "false"
