"""Session configuration contract (manual_data_ingest_spark.session)."""

from __future__ import annotations

import os

import pytest

from manual_data_ingest_spark.session import (
    _EXTERNAL_KEEP, DAEMON_DIR, ENGINE_CONFIGS, codegen_compiles,
    ensure_engine_configs)

SHJ = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
TZ = "spark.sql.session.timeZone"


@pytest.fixture
def conf_sets(monkeypatch) -> list[str]:
    """The keys of every ``spark.conf.set`` made while the test runs."""
    from pyspark.sql.conf import RuntimeConfig

    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    return keys


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


def test_engine_session_starts_workers_from_repo_daemon(spark):
    """get_spark sets the static daemon key, and puts the daemon's
    directory first on the executors' PYTHONPATH, which pyspark passes
    to every Python worker it starts."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "mdis_daemon"
    path = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert path[0] == DAEMON_DIR
    assert os.path.isfile(os.path.join(DAEMON_DIR, "mdis_daemon.py"))
    assert spark.sparkContext.environment["PYTHONPATH"] == os.pathsep.join(
        path)


@pytest.mark.parametrize("key", sorted(ENGINE_CONFIGS))
def test_ensure_engine_configs_sets_only_modifiable_keys(spark, conf_sets,
                                                         key):
    """A full apply never tries to set a static config (the set would
    raise and be swallowed, ~20 ms on every wrapped operator call): each
    static key is kept out via _EXTERNAL_KEEP. Every other key is set
    unless it is an owner's sizing knob."""
    static = not spark.conf.isModifiable(key)
    if static:
        assert key in _EXTERNAL_KEEP
    spark.conf.set(TZ, "America/New_York")  # forces a full apply
    conf_sets.clear()
    ensure_engine_configs(spark)
    assert spark.conf.get(TZ) == "UTC"
    assert (key in conf_sets) == (not static and key not in _EXTERNAL_KEEP)


def test_ensure_engine_configs_repeat_call_sets_nothing(spark, conf_sets):
    """Once a session carries the engine configs, a repeat call (the
    driver contract makes one per operator call) makes no set at all."""
    ensure_engine_configs(spark)
    conf_sets.clear()
    ensure_engine_configs(spark)
    assert conf_sets == []


def test_ensure_engine_configs_restores_changed_correctness_key(spark):
    """A correctness config changed after the first apply is put back by
    the next call."""
    ensure_engine_configs(spark)
    spark.conf.set(TZ, "America/New_York")
    try:
        ensure_engine_configs(spark)
        assert spark.conf.get(TZ) == "UTC"
    finally:
        spark.conf.set(TZ, "UTC")


def test_codegen_cache_holds_150_plans(spark):
    """The engine session's codegen cache outlives one pass of 150
    distinct classes (more than a perfbench mix needs): compiling the
    same plans again is all cache hits. Spark's default cache of 100
    entries evicts each class before its reuse and recompiles all 150.
    ``executedPlan().execute()`` generates and compiles the whole-stage
    class on the driver without running a job; the literal is inlined,
    so every plan's source differs. Each round builds new plans, as each
    pass of a workload does."""
    from pyspark.sql import functions as F

    def compile_all():
        for i in range(150):
            df = spark.range(10).select((F.col("id") + i).alias("x"))
            df._jdf.queryExecution().executedPlan().execute()

    compile_all()
    before = codegen_compiles(spark)
    compile_all()
    assert codegen_compiles(spark) - before == 0
