"""The shared bench protocol in bench.py: the timing record every
measurement tool uses, an environment-neutral import, and replica dirs
that are never reused across sources."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import _REPO, SF_ORACLE, SF_SMALL

KNOB_ENV = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MAX_PARTITION_BYTES",
            "SPARK_GRAFT_AUTO_BROADCAST")


def test_import_bench_leaves_environ_unchanged():
    """The bench knobs are session confs, not process env: importing
    bench (as test_registry does) must not leak them into the caller."""
    env = {k: v for k, v in os.environ.items() if k not in KNOB_ENV}
    code = ("import json, os; before = dict(os.environ); import bench; "
            "print(json.dumps(sorted(set(os.environ.items()) "
            "^ set(before.items()))))")
    out = subprocess.run([sys.executable, "-c", code], cwd=_REPO, env=env,
                         capture_output=True, text=True, check=True)
    assert json.loads(out.stdout) == []


def test_time_op_record(spark):
    """One timed run of flagship_q3 at sf0.001 returns the shared record
    (median, per-run times, jobs/stages of that run) and leaves every
    session conf as it found it. The warm timed run compiles nothing:
    the warmup's classes are still in the codegen cache."""
    import bench
    from manual_data_ingest_spark.registry import all_queries

    before = spark.conf.getAll
    rec = bench.time_op(spark, all_queries()["flagship_q3"], SF_SMALL, runs=1)
    assert len(rec["runs"]) == 1 and rec["median"] == rec["runs"][0] > 0
    assert rec["jobs"] >= 1 and rec["stages"] >= 1
    assert rec["compiles"] == 0
    assert spark.conf.getAll == before


def test_bench_session_records_cold_setup(spark, tmp_path, monkeypatch):
    """``bench_session`` records the session build and the resolution of
    every SF_DIR table under the keys of the JSON's ``setup`` record;
    resolving a fresh dir's tables launches no Spark job. The session
    and its confs are the test session's, as found."""
    import shutil

    import bench
    from manual_data_ingest_spark import io, session

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf_dir)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(session, "get_spark", lambda app: spark)
    setup: dict = {}
    before = spark.conf.getAll
    try:
        assert bench.bench_session("mdis-tests", setup=setup) == (spark,
                                                                   sf_dir)
    finally:
        for key in bench.KNOBS:
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)
        io.clear_table_cache(spark, sf_dir)
    assert spark.conf.getAll == before
    assert set(setup) == {"get_spark_s", "resolve_tables_s", "resolve_jobs"}
    assert setup["resolve_jobs"] == 0
    assert setup["resolve_tables_s"] > 0


def test_replica_dir_is_not_reused_across_sources(tmp_path):
    """A completed replica dir serves only the (multiplier, source) it
    was built from: the same build skips, another source raises instead
    of silently handing back the first source's rows."""
    from tests.make_replicas import build

    out = str(tmp_path / "rep")
    build(2, SF_SMALL, out)
    build(2, SF_SMALL, out)  # idempotent
    with pytest.raises(ValueError, match="sf0.01"):
        build(2, SF_ORACLE, out)
    with pytest.raises(ValueError, match="replicas=3"):
        build(3, SF_SMALL, out)
