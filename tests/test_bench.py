"""The shared bench protocol in bench.py: the timing record every
measurement tool uses, an environment-neutral import, the grown N× fixture
dirs, and the tools that import bench."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import _REPO, SF_SMALL


def test_import_bench_leaves_environ_unchanged():
    """The bench knobs are session confs, not process env: importing
    bench (as test_registry does) must not leak them into the caller."""
    code = ("import json, os; before = dict(os.environ); import bench; "
            "print(json.dumps(sorted(set(os.environ.items()) "
            "^ set(before.items()))))")
    out = subprocess.run([sys.executable, "-c", code], cwd=_REPO,
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


def test_scale_dir_grows_with_perfbench_fixture(monkeypatch, tmp_path):
    """The 1× row is SF_DIR with no build; an N× row is perfbench's
    generator at (N, GROWN_SEED), built once per row in a dir whose name
    carries both, so a dir another (scale, seed) completed is never taken
    as built, and a dir ``perfbench/fixture.py OUT 2 SEED`` completed (the
    CLI parses the scale as a float) is."""
    import bench
    from perfbench import fixture

    calls = []

    def build(out, scale, seed):
        calls.append((out, scale, seed))
        return {"build_s": 1.5}

    monkeypatch.setattr(fixture, "build", build)
    assert bench.scale_dir(1) == (bench.SF_DIR, 0.0)
    assert calls == []
    out, build_s = bench.scale_dir(2)
    assert calls == [(out, 2, bench.GROWN_SEED)] and build_s == 1.5
    name = os.path.basename(out)
    assert "2x" in name and str(bench.GROWN_SEED) in name
    assert bench.scale_dir(3)[0] != out

    d = tmp_path / "grown"
    d.mkdir()
    for scale, seed in ((3, bench.GROWN_SEED), (2, bench.GROWN_SEED + 1),
                        (2.0, bench.GROWN_SEED)):
        (d / "_COMPLETE").write_text(fixture.marker_text(scale, seed) + "\n")
        assert fixture.is_built(str(d), *calls[0][1:]) == (
            (scale, seed) == (2, bench.GROWN_SEED))


def test_tools_import_bench_helpers():
    """Every tool that imports from bench still imports with Spark
    unstarted, and opsweep's argument parser runs: deleting a bench
    helper or flag a tool uses fails here, not at the tool's next run."""
    tools = sorted(p.stem for p in (Path(_REPO) / "tools").glob("*.py")
                   if "from bench import" in p.read_text())
    assert {"floor", "opsweep", "capture_plans"} <= set(tools)
    code = ("import importlib, sys; sys.path.insert(0, 'tools'); "
            f"[importlib.import_module(m) for m in {tools!r}]; "
            "from pyspark import SparkContext; "
            "assert SparkContext._active_spark_context is None")
    subprocess.run([sys.executable, "-c", code], cwd=_REPO, check=True)
    out = subprocess.run([sys.executable, "tools/opsweep.py", "--help"],
                         cwd=_REPO, capture_output=True, text=True,
                         check=True)
    assert "--out" in out.stdout
