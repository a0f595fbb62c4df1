"""The Python worker daemon (worker_daemon/mdis_daemon.py).

The path-filter tests are Spark-free: they build tmp directory installs,
zips and jars, and call the filter on a path made of them. The reach
test runs a real engine session in a subprocess, from a tmp working
directory with ``PYTHONPATH`` unset, and asks a pandas UDF where its
worker imported pyspark from.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from manual_data_ingest_spark.session import DAEMON_DIR

_REPO = str(Path(__file__).resolve().parent.parent)

_spec = importlib.util.spec_from_file_location(
    "mdis_daemon", os.path.join(DAEMON_DIR, "mdis_daemon.py"))
D = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(D)

PYSPARK_V = "__version__: str = '4.1.2'\n"
PY4J_V = "__version__ = '0.10.9.9'\n"


def _zip(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _install(root: Path, package: str, version: str) -> str:
    (root / package).mkdir(parents=True)
    (root / package / "__init__.py").write_text("")
    (root / package / "version.py").write_text(version)
    return str(root)


def _archives(tmp_path: Path) -> tuple[str, str]:
    lib = tmp_path / "lib"
    lib.mkdir()
    return (_zip(lib / "pyspark.zip", {"pyspark/__init__.py": "",
                                       "pyspark/version.py": PYSPARK_V}),
            _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": "",
                                                 "py4j/version.py": PY4J_V}))


def test_same_version_directory_install_drops_both_archives(tmp_path):
    pyspark_zip, py4j_zip = _archives(tmp_path)
    site = _install(tmp_path / "site", "pyspark", PYSPARK_V)
    _install(tmp_path / "site", "py4j", PY4J_V)
    path = [str(tmp_path), pyspark_zip, py4j_zip, site]
    assert D.archive_entries_to_drop(path) == {pyspark_zip, py4j_zip}


@pytest.mark.parametrize("pyspark_v, py4j_v", [
    (None, PY4J_V),                            # no pyspark directory
    ("__version__: str = '4.0.0'\n", PY4J_V),  # other pyspark release
    (PYSPARK_V, None),                         # no py4j directory
    (PYSPARK_V, "__version__ = '0.10.9.7'\n"),  # other py4j release
])
def test_missing_or_other_version_install_keeps_both_archives(
        tmp_path, pyspark_v, py4j_v):
    pyspark_zip, py4j_zip = _archives(tmp_path)
    site = tmp_path / "site"
    site.mkdir()
    if pyspark_v:
        _install(site, "pyspark", pyspark_v)
    if py4j_v:
        _install(site, "py4j", py4j_v)
    assert D.archive_entries_to_drop([pyspark_zip, py4j_zip,
                                      str(site)]) == set()


def test_jar_dropped_only_without_python(tmp_path):
    core = _zip(tmp_path / "spark-core.jar", {"org/apache/A.class": "x"})
    carries = _zip(tmp_path / "pkg.jar", {"org/apache/B.class": "x",
                                          "pkg/mod.py": ""})
    assert D.archive_entries_to_drop([core, carries]) == {core}


def test_drop_keeps_order_of_other_entries(tmp_path, monkeypatch):
    pyspark_zip, py4j_zip = _archives(tmp_path)
    site = _install(tmp_path / "site", "pyspark", PYSPARK_V)
    _install(tmp_path / "site", "py4j", PY4J_V)
    core = _zip(tmp_path / "spark-core.jar", {"org/apache/A.class": "x"})
    other = [str(tmp_path / n) for n in ("a", "b", "c")]
    monkeypatch.setattr(sys, "path", [other[0], pyspark_zip, other[1],
                                      py4j_zip, core, site, other[2]])
    monkeypatch.setattr(sys, "path_importer_cache",
                        {e: None for e in sys.path})
    assert D.drop_archive_entries() == sorted([pyspark_zip, py4j_zip, core])
    assert sys.path == [other[0], other[1], site, other[2]]
    assert set(sys.path_importer_cache) == set(sys.path)


_REACH = """
import json, sys
sys.path.insert(0, {repo!r})
from manual_data_ingest_spark.session import get_spark
spark = get_spark("mdis-daemon-reach", master="local[1]")
import pandas as pd
from pyspark.sql import functions as F

@F.pandas_udf("string")
def worker_imports(s):
    import json, os, sys
    import owner_mod, pyspark
    archives = [e for e in sys.path if os.path.isfile(e)]
    return pd.Series([json.dumps([pyspark.__file__, archives])] * len(s))

pyspark_file, archives = json.loads(
    spark.range(1).select(worker_imports("id")).first()[0])
print("RESULT::" + json.dumps({{
    "pyspark": pyspark_file, "archives": archives,
    "pythonpath": spark.sparkContext.getConf().get(
        "spark.executorEnv.PYTHONPATH")}}))
spark.stop()
"""


def test_workers_import_pyspark_from_directory_install(tmp_path):
    """From any working directory and with ``PYTHONPATH`` unset, the
    workers find the daemon, import pyspark from its directory install
    with no archive on ``sys.path``, and still see the executor
    ``PYTHONPATH`` the owner set (here through submit args)."""
    owner = tmp_path / "owner"
    owner.mkdir()
    (owner / "owner_mod.py").write_text("")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.executorEnv.PYTHONPATH={owner} pyspark-shell")
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run([sys.executable, "-c", _REACH.format(repo=_REPO)],
                          cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("RESULT::")]
    assert lines, (f"runner produced no result\nstderr tail: "
                   f"{proc.stderr[-2000:]}")
    got = json.loads(lines[0][len("RESULT::"):])
    assert got["pythonpath"] == os.pathsep.join([DAEMON_DIR, str(owner)])
    assert os.path.isdir(os.path.dirname(got["pyspark"])), got["pyspark"]
    assert got["archives"] == []
