"""Shared pytest fixtures: one engine SparkSession for the whole run.

Local session on ``local[$SPARK_GRAFT_CPUS]`` (``get_spark``'s default;
all cores when unset) with 8 shuffle partitions — unit tests run on tiny
data where scheduling overhead, not throughput, dominates. Results must
not depend on the core count, so the suite takes it from the environment.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from manual_data_ingest_spark.session import get_spark

    s = get_spark("mdis-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
