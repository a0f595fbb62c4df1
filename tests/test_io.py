"""Table resolution in io.py: the schema a table is read with comes from
one parquet footer on the driver, equals what Spark's own inference
gives, and resolving a table launches no Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from manual_data_ingest_spark import io
from tests.conftest import SF_ORACLE, SF_SMALL

#: the three fixture scales
SF_DIRS = (SF_SMALL, SF_ORACLE,
           os.path.join(os.path.dirname(SF_SMALL), "sf0.1"))


@pytest.fixture(scope="module")
def part_dir(tmp_path_factory):
    """sf0.001 with every table as a dir of 4 part files plus the
    ``_SUCCESS`` marker a Spark or Hadoop writer leaves."""
    dst = str(tmp_path_factory.mktemp("mdis_parts"))
    for name in io.TABLES:
        t = pq.read_table(f"{SF_SMALL}/{name}.parquet")
        out = f"{dst}/{name}.parquet"
        os.makedirs(out)
        step = -(-t.num_rows // 4)
        for i in range(4):
            pq.write_table(t.slice(i * step, step),
                           f"{out}/part-{i:05d}.parquet")
        open(f"{out}/_SUCCESS", "w").close()
    return dst


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    """sf0.001 with 0 rows in every table (schema only)."""
    dst = str(tmp_path_factory.mktemp("mdis_zero_rows"))
    for name in io.TABLES:
        t = pq.read_table(f"{SF_SMALL}/{name}.parquet")
        pq.write_table(t.slice(0, 0), f"{dst}/{name}.parquet")
    return dst


@pytest.mark.parametrize("where", [*SF_DIRS, "parts", "zero_rows"])
def test_footer_schema_equals_inferred(spark, part_dir, empty_dir, where):
    """Every fixture table, as one file, as a part-file dir with a
    ``_SUCCESS`` marker and with no rows: the footer schema is the one
    ``spark.read.parquet`` infers (``events.ts`` bigint under
    nanosAsLong included), and so is the schema of the resolved scan."""
    sf_dir = {"parts": part_dir, "zero_rows": empty_dir}.get(where, where)
    for name in io.TABLES:
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        footer = io.parquet_schema(spark, path)
        assert footer == inferred, name
        assert spark.read.schema(footer).parquet(path).schema == inferred


def test_schema_is_inferred_where_no_footer_decides(spark, tmp_path):
    """A partitioned dir gets Spark's inferred schema, partition column
    included; a missing path and a dir of markers only keep Spark's own
    errors."""
    from pyspark.errors import AnalysisException

    part = tmp_path / "part.parquet"
    (part / "bucket=1").mkdir(parents=True)
    shutil.copy(f"{SF_SMALL}/region.parquet", part / "bucket=1" / "p.parquet")
    inferred = spark.read.parquet(str(part)).schema
    assert "bucket" in inferred.names
    assert io.parquet_schema(spark, str(part)) == inferred
    read = spark.read.schema(inferred).parquet(str(part))
    assert read.schema == inferred
    assert read.collect() == spark.read.parquet(str(part)).collect()
    markers = tmp_path / "markers.parquet"
    markers.mkdir()
    (markers / "_SUCCESS").touch()
    for path in (tmp_path / "missing.parquet", markers):
        with pytest.raises(AnalysisException) as spark_error:
            spark.read.parquet(str(path))
        with pytest.raises(AnalysisException) as ours:
            io.parquet_schema(spark, str(path))
        assert ours.value.getCondition() == spark_error.value.getCondition()


def test_resolving_tables_launches_no_job(spark, tmp_path):
    """Resolving all ten tables of a fresh fixture dir (every lookup a
    cache miss) runs no Spark job; Spark's schema inference would run
    one per table."""
    import bench

    sf_dir = shutil.copytree(SF_SMALL, str(tmp_path / "sf"))
    try:
        assert bench.resolve_tables(spark, sf_dir)["resolve_jobs"] == 0
    finally:
        io.clear_table_cache(spark, sf_dir)


def test_event_stream_schema_follows_a_rewritten_table(spark, tmp_path):
    """A fixture dir regenerated in place: after ``clear_table_cache``,
    the events stream reads the table's current columns, not the ones of
    an earlier read in the same session."""
    from manual_data_ingest_spark.streaming.ops import read_events_stream

    sf_dir = shutil.copytree(SF_SMALL, str(tmp_path / "sf"))
    assert "extra" not in read_events_stream(spark, sf_dir).columns
    path = f"{sf_dir}/events.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array([1] * t.num_rows)),
                   path)
    io.clear_table_cache(spark, sf_dir)
    assert "extra" in read_events_stream(spark, sf_dir).columns
