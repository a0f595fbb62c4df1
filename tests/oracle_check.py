"""Local re-implementation of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL side by side and
compares: row count, column names, and order-insensitive values.
Reports both an *exact* match (what a value-hash would see) and a
*tolerant* match (float epsilon) so rounding-parity risks surface
during development instead of at the driver's t2 gate.

Driver-faithful strictness (hardened after the r1 verdict):
- int-vs-float is a MISMATCH even when values are numerically equal —
  DuckDB HUGEINT aggregates (count_if, sum(int)) surface as float64 via
  fetchdf and the driver hashes them differently from Spark bigint
  (r1: agg_boolean red while this checker said OK).
- any non-scalar cell (ndarray / list / dict / struct) raises
  UnhashableOutput, mirroring the driver canonicalizer's crash on
  array-typed columns (r1: agg_collect_sorted, agg_percentile red).
"""

from __future__ import annotations

import datetime as _dt
import math
import sys
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


class UnhashableOutput(TypeError):
    """A query emitted a cell the driver's canonicalizer cannot hash."""


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per fixture table in ``sf_dir``."""
    import os

    from manual_data_ingest_spark.io import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):  # grown fixtures are part-file dirs
            path += "/*.parquet"
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon(v):
    """Canonicalize one value, tagging its type CLASS so that numerically
    equal int/float/bool never compare equal (driver hash semantics)."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return ("f", float(v))
    if isinstance(v, pd.Timestamp):
        return ("t", v.to_pydatetime().replace(tzinfo=None))
    if isinstance(v, _dt.datetime):
        return ("t", v.replace(tzinfo=None))
    if isinstance(v, _dt.date):
        return ("t", _dt.datetime(v.year, v.month, v.day))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, (list, tuple, dict)) or type(v).__name__ == "ndarray":
        raise UnhashableOutput(
            f"non-scalar output cell ({type(v).__name__}) — the driver's "
            "canonicalizer crashes on these; flatten to scalars/strings")
    return ("o", v)


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def _val_eq(a, b, tol: float) -> bool:
    """Loose comparison for DIAGNOSTICS only (the `tolerant` column):
    numeric values compare across int/float tags with epsilon. The
    driver-faithful verdict is the strict `exact` comparison."""
    if a == b:
        return True
    if (isinstance(a, tuple) and isinstance(b, tuple)
            and len(a) == 2 and len(b) == 2
            and a[0] in ("i", "f", "b") and b[0] in ("i", "f", "b")):
        return math.isclose(float(a[1]), float(b[1]), rel_tol=tol, abs_tol=tol)
    return False


@dataclass
class OracleResult:
    name: str
    spark_rows: int
    duck_rows: int
    cols_match: bool
    exact: bool
    tolerant: bool
    detail: str = ""
    mismatches: list = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return self.cols_match and self.spark_rows == self.duck_rows and self.exact


def compare(name: str, spark_df, con, sql: str, tol: float = 1e-9) -> OracleResult:
    sp = spark_df.toPandas()
    dk = con.execute(sql).fetchdf()
    cols_match = sorted(sp.columns) == sorted(dk.columns)
    res = OracleResult(name, len(sp), len(dk), cols_match, False, False)
    if not cols_match:
        res.detail = f"columns spark={sorted(sp.columns)} duck={sorted(dk.columns)}"
        return res
    if len(sp) != len(dk):
        res.detail = f"row count spark={len(sp)} duck={len(dk)}"
        return res
    a, b = _rows(sp), _rows(dk)
    res.exact = a == b
    res.tolerant = all(_val_eq(x, y, tol) for x, y in zip(a, b))
    if not res.tolerant:
        for i, (x, y) in enumerate(zip(a, b)):
            if not _val_eq(x, y, tol):
                res.mismatches.append((i, x, y))
                if len(res.mismatches) >= 3:
                    break
        res.detail = f"first mismatches: {res.mismatches}"
    elif not res.exact:
        res.detail = "tolerant-only match (float last-bit divergence — hash risk)"
    return res


def run_all(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None,
            spark=None) -> list[OracleResult]:
    import __spark_entry__ as E

    if spark is None:
        from manual_data_ingest_spark.session import get_spark
        spark = get_spark()
    qs, oracles = E.queries(), E.oracle_sql()
    con = duckdb_connect(sf_dir)
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            if name not in oracles:
                n = fn(spark, sf_dir).count()
                results.append(OracleResult(
                    name, n, n, True, True, True,
                    "rows-only — NOTE: the driver scores no-oracle as err"))
            else:
                results.append(compare(name, fn(spark, sf_dir), con, oracles[name]))
        except Exception as exc:  # surface, keep going
            results.append(OracleResult(name, -1, -1, False, False, False,
                                        f"EXCEPTION: {type(exc).__name__}: {exc}"))
    return results


if __name__ == "__main__":
    import os
    import sys

    only = sys.argv[1:] or None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    print(f"# oracle sweep against {sf_dir}", file=sys.stderr)
    results = run_all(sf_dir=sf_dir, only=only)
    for r in results:
        flag = "OK " if r.ok else ("~~ " if r.tolerant else "BAD")
        print(f"{flag} {r.name:28s} rows={r.spark_rows}/{r.duck_rows} {r.detail[:500]}")
    bad = [r.name for r in results if not r.ok]
    print(f"SUMMARY: {len(results) - len(bad)}/{len(results)} OK"
          + (f"  FAILING: {' '.join(bad)}" if bad else ""))
    sys.exit(1 if bad else 0)
