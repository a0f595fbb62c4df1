"""DuckDB oracle answers, cached per fixture, and the exact output check.

The check applies the rules of ``tests/oracle_check.py`` column by column
instead of cell by cell: same column names, same row count, and the same
multiset of rows once every cell is reduced to a (type class, value) pair.
An int and a float never match even when numerically equal, a timestamp
compares at microsecond precision with its zone dropped, and a list,
array or dict cell is an error (``UnhashableOutput``).

A canonical frame has, per output column ``c``, a ``c|tag`` column and one
value column per representation the cells use (``c|i`` int64, ``c|f``
float64, ``c|s`` string), sorted on all of them. The oracle side is stored
in that form, so checking a Spark result costs one canonicalization, one
sort and one column-wise comparison.
"""
from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pandas as pd

_EPOCH = dt.datetime(1970, 1, 1)


class UnhashableOutput(TypeError):
    """An output cell is not a scalar (list, array, dict, struct)."""


def _cell(v) -> tuple[str, int, float, str]:
    """(tag, int value, float value, string value) of one object cell."""
    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "null", 0, 0.0, ""
    if isinstance(v, (bool, np.bool_)):
        return "b", int(v), 0.0, ""
    if isinstance(v, (int, np.integer)):
        return "i", int(v), 0.0, ""
    if isinstance(v, (float, np.floating)):
        return "f", 0, float(v), ""
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return "t", (v.replace(tzinfo=None) - _EPOCH) // dt.timedelta(
            microseconds=1), 0.0, ""
    if isinstance(v, dt.date):
        return "t", (dt.datetime(v.year, v.month, v.day) - _EPOCH) // \
            dt.timedelta(microseconds=1), 0.0, ""
    if isinstance(v, str):
        return "s", 0, 0.0, v
    if isinstance(v, (bytes, bytearray)):
        return "y", 0, 0.0, bytes(v).hex()
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        raise UnhashableOutput(f"non-scalar output cell ({type(v).__name__})")
    return "o", 0, 0.0, repr(v)


def _column(s: pd.Series) -> dict[str, np.ndarray]:
    n = len(s)
    kind = s.dtype.kind
    na = s.isna().to_numpy()
    tag = np.full(n, "", dtype=object)
    ival = np.zeros(n, dtype="int64")
    fval = np.zeros(n, dtype="float64")
    sval = np.full(n, "", dtype=object)
    if kind in "biu":
        tag[:] = "b" if kind == "b" else "i"
        ival = s.fillna(0).to_numpy().astype("int64")
    elif kind == "f":
        tag[:] = "f"
        fval = s.fillna(0.0).to_numpy(dtype="float64")
    elif kind == "M":
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        tag[:] = "t"
        us = s.to_numpy().astype("datetime64[us]").astype("int64")
        ival = np.where(na, 0, us)
    else:
        cells = [_cell(v) for v in s.tolist()]
        if cells:
            tag, ival, fval, sval = (np.array(x, dtype=d) for x, d in zip(
                zip(*cells), (object, "int64", "float64", object)))
        na = tag == "null"
    tag[na] = "null"
    ival[na] = 0
    fval[na] = 0.0
    out = {"tag": tag}
    if np.isin(tag, ("b", "i", "t")).any():
        out["i"] = ival
    if (tag == "f").any():
        out["f"] = fval
    if np.isin(tag, ("s", "y", "o")).any():
        out["s"] = sval
    return out


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """The sorted canonical frame of a query result (see module doc)."""
    cols: dict[str, np.ndarray] = {}
    for c in sorted(df.columns):
        for part, arr in _column(df[c]).items():
            cols[f"{c}|{part}"] = arr
    frame = pd.DataFrame(cols)
    if len(frame) and len(frame.columns):
        frame = frame.sort_values(list(frame.columns), ignore_index=True,
                                  kind="mergesort")
    return frame


def mismatch(got: pd.DataFrame, want: pd.DataFrame,
             want_columns: list[str]) -> str:
    """'' when ``got`` (a raw result) matches ``want`` (a canonical frame
    of a result with columns ``want_columns``), else the first difference."""
    if sorted(got.columns) != sorted(want_columns):
        return f"columns {sorted(got.columns)} != {sorted(want_columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    canon = canonical(got)
    if list(canon.columns) != list(want.columns):
        return (f"value classes {list(canon.columns)} != "
                f"{list(want.columns)}")
    for c in canon.columns:
        a, b = canon[c].to_numpy(), want[c].to_numpy()
        if not (a == b).all():
            i = int(np.flatnonzero(a != b)[0])
            return f"{c} row {i}: {a[i]!r} != {b[i]!r}"
    return ""


def connect(fixture_dir: str, threads: int):
    import duckdb
    from manual_data_ingest_spark.io import TABLES

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={threads}")
    for name in TABLES:
        path = os.path.join(fixture_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def _meta_path(oracle_dir: str) -> str:
    return os.path.join(oracle_dir, "_META.json")


def load_meta(oracle_dir: str) -> dict:
    try:
        with open(_meta_path(oracle_dir)) as fh:
            return json.load(fh)
    except OSError:
        return {}


def build(fixture_dir: str, oracle_dir: str, sql: dict[str, str],
          threads: int) -> dict:
    """Cache the canonical DuckDB answer of every op in ``sql``. Returns
    the metadata of all cached ops: result columns, row count and
    ``duckdb_s``, the time of one repeat run of the query."""
    meta = load_meta(oracle_dir)
    os.makedirs(oracle_dir, exist_ok=True)
    con = connect(fixture_dir, threads)
    try:
        for op in sql:
            result = con.execute(sql[op]).fetchdf()
            t0 = time.perf_counter()
            con.execute(sql[op]).fetchall()
            duck_s = time.perf_counter() - t0
            canonical(result).to_parquet(
                os.path.join(oracle_dir, f"{op}.parquet"), index=False)
            meta[op] = {"columns": list(result.columns),
                        "rows": len(result), "duckdb_s": duck_s}
    finally:
        con.close()
    tmp = _meta_path(oracle_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, _meta_path(oracle_dir))
    return meta


def load(oracle_dir: str, op: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(oracle_dir, f"{op}.parquet"))
