#!/usr/bin/env python
"""Full-registry oracle sweeps: one row = one fixture in one session.

A MUTATIONS row rewrites every sf0.001 table through a pure pyarrow
transform into /tmp/mdis_<row>_sweep, then runs every registered
operator through the driver-faithful oracle harness in the engine
session. Each mutation injects a value class the standard fixture
never has, so every diverger is a real cross-engine semantics
question. A CONFIGS row runs the unmutated sf0.01 fixture in that
session; `vanilla` is the driver's bare session, with none of the
engine configs. tools/round_gates.sh runs every row over every op;
no per-commit subset of a row is kept in the test suite (the fast NULL
no-crash panel in tests/test_empty_input.py builds its fixture with
`build`). PARITY.md holds what each row found.

Usage:  python tools/sweep.py ROW [op ...]   # ROW: a MUTATIONS or CONFIGS name
Prints one BAD line per op that is not OK, then one SUMMARY line.
Exit 1 if any op is not OK.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF_ORACLE, SF_SMALL  # noqa: E402
from tests.oracle_check import run_all  # noqa: E402

#: identity columns the nulls and numeric rows leave untouched:
#: mutating them breaks fixture invariants (uniqueness) instead of
#: exercising value semantics
KEYCOLS = {"doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey",
           "l_linenumber", "c_custkey", "s_suppkey", "p_partkey",
           "n_nationkey", "r_regionkey", "user_id", "ts"}


def _map_columns(t, fn):
    """t rebuilt from fn(name, column) for every column."""
    return pa.table([fn(name, t.column(name)) for name in t.column_names],
                    names=t.column_names)


def _per_value(col, fn):
    """col with every non-null value v at row j replaced by fn(j, v)."""
    return pa.array([v if v is None else fn(j, v)
                     for j, v in enumerate(col.to_pylist())], type=col.type)


def _nulls(f, t):
    """Every non-key column NULL on rows j % 10 == 3."""
    n = len(t)
    mask = pa.array([(j % 10) == 3 for j in range(n)])
    return _map_columns(t, lambda name, col: col if name in KEYCOLS else
                        pc.if_else(mask, pa.nulls(n, col.type),
                                   col.combine_chunks()))


#: mild real-world non-ASCII classes; no unpaired surrogates
UNICODE_SAMPLES = [
    "héllo wörld", "日本語テスト", "🚀🔥 emoji", "кириллица",
    "naïve café", "综合数据", "Ümläut ß", "한국어 텍스트",
]
STRUCTURAL = 'he said "a,b"\nline2\tend\\'
#: regex-passing but invalid JSON for `props`, cycled: trailing garbage
#: ending in '}', two concatenated objects, a trailing comma, a
#: duplicated key, a leading-zero number, a raw control char. The
#: strict flat-object grammar must NULL them on both engines.
BAD_JSON = [
    lambda v: f"{v} junk}}",
    lambda v: f"{v}{{\"x\":1}}",
    lambda v: (v[:-1] + ",}") if v.endswith("}") else v,
    lambda v: (v[:-1] + ', "k": 9}') if v.endswith("}") else v,
    lambda v: '{"k": 012}',
    lambda v: '{"s":"a\nb", "k": 4}',
]


def _adversarial(f, t):
    """Every string column, rows j % 11: 2 -> non-ASCII suffix,
    3 -> invalid JSON (props only), 5 -> "", 7 -> whitespace only,
    9 -> embedded quote/comma/newline/tab/backslash."""
    def text(name, j, v):
        m = j % 11
        if m == 2:
            return f"{v} {UNICODE_SAMPLES[j % len(UNICODE_SAMPLES)]}"
        if m == 3 and name == "props":
            return BAD_JSON[j % 6](v)
        return {5: "", 7: "  \t ", 9: f"{v} {STRUCTURAL}"}.get(m, v)

    def col_fn(name, col):
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            return _per_value(col, lambda j, v: text(name, j, v))
        return col

    return _map_columns(t, col_fn)


def _numeric(f, t):
    """Every numeric non-key column, rows j % 13: 3 -> zero,
    6 -> negated (-v - 7 / -v - 1.25), 9 -> large (9973 / 876543.21,
    inside the exact-integer-moment envelopes: the target is semantic
    divergence, not int64 overflow)."""
    def ints(j, v):
        return {3: 0, 6: -v - 7, 9: 9973}.get(j % 13, v)

    def floats(j, v):
        return {3: 0.0, 6: -v - 1.25, 9: 876543.21}.get(j % 13, v)

    def col_fn(name, col):
        if name in KEYCOLS:
            return col
        if pa.types.is_integer(col.type):
            return _per_value(col, ints)
        if pa.types.is_floating(col.type):
            return _per_value(col, floats)
        return col

    return _map_columns(t, col_fn)


#: row j % 17 -> edge: a pre-epoch leap day, the far-future end-of-day
#: µs (inside pandas' ns range, so the harness stays exact), epoch zero
EDGES = {
    4: dt.datetime(1904, 2, 29, 7, 31, 4, 123456),
    8: dt.datetime(2199, 12, 31, 23, 59, 59, 999999),
    12: dt.datetime(1970, 1, 1, 0, 0, 0),
}


def _temporal(f, t):
    """Every timestamp column gets EDGES on its row schedule."""
    return _map_columns(t, lambda name, col: _per_value(
        col, lambda j, v: EDGES.get(j % 17, v))
        if pa.types.is_timestamp(col.type) else col)


#: consecutive per-user event gaps, seconds: a tie, the session gap
#: (30 min), just past a tie, the asof nearest band (1 h), the
#: watermark (10 min), the asof tolerance (2 h), a day, the 7-day frame
GAP_CYCLE_S = [0, 1800, 1, 3600, 600, 7200, 86400, 604800]
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch µs


def _boundary(f, t):
    """events.ts: each user's timeline (order and multiplicity kept)
    rebuilt so consecutive gaps walk GAP_CYCLE_S, phase-rotated by
    user_id, from 2024-01-01 + (user_id % 97) h, inside the streaming
    validity window. supplier.s_acctbal rows j % 7 in {2, 5}:
    o_totalprice[j] -/+ 1000.0 of the source orders, exactly at
    join_band_bucketed's band edge."""
    if f == "events.parquet":
        unit = t.column("ts").type.unit
        unit_per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
        df = t.select(["event_id", "user_id", "ts"]).to_pandas()
        order = np.lexsort((df["event_id"].to_numpy(), df["ts"].to_numpy(),
                            df["user_id"].to_numpy()))
        users = df["user_id"].to_numpy()[order]
        new_ts = np.empty(len(df), dtype="int64")
        k = len(GAP_CYCLE_S)
        cur_user, t_us, phase = None, 0, 0
        for pos, idx in enumerate(order):
            u = users[pos]
            if u != cur_user:
                cur_user, phase = u, int(u) % k
                t_us = BASE_US + (int(u) % 97) * 3_600_000_000
            else:
                t_us += GAP_CYCLE_S[phase % k] * 1_000_000
                phase += 1
            new_ts[idx] = (t_us * unit_per_s) // 10**6
        ts = pa.array(new_ts, type=pa.int64()).cast(pa.timestamp(unit))
        return t.set_column(t.column_names.index("ts"), "ts", ts)
    if f == "supplier.parquet":
        tp = pq.read_table(f"{SF_SMALL}/orders.parquet",
                           columns=["o_totalprice"]).column(0).to_pylist()
        i = t.column_names.index("s_acctbal")
        bal = _per_value(t.column(i), lambda j, v: v
                         if j >= len(tp) or tp[j] is None
                         else {2: tp[j] - 1000.0, 5: tp[j] + 1000.0}
                         .get(j % 7, v))
        return t.set_column(i, "s_acctbal", bal)
    return t


TEMPLATES = [
    "the quick brown fox jumps over the lazy dog again and again",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "all work and no play makes jack a dull boy all work no play",
]
HOT_VECTOR = [0.125] * 64
#: file -> column -> (row schedule, hot value or j -> value). A hot
#: value of None means the column's first non-null value.
SKEW = {
    # the hot user owns ~33% of events; one dominant event type
    "events.parquet": {
        "user_id": (lambda j: j % 3 == 0, None),
        "event_type": (lambda j: j % 7 in (0, 1), "click"),
    },
    # skewed customer⋈orders build/probe key
    "orders.parquet": {"o_custkey": (lambda j: j % 3 == 0, None)},
    "lineitem.parquet": {"l_suppkey": (lambda j: j % 4 == 0, None)},
    "customer.parquet": {"c_nationkey": (lambda j: j % 2 == 0, None)},
    # three ~3% template mega near-dup clusters (hot shingle postings,
    # minhash bands, simhash buckets); one hot crawl source
    "documents.parquet": {
        "text": (lambda j: j % 5 == 0,
                 lambda j: TEMPLATES[(j // 5) % len(TEMPLATES)]),
        "source": (lambda j: j % 2 == 0, "common_crawl"),
    },
    # an ANN bucket holding 20% of the corpus; exact cosine ties
    "embeddings.parquet": {
        "embedding": (lambda j: j % 5 == 0, HOT_VECTOR),
    },
}


def _skew(f, t):
    """Heavy hitters planted per SKEW on non-null cells."""
    plan = SKEW.get(f)
    if not plan:
        return t

    def col_fn(name, col):
        if name not in plan:
            return col
        hot_row, hot = plan[name]
        if hot is None:
            hot = next((v for v in col.to_pylist() if v is not None), None)
        return _per_value(col, lambda j, v: (hot(j) if callable(hot) else hot)
                          if hot_row(j) else v)

    return _map_columns(t, col_fn)


#: name -> (file_name, table) -> table over every sf0.001 table; the
#: comment names the divergence class each row targets
MUTATIONS = {
    # NULL grouping keys, null-safe joins, IGNORE NULLS fills, null
    # sort order, try_-function arms
    "nulls": _nulls,
    # codepoint-vs-byte length, unicode case mapping, regex classes on
    # non-ASCII, CSV/JSON quoting and escape round-trips, lenient JSON
    # parsing, empty-vs-whitespace tokens
    "adversarial": _adversarial,
    # pmod vs %, sqrt/log domains, zero-denominator guards, floor
    # saturation, negative-half rounding, accumulation order
    "numeric": _numeric,
    # truncating vs flooring division on negative epochs, pre-epoch
    # week origins, watermark initialization, µs end-of-day
    "temporal": _temporal,
    # exact inter-row distances on every declared gap, band and
    # tolerance: tie-breaks and closed-vs-open interval edges
    "boundary": _boundary,
    # key frequency: answers must not depend on the distribution
    # (caps, blocking shortcuts, tie-breaks inside a giant group)
    "skew": _skew,
}


def _engine():
    from manual_data_ingest_spark.session import get_spark

    return get_spark()


def _vanilla():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("vanilla-gates").getOrCreate())


#: name -> session factory
CONFIGS = {"engine": _engine, "vanilla": _vanilla}


def build(name: str, dst: str | None = None) -> str:
    """Write MUTATIONS[name] of every sf0.001 table into dst
    (default /tmp/mdis_<name>_sweep); return dst."""
    dst = dst or f"/tmp/mdis_{name}_sweep"
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(SF_SMALL)):
        if f.endswith(".parquet"):
            t = pq.read_table(f"{SF_SMALL}/{f}")
            pq.write_table(MUTATIONS[name](f, t), f"{dst}/{f}")
    return dst


def main(argv: list[str]) -> None:
    import __spark_entry__ as E

    if not argv:
        sys.exit("usage: python tools/sweep.py ROW [op ...]")
    row, only = argv[0], argv[1:]
    if row not in MUTATIONS and row not in CONFIGS:
        sys.exit(f"unknown row {row!r}; rows: "
                 f"{' '.join([*MUTATIONS, *CONFIGS])}")
    known = E.queries()
    unknown = [name for name in only if name not in known]
    if unknown:
        sys.exit(f"unknown op(s): {' '.join(unknown)}")
    if row in MUTATIONS:
        sf_dir, spark = build(row), CONFIGS["engine"]()
    else:
        sf_dir, spark = SF_ORACLE, CONFIGS[row]()
    results = run_all(sf_dir=sf_dir, only=only or None, spark=spark)
    bad = [r for r in results if not r.ok]
    for r in bad:
        print(f"BAD {r.name}: {r.detail[:140]}")
    print(f"{row} SUMMARY: {len(results) - len(bad)}/{len(results)} OK "
          f"({len(bad)} divergent)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
