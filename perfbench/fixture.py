"""Seeded star-schema + corpus fixture for the benchmark.

The generator follows ``tools/make_grown_fixture.py`` draw for draw (same
tables, distributions, part-file layout, guard band on the embedding
cosines and schema check), with two inputs that script fixes: the
multiplier may be fractional (``scale=0.1`` is the sf0.01-class size,
``scale=10`` the grown MULT-10 fixture) and the numpy seed is an argument.
``build(out, 10, 1234)`` therefore writes the same fact tables as
``make_grown_fixture.build(out, 10)``. The two small dimension tables are
generated here instead of copied from a reference fixture, so the benchmark
needs nothing outside its checkout.

A build is idempotent: ``out_dir/_COMPLETE`` holds the seed and scale it was
built with, and a matching marker skips the work.

Usage: python3 perfbench/fixture.py OUT_DIR SCALE SEED
"""
from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GUARD_THRESHOLD = 0.35
GUARD = 1e-9

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["P", "O", "F"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14)
ADJS = ["large", "hot", "small", "cold", "dim", "fast", "slow", "new",
        "old", "dark", "light", "deep"]
NOUNS = ["ring", "bolt", "case", "gear", "disk", "lace", "wire", "tube",
         "clip", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
CORE_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "batch", "part", "line", "order", "sort",
    "fast", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "a", "join", "shuffle", "cache", "plan", "index",
]
TAIL_VOCAB = [f"tok{i:03d}" for i in range(90)]

#: column names and arrow types every table must carry (the fixture schema
#: the operators and their DuckDB oracles are written against)
SCHEMA: dict[str, list[tuple[str, pa.DataType]]] = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(date_str: str) -> int:
    return int((np.datetime64(date_str, "us") - EPOCH)
               / np.timedelta64(1, "us"))


def _ts_col(vals_us: np.ndarray) -> pa.Array:
    return pa.array(vals_us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table, n_files: int) -> None:
    if n_files <= 1:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        return
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = (n + n_files - 1) // n_files
    for i in range(n_files):
        lo = i * step
        if lo >= n:
            break
        pq.write_table(table.slice(lo, min(step, n - lo)),
                       os.path.join(d, f"part-{i:04d}.parquet"),
                       row_group_size=step // 2 + 1)


def _rows(base: int, scale: float) -> int:
    return max(1, int(round(base * scale)))


def marker_text(scale: float, seed: int) -> str:
    return json.dumps({"scale": scale, "seed": seed}, sort_keys=True)


def is_built(out_dir: str, scale: float, seed: int) -> bool:
    try:
        with open(os.path.join(out_dir, "_COMPLETE")) as fh:
            return fh.read().strip() == marker_text(scale, seed)
    except OSError:
        return False


def build(out_dir: str, scale: float, seed: int) -> dict:
    """Write the fixture under ``out_dir``; return its row counts and the
    build time (``build_s``, 0 when an existing build was reused)."""
    stats_path = os.path.join(out_dir, "_STATS.json")
    if is_built(out_dir, scale, seed):
        with open(stats_path) as fh:
            return {**json.load(fh), "build_s": 0.0}
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_cust = _rows(15_000, scale)
    n_supp = _rows(1_000, scale)
    n_part = _rows(20_000, scale)
    n_ord = _rows(150_000, scale)
    n_li_per = rng.choice(np.arange(1, 11), size=n_ord,
                          p=np.array([11016, 21814, 29500, 29097, 23631,
                                      15625, 8941, 4407, 1959, 818 + 192],
                                     dtype="float64") / 147_000)
    n_ev = _rows(100_000, scale)
    n_users = _rows(1_500, scale)
    n_doc = _rows(5_000, scale)
    n_vec = _rows(2_000, scale)

    pq.write_table(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32"), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), os.path.join(out_dir, "region.parquet"))
    nk = np.arange(25, dtype="int32")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))

    ck = np.arange(n_cust, dtype="int64")
    _write(out_dir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(
            rng.integers(0, 25, n_cust).astype("int32"), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), 4)

    sk = np.arange(n_supp, dtype="int64")
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(
            rng.integers(0, 25, n_supp).astype("int32"), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }), 1)

    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{ADJS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, len(ADJS), n_part),
                            rng.integers(0, len(NOUNS), n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(
            rng.integers(1, 51, n_part).astype("int32"), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    }), 4)

    ok = np.arange(n_ord, dtype="int64")
    date_lo, date_hi = _us("1995-01-01"), _us("2001-08-01")
    odate = (rng.integers(0, (date_hi - date_lo) // 86_400_000_000 + 1,
                          n_ord) * 86_400_000_000 + date_lo)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": pa.array(
            np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_col(odate),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), 8)

    lik = np.repeat(ok, n_li_per)
    n_li = len(lik)
    linenum = (np.arange(n_li) -
               np.repeat(np.cumsum(n_li_per) - n_li_per, n_li_per) + 1)
    ship_off = rng.integers(1, 96, n_li) * 86_400_000_000
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": lik,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(linenum.astype("int32"), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(
            rng.integers(0, 11, n_li).astype("float64") / 100, 2),
        "l_tax": np.round(
            rng.integers(0, 9, n_li).astype("float64") / 100, 2),
        "l_returnflag": pa.array(
            np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_col(np.repeat(odate, n_li_per) + ship_off),
    }), 8)

    ek = np.arange(n_ev, dtype="int64")
    ev_lo, ev_hi = _us("2024-01-01"), _us("2024-01-31")
    ets = np.sort(rng.integers(ev_lo, ev_hi, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": ek,
        "ts": _ts_col(ets),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)]),
    }), 8)

    # documents: uniform-hot core vocabulary plus a Zipf tail, with exact
    # dups and end-append / mid-edit near-dups at a fixed density
    vocab = np.array(CORE_VOCAB + TAIL_VOCAB)
    core_w = np.full(len(CORE_VOCAB), 1.0 / len(CORE_VOCAB)) * 0.8
    tail_w = 1.0 / np.power(np.arange(1, len(TAIL_VOCAB) + 1), 1.3)
    tail_w = tail_w / tail_w.sum() * 0.2
    w = np.concatenate([core_w, tail_w])
    doc_lens = rng.integers(8, 100, n_doc)
    texts = [" ".join(vocab[rng.choice(len(vocab), L, p=w)])
             for L in doc_lens]
    n_exact = int(0.0032 * n_doc)
    n_append = int(0.004 * n_doc)
    n_edit = int(0.004 * n_doc)
    idx = rng.choice(n_doc, n_exact + n_append + n_edit, replace=False)
    for i in idx[:n_exact]:
        texts[i] = texts[(i + 1) % n_doc]
    for i in idx[n_exact:n_exact + n_append]:
        texts[i] = texts[(i + 7) % n_doc] + " " + vocab[
            rng.choice(len(vocab), p=w)]
    for i in idx[n_exact + n_append:]:
        toks = texts[(i + 13) % n_doc].split()
        if len(toks) > 4:
            toks[len(toks) // 2] = str(vocab[rng.choice(len(vocab), p=w)])
        texts[i] = " ".join(toks)
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 100, n_doc)]),
        "source": pa.array([f"src{i}" for i in
                            rng.integers(0, 60, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), 8)

    # embeddings: clustered unit vectors; no pair's float32 cosine may sit
    # within GUARD of the similarity threshold, or the oracle and Spark
    # could legitimately disagree on the pair
    dim, n_lab = 64, 10
    centers = rng.normal(size=(n_lab, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_lab, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.55, size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs32 = vecs.astype("float32")
    v64 = vecs32.astype("float64")
    norms = np.sqrt(np.einsum("ij,ij->i", v64, v64))
    min_gap = np.inf
    for lo in range(0, n_vec, 4000):
        cos = (v64[lo:lo + 4000] @ v64.T) / np.outer(
            norms[lo:lo + 4000], norms)
        np.fill_diagonal(cos[:, lo:lo + 4000], 0.0)
        min_gap = min(min_gap, np.abs(cos - GUARD_THRESHOLD).min())
    if not min_gap > GUARD:
        raise ValueError(f"guard band violated: a cosine sits {min_gap:.2e} "
                         f"from {GUARD_THRESHOLD}; choose another seed")
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs32), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"), pa.int32()),
    }), 4)

    for name, cols in SCHEMA.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, sorted(os.listdir(path))[0])
        got = [(f.name, f.type) for f in pq.read_schema(path)]
        if got != cols:
            raise ValueError(f"{name}: schema {got} != expected {cols}")

    stats = {"scale": scale, "seed": seed, "lineitem_rows": int(n_li),
             "orders": n_ord, "events": n_ev, "documents": n_doc,
             "embeddings": n_vec, "vocab": int(len(vocab)),
             "users": n_users, "guard_gap": float(min_gap),
             "bytes": _dir_bytes(out_dir)}
    with open(stats_path, "w") as fh:
        json.dump(stats, fh)
    with open(os.path.join(out_dir, "_COMPLETE"), "w") as fh:
        fh.write(marker_text(scale, seed) + "\n")
    return {**stats, "build_s": time.perf_counter() - t0}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__.strip().splitlines()[-1])
    print(json.dumps(build(sys.argv[1], float(sys.argv[2]),
                           int(sys.argv[3]))))
