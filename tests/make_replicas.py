"""Build N× scale replicas of an SF fixture dir for scaling runs.

Usage: python tests/make_replicas.py N [SRC_DIR] [OUT_DIR]

Writes OUT_DIR (default /tmp/mdis_scale_{N}x) containing every fixture
table as a DIRECTORY of N parquet files; replica i has its identity /
join-key columns offset by i*OFFSET so cardinalities grow with volume
(new docs / users / orders, not copies that dedup away). Attribute FKs
between replicated tables are offset on BOTH sides, so joins stay
consistent; dims (region/nation/part/supplier) are copied 1× untouched —
replicas keep referencing them, which is exactly the 100 TB shape
(facts grow, dims don't).

r1 established this protocol inline (BASELINE.md "1×/2×/4× of sf0.1,
/tmp replicas with offset keys"); this file makes it reusable.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10_000_000

#: keep in sync with tests/test_guard_band.py (similarity._SIM_THRESHOLD)
GUARD_THRESHOLD = 0.35
GUARD = 1e-9


def _assert_guard_band(src: str) -> None:
    """Generator-side guard-band assertion (r3 verdict item 6).

    The raw-cosine threshold filters (dedup_embedding / sim_threshold_
    pairs) are order-safe only while NO fixture pair's cosine lies
    within GUARD of the threshold — tests/test_guard_band.py pins that
    for the checked-in fixtures; this asserts it at REPLICA BUILD time
    so a regenerated corpus cannot silently land a borderline pair.
    Replication only duplicates vectors (offset keys, identical
    embeddings), so the source-level check covers every replica pair:
    cross-replica duplicates score exactly 1.0, far from the threshold.
    """
    t = pq.read_table(f"{src}/embeddings.parquet", columns=["embedding"])
    emb = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", emb, emb))
    cos = (emb @ emb.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(emb), k=1)
    gap = np.abs(cos[iu] - GUARD_THRESHOLD).min()
    assert gap > GUARD, (
        f"{src}: embedding pair within {gap:.3e} of the "
        f"{GUARD_THRESHOLD} threshold — raw-score filters are no longer "
        "order-safe; switch threshold filters to the bit-exact fold "
        "before using this corpus")

#: key columns offset per replica (identity + intra-replica FKs)
KEYS: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}

#: small dims copied once, never replicated
DIMS = ["region", "nation", "supplier", "part"]


def build(n: int, src: str, out: str) -> None:
    # Idempotent: a completed replica dir is NEVER rebuilt in-place —
    # load_table caches analyzed plans per (sf_dir, table), so an
    # in-place regeneration inside a live session would serve stale
    # file listings (io.clear_table_cache documents the contract).
    # A dir completed for another multiplier or source is an error, not
    # a silent reuse. Delete the dir (or the marker) to force a rebuild.
    src = os.path.abspath(src)
    want = f"replicas={n} src={src}"
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as fh:
            got = fh.read().strip()
        if got != want:
            raise ValueError(f"{out} holds {got!r}, not {want!r}; "
                             f"use another dir or rm -r {out}")
        print(f"{out}: already built, skipping (rm {marker} to rebuild)",
              file=sys.stderr)
        return
    _assert_guard_band(src)
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        shutil.copy(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    for t, keys in KEYS.items():
        tbl = pq.read_table(f"{src}/{t}.parquet")
        d = f"{out}/{t}.parquet"
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i in range(n):
            rep = tbl
            if i:
                for k in keys:
                    col = pc.add(rep.column(k), pa.scalar(i * OFFSET))
                    rep = rep.set_column(rep.schema.get_field_index(k), k, col)
            pq.write_table(rep, f"{d}/part-{i:03d}.parquet")
        print(f"{t}: {n} replicas, {tbl.num_rows * n} rows", file=sys.stderr)
    with open(marker, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    n = int(sys.argv[1])
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/mdis_scale_{n}x"
    build(n, src, out)
    print(out)
