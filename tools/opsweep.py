#!/usr/bin/env python
"""Full-registry per-operator Spark timing sweep (r12 measure-first).

Times EVERY registered operator (not just the 24 headline queries) with
the bench methodology (bench.time_op: noop sink, labeled jobs, cold then
warm run) at $SPARK_GRAFT_SF_DIR under the bench session config, and
appends one JSON line per operator to the output file as it goes
(partial results survive interruption; operators already in the file
are skipped). Ranking the warm column is how the r12 round finds slow
non-headline shapes the headline bench never sees. A scaled sweep
points $SPARK_GRAFT_SF_DIR at a grown fixture dir
(``python3 perfbench/fixture.py OUT N 1234``).

Usage: python tools/opsweep.py [--out FILE] [name ...]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import traceback
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import bench_session, time_op  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/opsweep.jsonl")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as E

    spark, sf_dir = bench_session("mdis-opsweep")
    qs = E.queries()
    names = args.names or list(qs)
    done = set()
    if os.path.exists(args.out):
        with open(args.out) as f:
            done = {json.loads(l)["name"] for l in f if l.strip()}
    with open(args.out, "a") as out:
        for i, name in enumerate(names):
            if name in done:
                continue
            rec: dict = {"name": name}
            try:
                r = time_op(spark, qs[name], sf_dir, runs=1,
                            label=f"opsweep:{name}")
                rec.update(cold=r["warmup"], warm=r["median"],
                           jobs=r["jobs"], stages=r["stages"])
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"[{i + 1}/{len(names)}] {name}: "
                  f"{rec.get('warm', rec.get('error'))}", flush=True)


if __name__ == "__main__":
    main()
