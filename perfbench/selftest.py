#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny fixture.

    python3 perfbench/selftest.py [FIXTURE_DIR]

Without an argument it generates a scale-0.01 fixture (sf0.001-class);
with one it uses that fixture directory (e.g. a reference sf0.001 copy)
and keeps its oracle cache under ``perfbench/.data``. For every workload
it makes one traced run with a zero-second window (two traced and two
untraced passes) and checks that

- every ``end_to_end`` and ``per_layer`` metric of BENCHMARK.json is
  emitted, finite, with its unit;
- ``io.load_table_calls`` and ``spark.stages`` are non-zero;
- in the trace, each pass's op spans cover its wall time less a small
  loop overhead, each op has one call span and (unless its call raised)
  one action span in order, and each Spark job was submitted inside the
  call or action it is filed under;
- on the first workload, an injected wrong answer and an injected raising
  op are both counted as failed, and the run still completes.

Exits 0 when every check holds.
"""
from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


#: loop overhead allowed per op between a pass's wall time and the sum of
#: its op spans (two span records and two job-group calls per op)
LOOP_S = 0.02
#: status-store times are whole milliseconds
STORE_TOL_S = 0.005


def check_trace(path: str) -> list[str]:
    """Check span structure against numbers measured apart from it: each
    pass's wall time against its op spans, and each Spark job's
    status-store submission time against the phase it is filed under."""
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    errors = []
    passes = [s for s in spans if s["kind"] == "pass"]
    for p in passes:
        ops = kids.get(p["id"], [])
        wall = p["end"] - p["start"]
        covered = sum(o["end"] - o["start"] for o in ops)
        if not wall - LOOP_S * len(ops) <= covered <= wall:
            errors.append(f"pass {p['id']}: op spans cover {covered:.4f}s "
                          f"of a {wall:.4f}s pass")
        for op in ops:
            phases = kids.get(op["id"], [])
            calls = [c for c in phases if c["kind"] == "call"]
            actions = [c for c in phases if c["kind"] == "action"]
            if len(calls) != 1 or len(actions) > 1 or (
                    op["error"] is None and not actions):
                errors.append(f"{op['name']}: {len(calls)} call and "
                              f"{len(actions)} action spans "
                              f"(error: {op['error']})")
                continue
            seq = [op["start"], calls[0]["start"], calls[0]["end"]]
            if actions:
                seq += [actions[0]["start"], actions[0]["end"]]
            if seq + [op["end"]] != sorted(seq + [op["end"]]):
                errors.append(f"{op['name']}: call/action spans out of order")
            for ph in phases:
                for job in kids.get(ph["id"], ()):
                    if not (ph["start"] - STORE_TOL_S <= job["start"]
                            <= ph["end"] + STORE_TOL_S):
                        errors.append(f"{op['name']}: {job['name']} was "
                                      f"submitted outside its {ph['kind']}")
    if not passes:
        errors.append("trace holds no pass spans")
    return errors


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    data = os.path.join(HERE, ".data")
    if len(sys.argv) > 1:
        fx_dir = os.path.abspath(sys.argv[1])
        tag = hashlib.sha1(fx_dir.encode()).hexdigest()[:10]
        oracle_dir = os.path.join(data, f"selftest-oracle-{tag}")
    else:
        import fixture

        fx_dir = os.path.join(data, "selftest-x0.01")
        fixture.build(fx_dir, 0.01, 1234)
        oracle_dir = os.path.join(fx_dir, "_oracle")

    errors: list[str] = []
    for i, w in enumerate(bench["workloads"]):
        name = w["name"]
        wl = run.load_workload(name)
        inject = {"wrong": wl["ops"][1], "raise": wl["ops"][2]} \
            if i == 0 else None
        before = set(glob.glob(os.path.join(HERE, ".traces", "*.json")))
        res = run.execute(name, wl, 0, fx_dir, oracle_dir, 0, True,
                          run.DEADLINE_S, inject)
        if res is None:
            errors.append(f"{name}: no result")
            continue
        for trace in (False, True):
            try:
                m = run.select_metrics(bench, res, trace)
            except ValueError as exc:
                errors.append(f"{name}: {exc}")
                continue
            print(f"{name} {'per_layer' if trace else 'end_to_end'}: "
                  + ", ".join(f"{k}={v['value']:.4g}{v['unit']}"
                              for k, v in m.items()))
        layers = res["per_layer"]
        for key in ("io.load_table_calls", "spark.stages"):
            if not layers.get(key):
                errors.append(f"{name}: {key} is zero")
        new = set(glob.glob(os.path.join(HERE, ".traces", "*.json"))) - before
        if len(new) != 1:
            errors.append(f"{name}: expected one new trace file, got {new}")
        else:
            errors += [f"{name}: {e}" for e in check_trace(new.pop())]
        if inject:
            names = " ".join(res["failures"])
            for kind, op in inject.items():
                if op not in names:
                    errors.append(f"{name}: injected {kind} in {op} "
                                  "not counted as failed")
            print(f"{name} injected: failed={res['failed']} "
                  f"attempted={res['attempted']}")
        elif res["failed"]:
            errors.append(f"{name}: unexpected failures {res['failures']}")
    for e in errors:
        print("SELFTEST FAIL", e)
    print("SELFTEST", "FAILED" if errors else "OK")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
