#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload curator_batch --seed 1234 \\
        --seconds 8 --trace 0

Run from the repository root. Steps, each outside the timed regions:

1. build the seeded fixture under ``perfbench/.data`` (skipped when a
   matching ``_COMPLETE`` marker exists; its build time is printed, never
   part of ``setup_s``);
2. cache the DuckDB oracle answer of every op in the mix beside it;
3. start ``worker.py`` as its own process group with only
   ``SPARK_GRAFT_CPUS=<cores>``, ``SPARK_LOCAL_DIRS``, ``PYTHONPATH`` (repo
   root, for Python workers) and temp-dir variables pointing inside the
   run's work directory; every other ``SPARK_GRAFT_*`` knob is removed so
   the engine's own session defaults are what gets measured;
4. stop every process of that group, then print the result as the last
   stdout line: ``{"correct", "attempted", "failed", "metrics"}`` with the
   ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
   ``per_layer`` metrics (``--trace 1``).

Exits non-zero without a result line when the engine package is missing
or the run fails.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: a run must end within this many seconds of its start
DEADLINE_S = 170
#: fixture directories kept under .data (oldest removed first)
KEEP_FIXTURES = 8


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prune_fixtures(data_dir: str, keep: str) -> None:
    dirs = sorted((os.path.join(data_dir, d) for d in os.listdir(data_dir)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_FIXTURES:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def worker_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(cfg: dict, work: str, timeout: float) -> dict | None:
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=work, env=worker_env(work), start_new_session=True,
        stdout=sys.stdout, stderr=sys.stderr)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {timeout:.0f}s", file=sys.stderr)
    finally:
        stop_group(proc)
    try:
        with open(cfg["result"]) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def load_workload(name: str) -> dict | None:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)["workloads"].get(name)


def oracle_sql(ops: list[str]) -> dict[str, str]:
    sys.path.insert(0, ROOT)
    from manual_data_ingest_spark import registry

    sql = registry.all_oracles()
    return {op: sql[op] for op in ops}


def execute(workload: str, wl: dict, seed: int, fixture_dir: str,
            oracle_dir: str, seconds: float, trace: bool, timeout: float,
            inject: dict | None = None) -> dict | None:
    """Run the worker for one workload; return its result or None."""
    import oracle

    meta = oracle.load_meta(oracle_dir)
    missing = [op for op in wl["ops"] if op not in meta]
    if missing:
        meta = oracle.build(fixture_dir, oracle_dir, oracle_sql(missing),
                            cores())
    print("# duckdb_s " + json.dumps(
        {op: round(meta[op]["duckdb_s"], 4) for op in wl["ops"]}),
        flush=True)
    work = os.path.join(HERE, ".work",
                        f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    os.makedirs(work)
    run_id = f"{workload}-{seed}-{int(time.time() * 1e3)}"
    trace_dir = os.path.join(HERE, ".traces")
    os.makedirs(trace_dir, exist_ok=True)
    cfg = {"workload": workload, "seed": seed, "run_id": run_id,
           "ops": wl["ops"], "warmup_passes": wl["warmup_passes"],
           "fixture_dir": fixture_dir, "oracle_dir": oracle_dir,
           "seconds": seconds, "trace": trace,
           "inject": inject, "result": os.path.join(work, "result.json"),
           "trace_out": os.path.join(trace_dir, f"{run_id}.json")}
    try:
        return run_worker(cfg, work, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def select_metrics(bench: dict, res: dict, trace: bool) -> dict:
    """The BENCHMARK.json metrics of one kind, with units; raises
    ValueError if the run did not produce one of them."""
    key = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in bench[key]:
        v = res[key].get(m["name"])
        if v is None or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics


def main() -> None:
    t_start = time.monotonic()
    # a terminated run still stops its worker group (finally in run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(
            ROOT, "manual_data_ingest_spark", "registry.py")):
        fail(f"engine package manual_data_ingest_spark not found in {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wl = load_workload(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}")

    import fixture

    data = os.path.join(HERE, ".data")
    fx_dir = os.path.join(data, f"x{wl['scale']}-s{args.seed}")
    stats = fixture.build(fx_dir, wl["scale"], args.seed)
    os.utime(fx_dir)
    prune_fixtures(data, fx_dir)
    print("# fixture " + json.dumps(stats), flush=True)

    res = execute(args.workload, wl, args.seed, fx_dir,
                  os.path.join(fx_dir, "_oracle"), args.seconds,
                  bool(args.trace), DEADLINE_S - (time.monotonic() - t_start))
    if res is None:
        fail("worker produced no result")
    try:
        metrics = select_metrics(bench, res, bool(args.trace))
    except ValueError as exc:
        fail(str(exc))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
