"""One benchmark run inside one Spark driver process (started by run.py).

    python3 perfbench/worker.py CONFIG_JSON

The run is one closed-loop client: ops run in mix order, each starting
after the previous one finished.

1. Set up once, cold: ``setup_s`` runs from the start of this process
   through ``session.get_spark`` (which launches the JVM),
   ``registry.all_queries`` (which imports the operator catalog) and
   resolving every fixture table through ``io.load_table`` (each one a
   cache miss).
2. Check pass, untimed: each op's result is collected and compared with
   its cached DuckDB answer. It is also the warm-up pass, in which lazy
   per-session state (index caches, codegen, JIT) fills.
3. ``warmup_passes`` untimed passes with a noop sink: the JIT keeps
   compiling for several passes, and pass times keep falling meanwhile.
4. Timed passes with a noop sink for ``seconds``, and at least three, so
   that the medians drop one pass slowed by a neighbour on the host. With
   tracing on, traced and untraced passes alternate (traced first), at
   least two of each.

The result JSON goes to ``CONFIG["result"]``; human-readable lines go to
stdout.
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from tracing import Tracer, union_s  # noqa: E402


#: fewest timed passes per run
MIN_PASSES = 3

#: stage-span attributes summed into ``spark.<name>`` per pass
STAGE_SUMS = ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "input_mb", "output_mb", "output_records")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.ops: list[str] = cfg["ops"]
        self.fixture = cfg["fixture_dir"]
        self.tracer = Tracer(cfg["run_id"]) if cfg["trace"] else None
        # wall clock = perf_counter + offset, so spans line up with the
        # status store's epoch-millisecond stage times
        self.clock = time.time() - time.perf_counter()
        self.spark = None
        self.fns: dict = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s = float("nan")
        self.layer_setup: dict[str, float] = {}

    # -- set-up ------------------------------------------------------
    def setup(self) -> None:
        if self.tracer is not None:
            self.tracer.install_io()
        from manual_data_ingest_spark import io, registry
        from manual_data_ingest_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        queries = registry.all_queries()
        t3 = time.perf_counter()
        self.fns = {op: queries[op] for op in self.ops}
        self._inject()
        for name in io.TABLES:
            io.load_table(self.spark, self.fixture, name)
        t4 = time.perf_counter()
        self.setup_s = t4 - T_START
        print(f"# setup: total={self.setup_s:.3f}s "
              f"imports={t1 - T_START:.3f}s get_spark={t2 - t1:.3f}s "
              f"all_queries={t3 - t2:.3f}s tables={t4 - t3:.3f}s", flush=True)
        self.layer_setup = {"session.get_spark_s": t2 - t1,
                            "registry.all_queries_s": t3 - t2,
                            "io.resolve_tables_s": t4 - t3}

    def _inject(self) -> None:
        """Self-test hooks: make one op answer wrong, one op raise."""
        inject = self.cfg.get("inject") or {}
        if "wrong" in inject:
            good = self.fns[inject["wrong"]]

            def wrong(s, d):
                df = good(s, d)
                return df.union(df.limit(1))  # one extra row
            self.fns[inject["wrong"]] = wrong
        if "raise" in inject:
            def boom(s, d):
                raise RuntimeError("injected failure")
            self.fns[inject["raise"]] = boom

    # -- check pass --------------------------------------------------
    def check(self) -> dict[str, float]:
        """Run every op once, compare with the oracle; return the time
        each op's own call and collect took (untimed in the metrics)."""
        meta = oracle.load_meta(self.cfg["oracle_dir"])
        first: dict[str, float] = {}
        for op in self.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.fns[op](self.spark, self.fixture).toPandas()
                first[op] = time.perf_counter() - t0
                why = oracle.mismatch(got, oracle.load(
                    self.cfg["oracle_dir"], op), meta[op]["columns"])
            except Exception as exc:  # a failing op is counted, not fatal
                why = f"{type(exc).__name__}: {str(exc)[:300]}"
            if why:
                self.failures.append(f"{op}: {why}")
                print(f"# FAIL check {op}: {why}", flush=True)
        return first

    # -- timed passes ------------------------------------------------
    def run_pass(self, traced: bool) -> dict:
        tr = self.tracer if traced else None
        lat: dict[str, float] = {}
        if tr is not None:
            tr.counters.clear()
            tr.active = True
            pass_id = tr.span("pass", "pass", None, 0.0, 0.0)
        p0 = time.perf_counter()
        for op in self.ops:
            self.attempted += 1
            fn = self.fns[op]
            if tr is not None:
                op_id = tr.span(op, "op", pass_id, 0.0, 0.0,
                                module=fn.__module__)
                call_id = tr.span("call", "call", op_id, 0.0, 0.0)
                tr.job_group(self.spark, call_id)
            action_id = t1 = error = None
            t0 = time.perf_counter()
            try:
                df = fn(self.spark, self.fixture)
                t1 = time.perf_counter()
                if tr is not None:
                    action_id = tr.span("action", "action", op_id, 0.0, 0.0)
                    tr.job_group(self.spark, action_id)
                df.write.mode("overwrite").format("noop").save()
                lat[op] = time.perf_counter() - t0
            except Exception as exc:  # a failing op is counted, not fatal
                error = f"{type(exc).__name__}: {str(exc)[:300]}"
                self.failures.append(f"{op}: {error}")
                print(f"# FAIL run {self.failures[-1]}", flush=True)
            t2 = time.perf_counter()
            if tr is not None:
                t1 = t2 if t1 is None else t1
                self._close(op_id, t0, t2, latency_s=t2 - t0, error=error)
                self._close(call_id, t0, t1, dur_s=t1 - t0)
                if action_id is not None:
                    self._close(action_id, t1, t2, dur_s=t2 - t1)
        wall = time.perf_counter() - p0
        out = {"wall": wall, "lat": lat, "traced": traced}
        if tr is not None:
            tr.active = False
            self._close(pass_id, p0, p0 + wall)
            out["counters"] = dict(tr.counters)
            out["span"] = pass_id
            self.spark.sparkContext.setJobGroup(None, None, False)
        return out

    def _close(self, span_id: int, start: float, end: float, **attrs):
        s = self.tracer.spans[span_id - 1]
        s["start"], s["end"] = self.clock + start, self.clock + end
        s.update(attrs)

    def measure(self) -> list[dict]:
        """``warmup_passes`` untimed passes, then the timed passes: at
        least ``MIN_PASSES``, for at least ``seconds``."""
        for _ in range(self.cfg["warmup_passes"]):
            self.run_pass(False)
        seconds = self.cfg["seconds"]
        passes: list[dict] = []
        # traced runs alternate kinds and need two of each for a median
        need = 4 if self.tracer is not None else MIN_PASSES
        t0 = time.perf_counter()
        while True:
            traced = self.tracer is not None and len(passes) % 2 == 0
            passes.append(self.run_pass(traced))
            if traced:
                self.tracer.collect_stages(self.spark)
            if time.perf_counter() - t0 >= seconds and len(passes) >= need:
                return passes

    # -- metrics -----------------------------------------------------
    def end_to_end(self, passes: list[dict]) -> dict[str, float]:
        plain = [p for p in passes if not p["traced"]]
        per_op = {op: [p["lat"][op] for p in plain if op in p["lat"]]
                  for op in self.ops}
        medians = [_median(v) for v in per_op.values() if v]
        samples = [x for v in per_op.values() for x in v]
        print("# pass_s " + " ".join(f"{p['wall']:.3f}" for p in plain),
              flush=True)
        if samples:
            print(f"# op latency p50={_percentile(samples, 0.5):.4f}s "
                  f"p90={_percentile(samples, 0.9):.4f}s n={len(samples)}",
                  flush=True)
        for op, v in per_op.items():
            print(f"# op {op:32s} median={_median(v):.4f}s n={len(v)}",
                  flush=True)
        return {
            "setup_s": self.setup_s,
            "pass_s": _median([p["wall"] for p in plain]),
            "op_geomean_s": math.exp(statistics.fmean(
                math.log(m) for m in medians)) if medians else float("nan"),
        }

    def per_layer(self, passes: list[dict]) -> dict[str, float]:
        kids = self.tracer.children()
        cores = self.spark.sparkContext.defaultParallelism
        rows: list[dict[str, float]] = []
        modules: dict[str, list[dict[str, float]]] = {}
        for p in passes:
            if not p["traced"]:
                continue
            c = p["counters"]
            row = {
                "io.load_table_calls": c.get("io.load_table_calls", 0.0),
                "io.load_table_s": c.get("io.load_table_s", 0.0),
                "io.table_cache_hit_ratio": c.get("io.load_table_hits", 0.0)
                / max(c.get("io.load_table_calls", 0.0), 1.0),
                "io.fan_out_calls": c.get("io.fan_out_calls", 0.0),
                "io.fan_out_s": c.get("io.fan_out_s", 0.0),
                "io.fan_out_repartition_ratio":
                    c.get("io.fan_out_repartitions", 0.0)
                    / max(c.get("io.fan_out_calls", 0.0), 1.0),
                "op.call_s": 0.0, "op.action_s": 0.0,
                "spark.jobs": 0.0, "spark.stages": 0.0, "spark.tasks": 0.0,
                "spark.driver_gap_s": 0.0, "spark.executor_run_s": 0.0,
                "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
                "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0,
                "spark.spill_mb": 0.0, "spark.input_mb": 0.0,
                "spark.output_mb": 0.0, "spark.output_records": 0.0,
                "spark.failed_tasks": 0.0,
                "trace.pass_s": p["wall"],
            }
            pm: dict[str, dict[str, float]] = {}
            for op_span in kids.get(p["span"], ()):
                acc = pm.setdefault(op_span["module"],
                                    {"call": 0.0, "action": 0.0})
                for phase in kids.get(op_span["id"], ()):
                    row[f"op.{phase['kind']}_s"] += phase["dur_s"]
                    acc[phase["kind"]] += phase["dur_s"]
                    stage_iv = []
                    for job in kids.get(phase["id"], ()):
                        row["spark.jobs"] += 1
                        for st in kids.get(job["id"], ()):
                            row["spark.stages"] += 1
                            for k in STAGE_SUMS:
                                row[f"spark.{k}"] += st[k]
                            lo = max(st["start"], phase["start"])
                            hi = min(st["end"], phase["end"])
                            if hi > lo:
                                stage_iv.append((lo, hi))
                    if phase["kind"] == "action":
                        row["spark.driver_gap_s"] += (
                            phase["dur_s"] - union_s(stage_iv))
            row["spark.core_busy_ratio"] = row["spark.executor_run_s"] / (
                p["wall"] * cores)
            rows.append(row)
            for mod, acc in pm.items():
                modules.setdefault(mod, []).append(acc)
        out = {k: _median([r[k] for r in rows]) for k in rows[0]}
        out.update(self.layer_setup)
        out["session.peak_rss_mb"] = _peak_rss_mb(self.spark)
        plain = [p["wall"] for p in passes if not p["traced"]]
        out["trace.overhead_s"] = out["trace.pass_s"] - _median(plain)
        for mod, vals in sorted(modules.items()):
            short = mod.replace("manual_data_ingest_spark.", "")
            print(f"# layer {short}.call_s="
                  f"{_median([v['call'] for v in vals]):.4f} "
                  f"{short}.action_s="
                  f"{_median([v['action'] for v in vals]):.4f}", flush=True)
        return out

    def session_line(self) -> None:
        from manual_data_ingest_spark.session import ENGINE_CONFIGS

        conf = self.spark.conf
        eff = {k: conf.get(k, None) for k in ENGINE_CONFIGS}
        eff["spark.master"] = self.spark.sparkContext.master
        eff["spark.driver.memory"] = conf.get("spark.driver.memory", None)
        eff["defaultParallelism"] = \
            self.spark.sparkContext.defaultParallelism
        print("# session " + json.dumps(eff, sort_keys=True), flush=True)


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    run = Run(cfg)
    run.setup()
    run.session_line()
    first = run.check()
    print("# check pass " + json.dumps(
        {k: round(v, 4) for k, v in first.items()}), flush=True)
    passes = run.measure()
    result = {"end_to_end": run.end_to_end(passes), "per_layer": {}}
    if run.tracer is not None:
        result["per_layer"] = run.per_layer(passes)
        run.tracer.write(cfg["trace_out"], {
            "workload": cfg["workload"], "seed": cfg["seed"], **result})
    result.update(attempted=run.attempted, failed=len(run.failures),
                  failures=run.failures, passes=len(passes))
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    # run.py kills the process group (JVM, Python workers) once this
    # process is gone; a graceful SparkContext stop would only add seconds
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
