"""Outside-in tracing for the traced benchmark run.

Nothing here edits the engine. Layer timings come from wrapping the
engine's public functions from the benchmark process, and Spark execution
numbers from the Spark driver's status store (no UI, no extra jar):

- ``io.load_table`` and ``io.fan_out`` are replaced on the ``io`` module
  *before* the operator catalog is imported, because operator modules bind
  both by name at import time (``from ...io import fan_out, load_table``);
  the few that import ``fan_out`` inside a function body resolve it
  through the module and see the wrapper too;
- each op call and each op action runs under its own Spark job group, so
  its jobs and stages can be read back from the status store after the
  pass, outside the timed region.

All spans of a run carry one run id, live in memory and are written out
once at the end. Span kinds nest pass > op > call|action > job > stage.
"""
from __future__ import annotations

import functools
import json
import time


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans and layer counters of one traced run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._next = 0
        self._groups: list[tuple[int, str]] = []

    # -- spans -------------------------------------------------------
    def span(self, name: str, kind: str, parent: int | None,
             start: float, end: float, **attrs) -> int:
        """Record a span (wall-clock seconds) and return its id. A span
        opened before its end is known is closed by updating it in place."""
        self._next += 1
        self.spans.append({"run": self.run_id, "id": self._next,
                           "parent": parent, "name": name, "kind": kind,
                           "start": start, "end": end, **attrs})
        return self._next

    def job_group(self, spark, span_id: int) -> None:
        """Run the next jobs under a group tied to span ``span_id``."""
        group = f"{self.run_id}:{span_id}"
        spark.sparkContext.setJobGroup(group, group, False)
        self._groups.append((span_id, group))

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    # -- io wrappers -------------------------------------------------
    def install_io(self) -> None:
        """Wrap ``io.load_table`` / ``io.fan_out``; call before the
        operator catalog is imported."""
        from manual_data_ingest_spark import io

        load_table, fan_out = io.load_table, io.fan_out

        @functools.wraps(load_table)
        def traced_load_table(spark, sf_dir, name):
            if not self.active:
                return load_table(spark, sf_dir, name)
            cache = getattr(spark, "_mdis_table_cache", None) or {}
            hit = (sf_dir, name) in cache
            t0 = time.perf_counter()
            try:
                return load_table(spark, sf_dir, name)
            finally:
                self.add("io.load_table_s", time.perf_counter() - t0)
                self.add("io.load_table_calls", 1)
                self.add("io.load_table_hits", hit)

        @functools.wraps(fan_out)
        def traced_fan_out(df):
            if not self.active:
                return fan_out(df)
            t0 = time.perf_counter()
            try:
                out = fan_out(df)
            finally:
                self.add("io.fan_out_s", time.perf_counter() - t0)
                self.add("io.fan_out_calls", 1)
            self.add("io.fan_out_repartitions", out is not df)
            return out

        io.load_table, io.fan_out = traced_load_table, traced_fan_out

    # -- status store ------------------------------------------------
    def collect_stages(self, spark) -> None:
        """Turn the job groups run since the last call into job and stage
        spans under their call/action spans."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        no_status = sc._jvm.java.util.ArrayList()
        for span_id, group in self._groups:
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                job = store.job(job_id)
                job_span = self.span(
                    f"job {job_id}", "job", span_id,
                    _ms(job.submissionTime()), _ms(job.completionTime()))
                ids = job.stageIds()
                for i in range(ids.size()):
                    attempts = store.stageData(ids.apply(i), False,
                                               no_status, False,
                                               no_quantiles)
                    for k in range(attempts.size()):
                        self._stage_span(attempts.apply(k), job_span)
        self._groups.clear()

    def _stage_span(self, s, parent: int) -> None:
        if s.status().toString() == "SKIPPED":
            return
        self.span(f"stage {s.stageId()}.{s.attemptId()}", "stage", parent,
                  _ms(s.submissionTime()), _ms(s.completionTime()),
                  tasks=s.numTasks(), failed_tasks=s.numFailedTasks(),
                  executor_run_s=s.executorRunTime() / 1e3,
                  executor_cpu_s=s.executorCpuTime() / 1e9,
                  gc_s=s.jvmGcTime() / 1e3,
                  input_mb=s.inputBytes() / 1e6,
                  output_mb=s.outputBytes() / 1e6,
                  output_records=s.outputRecords(),
                  shuffle_read_mb=s.shuffleReadBytes() / 1e6,
                  shuffle_write_mb=s.shuffleWriteBytes() / 1e6,
                  spill_mb=s.diskBytesSpilled() / 1e6)

    # -- derived numbers ---------------------------------------------
    def children(self) -> dict[int | None, list[dict]]:
        kids: dict[int | None, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part of
        its interval that its children cover."""
        kids = self.children()
        for s in self.spans:
            covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                       for c in kids.get(s["id"], ())]
            s["self_s"] = (s["end"] - s["start"]) - union_s(
                [iv for iv in covered if iv[1] > iv[0]])

    def write(self, path: str, extra: dict) -> None:
        self.self_times()
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans},
                      fh)


def _ms(opt) -> float:
    """Wall-clock seconds of a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else float("nan")
