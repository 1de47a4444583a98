"""Spans around the benchmark's calls into each layer, and the Spark work
each span caused, read from outside the program.

A span records name, start, end, parent and operation id. After a layer
span ends the tracer drains the listener bus and reads, before the status
store can evict them:
  * the jobs the span started, by job-id range (calls run serially, so the
    ids submitted between a span's start and end are its jobs), and for
    each whether it still carried the span's job group;
  * `statusStore().lastStageAttempt` of every stage of those jobs;
  * the Catalyst phases (`queryExecution().tracker().phases()`) of the
    DataFrames the call returned. Queries a call plans internally are not
    visible from outside and are not counted.
Driver residual is the span's wall time minus the union of its jobs'
intervals. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = (
    "sources.xml_source",
    "sources.canonical",
    "sinks.sqlite_sink",
    "sinks.xml_export",
    "plans.compat_queries",
    "plans.storage_queries",
    "operators.dedup",
    "operators.similarity",
    "operators.ngrams",
    "operators.sketches",
    "operators.curation",
)
COUNTERS = {
    "wall_s": "s",
    "driver_residual_s": "s",
    "catalyst_s": "s",
    "jobs": "count",
    "stages": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
TRACE_TOTALS = {
    "trace.jobs_ungrouped": "count",
    "trace.stages_missing": "count",
    "trace.overhead_share": "share",
}
_PHASES = ("analysis", "optimization", "planning")


def units() -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run prints."""
    return {
        f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()
    } | TRACE_TOTALS


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Tracer:
    """Records spans; with `enabled` false, `span` only runs the body."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.jobs_ungrouped = 0
        self.stages_missing = 0
        self._spark = spark
        self._parents: list[int] = []
        self._next_job = 0

    def start(self) -> None:
        """Attribute to spans only the jobs submitted from now on."""
        if self.enabled:
            self._next_job = self._first_unseen_job(self._next_job)

    def _store(self):
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def _first_unseen_job(self, start: int) -> int:
        from py4j.protocol import Py4JJavaError

        store = self._store()
        jid = start
        while True:
            try:
                store.job(jid)
            except Py4JJavaError:
                return jid
            jid += 1

    @contextmanager
    def span(self, name: str, op: str):
        """Time the body as span `name` of operation `op`. A span named
        after a layer also collects that layer's Spark work; the body
        appends to the yielded list the DataFrames the call returned, whose
        Catalyst phases are read afterwards."""
        frames: list = []
        if not self.enabled:
            yield frames
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._parents[-1] if self._parents else None}
        self.spans.append(rec)
        group = f"perfbench-{sid}"
        if name in LAYERS:
            self._spark.sparkContext.setJobGroup(group, name)
        self._parents.append(sid)
        self.overhead_s += time.perf_counter() - t
        rec["start_ms"] = time.time() * 1e3
        try:
            yield frames
        finally:
            rec["end_ms"] = time.time() * 1e3
            self._parents.pop()
            t = time.perf_counter()
            if name in LAYERS:
                self._collect(rec, group, frames)
            self.overhead_s += time.perf_counter() - t

    def _collect(self, rec: dict, group: str, frames) -> None:
        from py4j.protocol import Py4JJavaError

        store = self._store()
        intervals, stage_ids = [], set()
        jid = self._next_job
        while True:
            try:
                job = store.job(jid)
            except Py4JJavaError:
                break
            jid += 1
            g = job.jobGroup()
            if not (g.isDefined() and g.get() == group):
                self.jobs_ungrouped += 1
            sub, done = job.submissionTime(), job.completionTime()
            lo = sub.get().getTime() if sub.isDefined() else rec["start_ms"]
            hi = done.get().getTime() if done.isDefined() else rec["end_ms"]
            lo, hi = max(lo, rec["start_ms"]), min(hi, rec["end_ms"])
            if hi > lo:
                intervals.append((lo, hi))
            stage_ids.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        rec["jobs"] = jid - self._next_job
        self._next_job = jid

        cpu_ns = gc_ms = shuffle = spill = stages = 0
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                self.stages_missing += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages += 1
            cpu_ns += st.executorCpuTime()
            gc_ms += st.jvmGcTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()

        catalyst_ms = 0
        for df in frames:
            phases = df._jdf.queryExecution().tracker().phases()
            for p in _PHASES:
                summary = phases.get(p)
                if summary.isDefined():
                    catalyst_ms += summary.get().durationMs()

        wall_ms = rec["end_ms"] - rec["start_ms"]
        rec.update(
            wall_s=wall_ms / 1e3,
            driver_residual_s=max(wall_ms - _union_ms(intervals), 0.0) / 1e3,
            catalyst_s=catalyst_ms / 1e3,
            stages=stages,
            executor_cpu_s=cpu_ns / 1e9,
            gc_s=gc_ms / 1e3,
            shuffle_write_bytes=shuffle,
            spill_bytes=spill,
        )

    def rollup(self, passes: int, measured_s: float) -> dict[str, float]:
        """Per-layer sums per pass, plus the tracer's own totals."""
        out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        for rec in self.spans:
            if rec["name"] in LAYERS:
                for c in COUNTERS:
                    out[f"{rec['name']}.{c}"] += rec[c] / passes
        out["trace.jobs_ungrouped"] = self.jobs_ungrouped
        out["trace.stages_missing"] = self.stages_missing
        out["trace.overhead_share"] = self.overhead_s / measured_s
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
