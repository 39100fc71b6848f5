"""Spans around calls into the engine's layers, plus Spark's own counts.

The benchmark records spans only in its own code, around calls into each
layer's public functions; it reads nothing from inside the program.  With
tracing on, every span sets a Spark job group.  After the span ends, and
outside the timed window, the tracer drains Spark's listener bus and reads
the status tracker and the status store (``lastStageAttempt``) for the
group's jobs and stages.  Spans stay in memory and are written out when the
run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = ("task_run_s", "task_cpu_s", "task_gc_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "result_bytes",
                "spill_bytes")


def _stage_record(d) -> dict:
    sub, done = d.submissionTime(), d.completionTime()
    name = d.name()
    return {
        "status": d.status().toString(),
        "tasks": int(d.numTasks()),
        "task_run_s": d.executorRunTime() / 1e3,
        "task_cpu_s": d.executorCpuTime() / 1e9,
        "task_gc_s": d.jvmGcTime() / 1e3,
        "input_bytes": int(d.inputBytes()),
        "shuffle_read_bytes": int(d.shuffleReadBytes()),
        "shuffle_write_bytes": int(d.shuffleWriteBytes()),
        "result_bytes": int(d.resultSize()),
        "spill_bytes": int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled()),
        "submit_ms": sub.get().getTime() if sub.isDefined() else None,
        "done_ms": done.get().getTime() if done.isDefined() else None,
        # Spark names a stage "<action> at <file>:<line>", the caller's site
        "callsite": os.path.basename(name.rsplit(" at ", 1)[-1].split(":")[0]),
    }


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans for one run.  Disabled, ``span`` records nothing and touches
    no Spark state, so untraced runs pay nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._pending: list[dict] = []
        self.collect_s = 0.0  # time spent reading Spark's status store
        self._sc = spark.sparkContext if enabled else None

    @contextmanager
    def span(self, name: str, op: str | None = None, group: bool = True,
             **attrs):
        """Time the block as span ``name``.  With ``group`` the block's
        Spark jobs run under the span's own job group; a span whose
        children do all the work passes ``group=False`` and so adds no
        bookkeeping of its own."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        # setting and restoring the job group falls inside the span, so a
        # parent's self time is only its own code
        rec["start"] = time.time()
        t0 = time.perf_counter()
        if group:
            self._groups.append(f"perfbench-{sid}")
            self._sc.setJobGroup(self._groups[-1], name)
        try:
            yield rec
        finally:
            self._stack.pop()
            if group:
                self._groups.pop()
                self._sc.setLocalProperty(
                    "spark.jobGroup.id", self._groups[-1] if self._groups else None)
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._pending.append(rec)
            if not self._stack:
                # only once the outermost span has ended, so that reading
                # the status store never falls inside a timed span
                c0 = time.perf_counter()
                self._sc._jsc.sc().listenerBus().waitUntilEmpty()
                for r in self._pending:
                    self._collect(r)
                self._pending.clear()
                self.collect_s += time.perf_counter() - c0

    def _collect(self, rec: dict) -> None:
        sc = self._sc
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
        stages = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = _stage_record(store.lastStageAttempt(int(s)))
                if st["status"] != "SKIPPED":
                    stages.append(st)
        rec["jobs"] = len(jobs)
        rec["stages"] = len(stages)
        rec["tasks"] = sum(s["tasks"] for s in stages)
        for f in STAGE_FIELDS:
            rec[f] = sum(s[f] for s in stages)
        by_site: dict[str, float] = {}
        for s in stages:
            by_site[s["callsite"]] = by_site.get(s["callsite"], 0.0) + s["task_cpu_s"]
        rec["task_cpu_s_by_callsite"] = by_site
        ivals = [(s["submit_ms"] / 1e3, s["done_ms"] / 1e3) for s in stages
                 if s["submit_ms"] is not None and s["done_ms"] is not None]
        rec["stage_s"] = covered_s(ivals, rec["start"], rec["end"])
        rec["driver_s"] = rec["wall_s"] - rec["stage_s"]

    def self_s(self, rec: dict) -> float:
        """Span wall time minus the part its child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == rec["id"]]
        return rec["wall_s"] - covered_s(kids, rec["start"], rec["end"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": self.self_s(s)}) + "\n")
