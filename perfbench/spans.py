"""Spans around the benchmark's calls into the engine, with Spark job,
task and byte counters read from the application status store.

A span records the scheduler's next job id at entry and exit, so the
jobs a call submitted are exactly the ids in between: the benchmark is
a single closed-loop client, and operators that submit jobs from
driver threads are counted too (a job-group filter misses those).
Job and stage details are read once, after the run, when the listener
bus has drained; during the run a span costs two Py4J calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-call counters every span reports, with their units
FIELD_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "job_busy_s": "s",
    "driver_s": "s",
    "task_run_s": "s",
    "shuffle_write_bytes": "B",
    "output_bytes": "B",
}


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int | None
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    job_lo: int = 0  # first job id submitted inside the span
    job_hi: int = 0  # one past the last
    counters: dict = field(default_factory=dict)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start_ms, end_ms] intervals, in seconds."""
    total = 0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


class Tracer:
    """Records spans when enabled; a disabled tracer's span() does
    nothing, so untraced runs pay no counter reads."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext._jsc.sc()
        self.overhead_s = 0.0  # time spent reading counters inside spans

    def _next_job_id(self) -> int:
        t = time.perf_counter()
        n = self._sc.dagScheduler().nextJobId()
        self.overhead_s += time.perf_counter() - t
        return n

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            op_id=op_id if op_id is not None else (parent.op_id if parent else None),
            parent=parent.span_id if parent else None,
            start=time.time(),
            job_lo=self._next_job_id(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.job_hi = self._next_job_id()
            s.end = time.time()
            self._stack.pop()

    def resolve(self) -> None:
        """Fill each span's counters from the status store. Call after
        the timed region: it waits for the listener bus to drain so
        every job the spans covered is in the store."""
        if not self.spans:
            return
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs: dict[int, tuple] = {}
        stages: dict[int, tuple] = {}
        for s in self.spans:
            for jid in range(s.job_lo, s.job_hi):
                if jid in jobs:
                    continue
                j = store.job(jid)
                stage_ids = _seq_to_list(j.stageIds())
                for sid in stage_ids:
                    if sid not in stages:
                        st = store.lastStageAttempt(sid)
                        skipped = st.status().toString() == "SKIPPED"
                        stages[sid] = (
                            0 if skipped else st.numCompleteTasks(),
                            st.executorRunTime() / 1000.0,
                            st.shuffleWriteBytes(),
                            st.outputBytes(),
                        )
                sub, comp = j.submissionTime(), j.completionTime()
                interval = (
                    (sub.get().getTime(), comp.get().getTime())
                    if sub.isDefined() and comp.isDefined()
                    else None
                )
                jobs[jid] = (interval, stage_ids)
        for s in self.spans:
            ids = range(s.job_lo, s.job_hi)
            stage_ids = sorted({sid for jid in ids for sid in jobs[jid][1]})
            wall = s.end - s.start
            busy = _union_seconds([jobs[j][0] for j in ids if jobs[j][0]])
            s.counters = {
                "wall_s": wall,
                "jobs": len(ids),
                "tasks": sum(stages[i][0] for i in stage_ids),
                "job_busy_s": busy,
                "driver_s": max(wall - busy, 0.0),
                "task_run_s": sum(stages[i][1] for i in stage_ids),
                "shuffle_write_bytes": sum(stages[i][2] for i in stage_ids),
                "output_bytes": sum(stages[i][3] for i in stage_ids),
            }

    def self_seconds(self, s: Span) -> float:
        """Wall time of `s` not covered by its direct children."""
        kids = [c for c in self.spans if c.parent == s.span_id]
        covered = _union_seconds(
            [(int(c.start * 1000), int(c.end * 1000)) for c in kids]
        )
        return max(s.end - s.start - covered, 0.0)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "span_id": s.span_id,
                    "name": s.name,
                    "op_id": s.op_id,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_seconds(s),
                    **s.counters,
                }
                f.write(json.dumps(rec) + "\n")

    def per_call(self, name: str) -> dict[str, float]:
        """Mean of each counter over the calls of span `name` (0 for
        every field when the workload never made that call)."""
        calls = [s for s in self.spans if s.name == name]
        if not calls:
            return {f: 0 for f in FIELD_UNITS}
        return {f: sum(c.counters[f] for c in calls) / len(calls) for f in FIELD_UNITS}


def _seq_to_list(seq) -> list[int]:
    """A Scala Seq[Int] behind Py4J, as a Python list."""
    out = []
    it = seq.iterator()
    while it.hasNext():
        out.append(int(it.next()))
    return out
