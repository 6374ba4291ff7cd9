"""Spans around the benchmark's calls into engine layers, plus the Spark
jobs each operation ran.

A span records (op id, name, start, end, parent). Spans stay in memory and
are written once, when the run ends. Spark jobs are attributed to an
operation by job id: the largest known job id is read before the op, and
every job with a larger id, once the listener bus has drained, belongs to
it. A job group would not work here: ``build_index`` submits jobs from its
own thread pool, and under pinned-thread mode a group set by the caller
does not reach those threads. Inside an op, a job belongs to the innermost
span whose interval holds the job's submission time.

``NullTracer`` is what untraced runs use: its spans cost one attribute
lookup and record nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None


@dataclass
class JobStats:
    job_id: int
    submitted: float
    completed: float
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    result_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class OpRecord:
    op: int
    kind: str
    start: float
    end: float = 0.0
    jobs: list[JobStats] = field(default_factory=list)

    def driver_ms(self) -> float:
        """Op wall time minus the union of its jobs' submit-to-complete
        intervals (clipped to the op)."""
        iv = sorted(
            (max(j.submitted, self.start), min(j.completed, self.end))
            for j in self.jobs
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return 1000.0 * (self.end - self.start - covered)


class NullTracer:
    enabled = False

    def span(self, name: str):
        return nullcontext()

    def op(self, kind: str):
        return nullcontext()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[Span] = []
        self._op: OpRecord | None = None

    # ---------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        if self._op is None:
            raise RuntimeError(f"span {name!r} opened outside an op")
        sp = Span(self._op.op, name, time.time(),
                  parent=self._stack[-1].name if self._stack else None)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)

    @contextmanager
    def op(self, kind: str):
        self._drain()
        first = self._max_job_id() + 1
        rec = OpRecord(len(self.ops), kind, time.time())
        self._op = rec
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._op = None
            self._drain()
            rec.jobs = [self._job(j) for j in self._job_ids() if j >= first]
            self.ops.append(rec)

    # ---------------------------------------------------------------- spark
    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(None))

    def _max_job_id(self) -> int:
        ids = self._job_ids()
        return ids[-1] if ids else -1

    def _job(self, job_id: int) -> JobStats:
        store = self._jsc.statusStore()
        jd = store.job(job_id)
        sub = jd.submissionTime()
        done = jd.completionTime()
        js = JobStats(
            job_id,
            sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
        )
        for sid in _seq(jd.stageIds()):
            try:
                attempts = _seq(store.stageData(sid, False, None, False, None))
            except Py4JError:
                continue  # never submitted (skipped): no stage data
            for sd in attempts:
                if sd.status().toString() == "SKIPPED":
                    continue
                js.stages += 1
                js.tasks += sd.numTasks()
                js.run_ms += sd.executorRunTime()
                js.cpu_ms += sd.executorCpuTime() / 1e6
                js.gc_ms += sd.jvmGcTime()
                js.result_bytes += sd.resultSize()
                js.shuffle_write_bytes += sd.shuffleWriteBytes()
                js.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return js

    # -------------------------------------------------------------- queries
    def span_ms(self, name: str, op: OpRecord) -> float:
        return 1000.0 * sum(
            s.end - s.start for s in self.spans if s.op == op.op and s.name == name
        )

    def span_jobs(self, name: str, op: OpRecord) -> list[JobStats]:
        """Jobs of ``op`` submitted inside a span called ``name`` (job
        times have millisecond resolution, hence the slack)."""
        own = [s for s in self.spans if s.op == op.op and s.name == name]
        return [
            j for j in op.jobs
            if any(s.start - 1e-3 <= j.submitted <= s.end + 1e-3 for s in own)
        ]

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
            for o in self.ops:
                f.write(json.dumps({
                    "op": o.op, "kind": o.kind, "start": o.start, "end": o.end,
                    "jobs": [j.__dict__ for j in o.jobs],
                }) + "\n")
