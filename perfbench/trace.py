"""Outside-in tracing: spans around calls into the package, joined to
Spark's own status store by job group.

A span records its name, start, end, parent and op id. Spans live in
memory and are written once, at the end of the run. A disabled tracer
records nothing and sets no job group, so untraced runs pay only the
context-manager call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Status-store totals kept per job group (besides the job count).
SPARK_KEYS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_bytes")


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class SparkJobs:
    """Reads jobs and stage metrics by job group from the application's
    status store (``SparkContext.statusStore``), which keeps the last 1000
    jobs; read it right after each op."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._seen = -1

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group)

    def new_jobs(self) -> dict[str, dict]:
        """Per-group totals over the jobs that ended since the last call:
        jobs, tasks, executor run/CPU/GC seconds and shuffle bytes. Jobs
        with no group are totalled under ``None``."""
        from py4j.protocol import Py4JJavaError

        jobs = self._store.jobsList(None)  # newest first
        top, out = self._seen, {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen:
                break
            top = max(top, jid)
            g = j.jobGroup()
            acc = out.setdefault(
                g.get() if g.isDefined() else None,
                {"jobs": 0, **{k: 0 for k in SPARK_KEYS}},
            )
            acc["jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # skipped stage: never ran
                    continue
                acc["tasks"] += st.numCompleteTasks()
                acc["executor_run_s"] += st.executorRunTime() / 1e3
                acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
                acc["gc_s"] += st.jvmGcTime() / 1e3
                acc["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        self._seen = top
        return out


class Tracer:
    """Span recorder. With ``jobs`` set, every span tags the Spark jobs
    started inside it with its own job group; when a top-level (op) span
    ends, the status-store totals of each group are attached to its span,
    and jobs of no span's group that ended meanwhile to the op span."""

    def __init__(self, enabled: bool, jobs: SparkJobs | None = None):
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # tracer bookkeeping, including store reads

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=parent.op if parent else len(self.spans),
            parent=parent.id if parent else None,
            start=0.0,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.jobs is not None:
            self.jobs.set_group(f"span-{s.id}")
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.jobs is not None:
                self.jobs.set_group(f"span-{parent.id}" if parent else None)
                if parent is None:
                    self._attach_jobs(s)
            self.overhead_s += time.perf_counter() - s.end

    def _attach_jobs(self, op: Span) -> None:
        groups = self.jobs.new_jobs()
        for s in reversed(self.spans):  # the op's spans are the newest
            if s.op != op.op:
                break
            got = groups.pop(f"span-{s.id}", None)
            if got is not None:
                s.attrs.update(got)
        # jobs started outside the op's groups, e.g. by a stream's own thread
        for got in groups.values():
            for k, v in got.items():
                op.attrs[k] = op.attrs.get(k, 0) + v

    def op_total(self, op_span: Span, key: str) -> float:
        """Sum of a job metric over an op span and its descendants."""
        return sum(s.attrs.get(key, 0) for s in self.spans if s.op == op_span.op)

    def coverage(self) -> dict[str, float]:
        """Per op name, the median share of an op's wall time that its child
        spans (plan build, action, store call) account for."""
        selfs, kids, out = self_times(self.spans), set(), {}
        for s in self.spans:
            if s.parent is not None:
                kids.add(s.parent)
        for s in self.spans:
            if s.parent is None and s.id in kids and s.duration > 0:
                out.setdefault(s.name, []).append(1 - selfs[s.id] / s.duration)
        return {k: statistics.median(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans], f
            )
