"""Span tracer for the traced run.

A span times one call into a layer from outside the program.  While it
is open, Spark jobs started on this thread carry the span's job group,
so at the end of the run each span's jobs, stages, tasks, task
durations and shuffle bytes are read back from the status tracker and
the application status store (both work with ``spark.ui.enabled=false``).

Lazy DataFrames run where they are consumed, so their jobs bill to the
consuming span.  Jobs started on other threads (the MinHash overlap
thread) carry no group and are counted as unattributed.

Layer functions are wrapped by ``wrap``, which replaces the attribute on
its module or class, and ``deactivate`` restores it; nothing is patched
unless the tracer is activated.  Spans stay in memory until ``resolve``.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    gid: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled by Tracer.resolve
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    tasks: int
    failed: int
    shuffle_bytes: int
    durations: list


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._op = -1
        self._first_job = 0
        self._end_job = 0
        self._stage_cache: dict[int, StageStats] = {}

    # ------------------------------------------------------------ recording
    def activate(self, wraps) -> None:
        """Start recording and install ``wraps``: (owner, attr, span name,
        note) tuples, ``note(span, args, result)`` adding attributes."""
        self._first_job = self._next_job()
        for w in wraps:
            self.wrap(*w)
        self.active = True

    def deactivate(self) -> None:
        if self.active:
            self._end_job = self._next_job()
        self.active = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if sp is not None and note is not None:
                    note(sp, args, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    @contextlib.contextmanager
    def op(self, name: str = "op"):
        """Root span of one closed-loop op (a batch or a round)."""
        self._op += 1
        with self.span(name) as sp:
            yield sp

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sp = Span(name, f"perfbench-{len(self.spans)}",
                  self._stack[-1] if self._stack else None, self._op, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.gid, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.gid, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ read back
    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _next_job(self) -> int:
        self._drain()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def _stage(self, sid: int) -> StageStats:
        if sid not in self._stage_cache:
            store = self.sc._jsc.sc().statusStore()
            jvm = self.sc._jvm
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, self.sc._gateway.new_array(jvm.double, 0))
            tasks = failed = sbytes = 0
            durations = []
            for i in range(attempts.size()):
                a = attempts.apply(i)
                tasks += a.numCompleteTasks()
                failed += a.numFailedTasks()
                sbytes += a.shuffleWriteBytes()
                tl = store.taskList(sid, a.attemptId(), 1_000_000)
                for k in range(tl.size()):
                    d = tl.apply(k).duration()
                    if d.isDefined():
                        durations.append(d.get() / 1000.0)
            self._stage_cache[sid] = StageStats(tasks, failed, sbytes, durations)
        return self._stage_cache[sid]

    def resolve(self) -> dict:
        """Attach jobs and stages to every span; return run-wide Spark
        counters for the traced phase.  Each stage is billed once, to the
        earliest job that lists it (a reused shuffle stage is listed
        again, as skipped, by later jobs)."""
        self._drain()
        st = self.sc.statusTracker()
        job_owner = {}
        for sp in self.spans:
            for j in st.getJobIdsForGroup(sp.gid):
                job_owner[j] = sp
        unattributed = [j for j in st.getJobIdsForGroup(None)
                        if self._first_job <= j < self._end_job]
        claimed: set[int] = set()
        all_stages = []
        for j in sorted(list(job_owner) + unattributed):
            info = st.getJobInfo(j)
            sids = [s for s in (info.stageIds if info else []) if s not in claimed]
            claimed.update(sids)
            all_stages.extend(sids)
            if j in job_owner:
                job_owner[j].jobs.append(j)
                job_owner[j].stages.extend(sids)
        stats = [self._stage(s) for s in all_stages]
        return {
            "jobs": len(job_owner) + len(unattributed),
            "unattributed_jobs": len(unattributed),
            "tasks": sum(s.tasks for s in stats),
            "failed_tasks": sum(s.failed for s in stats),
        }

    # ------------------------------------------------------------ aggregates
    def descendants(self, idx: int) -> list[Span]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(self._children_map.get(i, ()))
        return out

    @functools.cached_property
    def _children_map(self) -> dict[int, list[int]]:
        m: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                m.setdefault(sp.parent, []).append(i)
        return m

    def named(self, name: str) -> list[int]:
        return [i for i, sp in enumerate(self.spans) if sp.name == name]

    def wall(self, name: str) -> float:
        return sum(self.spans[i].wall for i in self.named(name))

    def self_time(self, name: str) -> float:
        ch = self._children_map
        return sum(
            self.spans[i].wall - sum(self.spans[c].wall for c in ch.get(i, ()))
            for i in self.named(name)
        )

    def jobs(self, name: str, inclusive: bool = True) -> int:
        if not inclusive:
            return sum(len(self.spans[i].jobs) for i in self.named(name))
        return sum(len(d.jobs) for i in self.named(name) for d in self.descendants(i))

    def _stages(self, name: str) -> list[StageStats]:
        return [self._stage(s) for i in self.named(name)
                for d in self.descendants(i) for s in d.stages]

    def tasks(self, name: str) -> int:
        return sum(s.tasks for s in self._stages(name))

    def shuffle_bytes(self, name: str) -> int:
        return sum(s.shuffle_bytes for s in self._stages(name))

    def task_skew(self, name: str) -> float:
        """Max over median task time of each span's heaviest stage (the
        one with the most task time), averaged over the spans."""
        skews = []
        for i in self.named(name):
            stages = [self._stage(s) for d in self.descendants(i) for s in d.stages]
            stages = [s for s in stages if len(s.durations) >= 2]
            if not stages:
                continue
            heavy = max(stages, key=lambda s: sum(s.durations))
            med = sorted(heavy.durations)[len(heavy.durations) // 2]
            skews.append(max(heavy.durations) / med if med > 0 else 1.0)
        return sum(skews) / len(skews) if skews else 0.0

    def coverage(self, name: str = "op") -> float:
        """Smallest share of an op's wall time covered by its child spans."""
        ch = self._children_map
        shares = [
            sum(self.spans[c].wall for c in ch.get(i, ())) / self.spans[i].wall
            for i in self.named(name) if self.spans[i].wall > 0
        ]
        return min(shares) if shares else 0.0
