"""Spans around the public calls the benchmark makes, with the Spark
work each one caused.

A span records name, start, end, parent and request id. With tracing
on, each span also runs under its own Spark job group
(``SparkContext.setJobGroup``); at the end of the run the status
tracker gives the jobs, stages and tasks of each group. Those are the
span's own (self) counts; a span's inclusive counts add its children's.
Spans stay in memory and are written out once, at the end of the run.
With tracing off, ``span`` only yields: no clock reads, no job groups.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

COUNT_KEYS = ("jobs", "stages", "tasks", "tasks_skipped", "tasks_failed")
# the status store keeps 1000 jobs/stages by default; a traced run reads
# them all back at the end
RETAIN_CONF = "spark.ui.retainedJobs=1000000;spark.ui.retainedStages=1000000"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    counts: dict[str, int] = field(default_factory=lambda: dict.fromkeys(COUNT_KEYS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._sc = None
        self._stack: list[Span] = []
        self._origin = time.perf_counter()

    def attach(self, sc) -> None:
        """Start counting Spark work; spans before this carry no counts.
        The session must retain every job of the run (see
        ``RETAIN_CONF``), because counts are read at the end."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.sid if parent else None,
            request if request is not None else (parent.request if parent else None),
            t0 - self._origin,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2 - self._origin
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` on this instance by a spanned call."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, spanned)

    # ------------------------------------------------------------ spark
    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{sp.sid}", sp.name)

    def finish(self) -> None:
        """Fill every span's counts once the listener bus has drained.
        A stage that a job lists but that ran in an earlier job, or
        never ran, counts as skipped (a reused shuffle)."""
        if not self.enabled or self._sc is None:
            return
        t0 = time.perf_counter()
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        jobs = sorted(
            (jid, sp)
            for sp in self.spans
            for jid in st.getJobIdsForGroup(f"perfbench-{sp.sid}")
        )
        seen_stages: set[int] = set()
        for jid, sp in jobs:  # job order, so a reused stage counts once
            info = st.getJobInfo(jid)
            if info is None:
                continue
            c = sp.counts
            c["jobs"] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                ran = stage.numCompletedTasks + stage.numFailedTasks
                if sid in seen_stages or ran == 0:
                    c["tasks_skipped"] += stage.numTasks
                    continue
                seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += stage.numCompletedTasks
                c["tasks_failed"] += stage.numFailedTasks
        self.overhead_s += time.perf_counter() - t0

    # ---------------------------------------------------------- reports
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (children of one span never overlap: one client, one thread)."""
        child = dict.fromkeys(range(len(self.spans)), 0.0)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        return {sp.sid: sp.duration - child[sp.sid] for sp in self.spans}

    def inclusive_counts(self) -> dict[int, dict[str, int]]:
        inc = {sp.sid: dict(sp.counts) for sp in self.spans}
        for sp in reversed(self.spans):  # children come after parents
            if sp.parent is not None:
                for k in COUNT_KEYS:
                    inc[sp.parent][k] += inc[sp.sid][k]
        return inc

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, inclusive counts."""
        selfs, inc = self.self_times(), self.inclusive_counts()
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(
                sp.name,
                {"calls": 0, "total_s": 0.0, "self_s": 0.0, **dict.fromkeys(COUNT_KEYS, 0)},
            )
            agg["calls"] += 1
            agg["total_s"] += sp.duration
            agg["self_s"] += selfs[sp.sid]
            for k in COUNT_KEYS:
                agg[k] += inc[sp.sid][k]
        return out

    def dump(self) -> list[dict]:
        selfs, inc = self.self_times(), self.inclusive_counts()
        return [
            {
                "id": sp.sid, "name": sp.name, "parent": sp.parent,
                "request": sp.request, "start_s": round(sp.start, 6),
                "end_s": round(sp.end, 6), "self_s": round(selfs[sp.sid], 6),
                "counts": sp.counts, "inclusive_counts": inc[sp.sid],
            }
            for sp in self.spans
        ]
