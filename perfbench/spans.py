"""Span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: :meth:`Tracer.patch`
replaces a module attribute or class method with a wrapper that opens a
span around the original call, and :meth:`Tracer.restore` puts the
original back. The program's source is never changed.

Each span sets its own Spark job group, so every Spark job is attributed
to the innermost span that launched it. Job, stage and task counts and
job start/end times are read from the Spark status store after the timed
loop, so the only work done inside the timed region is two job-group
calls per span; that work is timed too and reported as the tracing
overhead.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float = 0.0
    t1: float = 0.0
    #: filled by :meth:`Tracer.resolve_jobs`: (submit_s, end_s, stages,
    #: tasks, failed_tasks) per Spark job launched directly in this span
    jobs: list[tuple[float, float, int, int, int]] = field(default_factory=list)
    #: values the caller attaches (rows, bytes) for ratio metrics
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        #: time spent inside the tracer's own enter/exit code
        self.overhead_s = 0.0

    # -- spans --------------------------------------------------------------

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.t0 = time.time()
        self.overhead_s += time.perf_counter() - b0
        try:
            yield s
        finally:
            s.t1 = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.overhead_s += time.perf_counter() - b1

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Trace calls made through ``owner.attr`` under span ``name``."""
        orig = vars(owner)[attr]
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def replace(self, owner, attr: str, value) -> None:
        """Swap ``owner.attr`` for ``value`` until :meth:`restore`."""
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- Spark jobs ---------------------------------------------------------

    def resolve_jobs(self) -> None:
        """Attach each span's Spark jobs (read from the status store)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                jd = store.job(job_id)
                sub, end = jd.submissionTime(), jd.completionTime()
                t_sub = sub.get().getTime() / 1e3 if sub.isDefined() else s.t0
                t_end = end.get().getTime() / 1e3 if end.isDefined() else s.t1
                s.jobs.append((
                    t_sub, t_end,
                    jd.numCompletedStages() + jd.numFailedStages(),
                    jd.numCompletedTasks(),
                    jd.numFailedTasks(),
                ))

    # -- queries over the span tree -----------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the time covered by child spans (children of
        one span run one after another on the single client thread)."""
        return s.dur - sum(c.dur for c in kids.get(s.id, ()))

    def ancestors(self, s: Span) -> list[str]:
        names = []
        while s.parent is not None:
            s = self.spans[s.parent]
            names.append(s.name)
        return names


def driver_only_s(root: Span, spans: list[Span]) -> float:
    """Time inside ``root`` during which no Spark job was running."""
    iv = sorted(
        (max(a, root.t0), min(b, root.t1))
        for s in spans for a, b, *_ in s.jobs
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, root.dur - busy)
