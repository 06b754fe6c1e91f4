"""Span tracer for the traced run (``--trace 1``).

The wrappers are installed from outside the engine, around the public
functions at each layer boundary, and only in the traced run. Each span
runs under its own Spark job group, so the status tracker can say which
jobs, stages and tasks it launched. Spans stay in memory; the run writes
them out once, at the end.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    resolved: bool = False
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self.sc = None
        self.op: int | None = None
        self.cost = 0.0

    # -- recording ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        s = Span(len(self.spans), name, self.stack[-1].sid if self.stack else None, self.op, 0.0)
        self.spans.append(s)
        self.stack.append(s)
        sc = self.sc
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            if s.op is not None:
                # the tracer's own time inside a timed operation
                self.cost += (s.start - t0) + (time.perf_counter() - s.end)

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter on the innermost open span."""
        if self.enabled and self.stack:
            c = self.stack[-1].counts
            c[key] = c.get(key, 0) + n

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_pages(self, owner, attr: str, key: str) -> None:
        """Count the items a generator function yields (pages)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            for item in orig(*args, **kwargs):
                self.count(key)
                yield item

        setattr(owner, attr, counted)

    # -- Spark work per span ------------------------------------------------

    def resolve(self) -> None:
        """Attach job/stage/task counts to finished spans. Call outside
        the timed region: it waits for Spark's listener bus to drain."""
        sc = self.sc
        if sc is None:
            return
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # listener-bus internals differ across Spark builds
            time.sleep(0.2)
        st = sc.statusTracker()
        for s in self.spans:
            if s.resolved or s.end == 0.0:
                continue
            for j in st.getJobIdsForGroup(f"{GROUP_PREFIX}{s.sid}"):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        s.stages += 1
                        s.tasks += stage.numTasks
            s.resolved = True

    def detach(self) -> None:
        """Resolve what the current SparkContext knows, then forget it
        (call before stopping the session)."""
        self.resolve()
        self.sc = None

    # -- aggregation --------------------------------------------------------

    def summary(self, keep=lambda s: True) -> dict[str, dict]:
        """Per span name, over the spans ``keep`` selects: calls,
        total/self seconds, inclusive Spark jobs/stages/tasks and summed
        counters."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)

        def inclusive(s: Span, attr: str) -> int:
            return getattr(s, attr) + sum(inclusive(c, attr) for c in children[s.sid])

        out: dict[str, dict] = {}
        for s in filter(keep, self.spans):
            d = out.setdefault(s.name, defaultdict(float))
            dur = s.end - s.start
            d["calls"] += 1
            d["s"] += dur
            d["self_s"] += dur - sum(c.end - c.start for c in children[s.sid])
            for attr in ("jobs", "stages", "tasks"):
                d[attr] += inclusive(s, attr)
            for k, v in s.counts.items():
                d[k] += v
        return out

    def dump(self) -> list[dict]:
        return [
            {"sid": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end, "jobs": s.jobs, "stages": s.stages,
             "tasks": s.tasks, **({"counts": s.counts} if s.counts else {})}
            for s in self.spans
        ]
