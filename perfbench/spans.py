"""Spans recorded from the benchmark's side of each library call.

A span has a name, a parent, a start and an end, and runs its Spark jobs
under a job group of its own, so the event log attributes every job,
stage and task to the innermost open span. Spans stay in memory until the
run ends; ``layer_table`` then joins them with the event log.

``wrap`` replaces a library module attribute with a timing wrapper, for
calls the library makes internally (the runner's checkpoint appends). The
wrapper only records while the tracer is on.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.on = False
        self.bookkeeping_s = 0.0  # time spent recording spans, not in the calls

    def _set_group(self) -> None:
        if self._stack:
            self._sc.setJobGroup(self.spans[self._stack[-1]].group, "perfbench")
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, f"{name}#{idx}", parent, t0))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group()
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self.spans[idx].end = t2
            self._stack.pop()
            self._set_group()
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, timed)

    def layer_table(
        self, groups: dict[str, dict[str, float]], upto: int | None = None
    ) -> dict[str, dict[str, float]]:
        """Span name -> totals over its spans among the first ``upto``:
        calls, wall, self time (wall not covered by child spans), and the
        event-log counters and job time inclusive of child spans; driver_s
        is wall minus job time."""
        spans = self.spans[:upto]
        incl: list[dict[str, float]] = [dict(groups.get(s.group, {})) for s in spans]
        for idx in range(len(spans) - 1, -1, -1):
            parent = spans[idx].parent
            if parent is not None:
                for k, v in incl[idx].items():
                    incl[parent][k] = incl[parent].get(k, 0.0) + v
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, m in zip(spans, incl):
            wall = s.end - s.start
            row = out[s.name]
            row["calls"] += 1
            row["wall_s"] += wall
            row["self_s"] += wall - sum(
                self.spans[c].end - self.spans[c].start for c in s.children
            )
            for k, v in m.items():
                row[k] += v
            row["driver_s"] += max(wall - m.get("job_s", 0.0), 0.0)
        return {k: dict(v) for k, v in out.items()}
