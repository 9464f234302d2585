"""Spans, counters and timing summaries for the benchmark.

A span is (name, start, end, parent, run id). Spans are opened only
around calls the benchmark's own files make into the program's
layers — ``engine``, ``plans``, ``functions``, ``sources``,
``streaming``, ``operators`` — plus ``spark.plan`` / ``spark.exec``
around each Spark action of a traced run. They stay in memory and are
written out once, when the run ends.

A disabled tracer records nothing and costs one attribute test per
call site, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
import uuid
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Spans may open on several threads (the streaming queries call
    back on their own threads): each thread keeps its own stack of open
    spans, and appends to the shared list under a lock."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self.run_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def suspended(self):
        """Record nothing inside: for untimed work such as checks."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def durations(self, name: str, since: float = -math.inf) -> list[float]:
        """Durations of the spans called ``name`` that started at or
        after ``since`` (a ``time.perf_counter()`` reading)."""
        return [s.end - s.start for s in self.spans if s.name == name and s.start >= since]

    def self_times(self) -> dict[str, float]:
        """Seconds each layer (the span name's first dotted part) was
        busy outside its child spans, summed over the run."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, covered):
            out[s.name.split(".")[0]] += max(s.end - s.start - c, 0.0)
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "run_id": s.run_id,
                        }
                    )
                    + "\n"
                )


def install_action_hooks(tracer: Tracer) -> Callable[[], None]:
    """Split every Spark action of a traced run into ``spark.plan``
    (forcing the query execution's executed plan) and ``spark.exec``
    (the action itself, which reuses that plan). Covers the actions
    the program issues inside its own functions (``localCheckpoint``,
    ``collect``, ``toPandas``). Returns a function that removes the
    hooks."""
    from pyspark.sql.classic.dataframe import DataFrame

    originals = {n: getattr(DataFrame, n) for n in ("localCheckpoint", "collect", "toPandas")}

    def wrap(fn):
        def action(self, *args, **kwargs):
            if not tracer.enabled or (
                tracer._stack and tracer.spans[tracer._stack[-1]].name == "spark.exec"
            ):  # untraced work, or an action nested inside a traced one
                return fn(self, *args, **kwargs)
            with tracer.span("spark.plan"):
                self._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                return fn(self, *args, **kwargs)

        return action

    for name, fn in originals.items():
        setattr(DataFrame, name, wrap(fn))

    def remove() -> None:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)

    return remove


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest whole percentile that has at least ten samples
    above it, and its label; the maximum (``p100``) when there are
    fewer than twenty samples."""
    n = len(xs)
    if n == 0:
        return 0.0, "p100"
    ys = sorted(xs)
    if n < 20:
        return ys[-1], "p100"
    p = math.floor(100 * (1 - 10 / n))
    # nearest-rank percentile: the value below which p% of samples lie
    return ys[max(math.ceil(p / 100 * n) - 1, 0)], f"p{p}"
