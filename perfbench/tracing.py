"""In-memory spans around calls into the program's public functions.

A span records name, start, end, parent span and run id. Spans are kept
in memory and written out once, when the benchmark ends. With tracing
on, each span also labels the Spark jobs it starts through
``setJobDescription``, so the event log can attribute jobs, stages,
tasks and shuffle bytes to the layer that caused them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.run = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{name}#{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setJobDescription(f"{parent.name}#{parent.id}" if parent else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
