"""Spark event-log parsing: per-span job, stage and task counters.

Each traced span sets the job description to ``<span name>#<span id>``,
so every job (and through it every stage and task) in the event log is
attributed to the span that started it.
"""

from __future__ import annotations

import glob
import json
import operator
import os
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    #: the largest execution memory (sort, aggregation and join buffers)
    #: one task used; a maximum, not a sum
    peak_exec_memory_mb: float = 0.0

    def add(self, other: "Counters") -> None:
        for k, v in vars(other).items():
            op = max if k == "peak_exec_memory_mb" else operator.add
            setattr(self, k, op(getattr(self, k), v))


_MB = 1024.0 * 1024.0


def parse(log_dir: str) -> dict[str, Counters]:
    """Counters keyed by job description (``None`` for unlabelled jobs).

    ``input_mb`` counts bytes read from files, which for a scan of the
    raw zone is the bytes of the JSON documents read.
    """
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    stage_desc: dict[int, str | None] = {}
    out: dict[str | None, Counters] = defaultdict(Counters)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    out[desc].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    out[stage_desc.get(info["Stage ID"])].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    c = out[stage_desc.get(ev["Stage ID"])]
                    c.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.peak_exec_memory_mb = max(
                        c.peak_exec_memory_mb, m.get("Peak Execution Memory", 0) / _MB)
                    c.shuffle_write_mb += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    ) / _MB
                    c.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    return dict(out)
