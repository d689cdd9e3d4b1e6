"""Spans around calls into the library, labelled as Spark job groups.

A span times one layer call from the benchmark's side and labels every
Spark job it starts with ``sc.setJobGroup(<batch>:<layer>)``, so the
event log of a traced run maps stages back to layers. The job count of
each span comes from ``statusTracker().getJobIdsForGroup``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    batch: int
    layer: str
    seconds: float
    jobs: int


def group_name(batch: int, layer: str) -> str:
    return f"b{batch}:{layer}"


class Spans:
    """Spans of one traced run, kept in memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def group(self, name: str):
        """Label the jobs started inside the block; no timing."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, batch: int, layer: str):
        name = group_name(batch, layer)
        t0 = time.perf_counter()
        with self.group(name):
            yield
        dt = time.perf_counter() - t0
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(name))
        self.spans.append(Span(batch, layer, dt, jobs))

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def total(self, layer: str) -> float:
        return sum(s.seconds for s in self.of(layer))
