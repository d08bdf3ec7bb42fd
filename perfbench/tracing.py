"""In-memory spans around the benchmark's calls into each engine layer.

A span has a name, start, end and parent. While a span is open its id is
the Spark job group, so the event log attributes the span's Spark jobs to
it (see ``eventlog.py``). Spans are kept in memory and written out as
JSON once the run ends. Self time is a span's duration minus the time its
children cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans; labels Spark jobs when given a SparkContext."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _label(self, span: dict | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", span["id"] if span else None)
        self.sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> dict:
        """Record a finished span (used for spans reconstructed from a
        report the engine returns, which the benchmark cannot wrap)."""
        span = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": end,
            "attrs": attrs,
        }
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        span = self.add(name, time.time(), 0.0, parent, **attrs)
        self._open.append(span)
        self._label(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._open.pop()
            self._label(parent)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        covered = sum(c["end"] - c["start"] for c in self.children(span))
        return (span["end"] - span["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        out = [
            dict(s, duration_s=s["end"] - s["start"], self_s=self.self_time(s))
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)

