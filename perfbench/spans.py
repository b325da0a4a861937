"""Spans recorded by the benchmark around each call into a layer.

A span is opened by the benchmark's own code, never inside the engine:
``<layer>.<function>``, start, end, and the operation span it belongs
to. Spans stay in memory and are written out when the run ends. While a
span is open, Spark jobs carry the description
``<workload>:<layer>.<function>:<op>`` so stage metrics from the event
log can be joined back to the span that caused them.

An untraced tracer records nothing and sets no job description, so the
end-to-end run pays none of this.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str  # "op" for an operation span, else "<layer>.<function>"
    op: int  # index of the operation this span belongs to
    parent: int | None
    start: float
    end: float
    kind: str = ""  # call variant, e.g. "exact" / "hybrid" / "batch"
    items: int = 0  # rows, docs or queries the call processed

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


def job_tag(workload: str, name: str, op: int) -> str:
    return f"{workload}:{name}:{op}"


def parse_job_tag(desc: str | None) -> tuple[str, str, int] | None:
    """``(workload, "<layer>.<function>", op)`` from a job description the
    tracer set, or None for any other description. Set-up calls have
    op -1."""
    parts = (desc or "").split(":")
    if len(parts) != 3 or "." not in parts[1]:
        return None
    try:
        return parts[0], parts[1], int(parts[2])
    except ValueError:
        return None


class Tracer:
    """Span recorder. ``set_desc`` sets the Spark job description
    (``SparkContext.setJobDescription``)."""

    def __init__(self, workload: str, enabled: bool, set_desc):
        self.workload = workload
        self.enabled = enabled
        self._set_desc = set_desc
        self.spans: list[Span] = []
        self._op: Span | None = None

    @contextmanager
    def op(self, index: int):
        if not self.enabled:
            yield
            return
        span = Span(len(self.spans), "op", index, None, time.perf_counter(), 0.0)
        self.spans.append(span)
        self._op = span
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._op = None

    @contextmanager
    def call(self, layer: str, function: str, kind: str = ""):
        """Span around one call into ``layer``. Yields the span so the
        caller can set ``items`` and read its time afterwards; untraced,
        the span is timed but not kept and no job description is set."""
        name = f"{layer}.{function}"
        op, parent = (self._op.op, self._op.span_id) if self._op is not None else (-1, None)
        span = Span(len(self.spans), name, op, parent, time.perf_counter(), 0.0, kind)
        if self.enabled:
            self.spans.append(span)
            self._set_desc(job_tag(self.workload, name, op))
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            if self.enabled:
                self._set_desc(None)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover
    (children may overlap each other; each instant counts once)."""
    return span.seconds - covered(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    )
