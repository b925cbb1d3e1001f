"""In-memory spans recorded at the benchmark's own call boundaries.

A span has a name, start, end, the span that caused it and a few counts.
``Tracer.wrap`` installs timing wrappers around public methods of lakeflow
classes (``VersionedTable.commit``/``compact``, ``Pipeline.run``) until
``Tracer.unwrap``; nothing under ``lakeflow/`` changes. Spans stay
in memory and are written once, when the run ends.

A layer's self time is its spans' durations minus the parts covered by
their child spans. Calls from threads that have no open span (the pipeline
runner's pool threads) are parented to the ``root`` span the caller set.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = True
        self.root: int | None = None
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            span = Span(len(self.spans), name, 0.0, parent=parent, attrs=attrs)
            self.spans.append(span)
        stack.append(span.id)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.bookkeeping_s += time.perf_counter() - span.end

    def record(self, name: str, start: float, end: float, parent: int | None) -> Span:
        """Add a finished span whose times were measured elsewhere."""
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent)
            self.spans.append(span)
        return span

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.open(name, **attrs)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)

        return _Ctx()

    # -- wrappers around lakeflow's public methods ------------------------
    def wrap(self, cls: type, method: str, name: str, after=None) -> None:
        """Time every call of ``cls.method`` as a span ``name`` while this
        tracer is active; ``after(span, self_obj, result, args, kwargs)``
        may add counts to the span."""
        original = getattr(cls, method)
        tracer = self

        @functools.wraps(original)
        def traced(obj, *args, **kwargs):
            if not tracer.active:
                return original(obj, *args, **kwargs)
            span = tracer.open(name)
            try:
                result = original(obj, *args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                t0 = time.perf_counter()
                after(span, obj, result, args, kwargs)
                tracer.bookkeeping_s += time.perf_counter() - t0
            return result

        setattr(cls, method, traced)
        self._patched.append((cls, method, original))

    def unwrap(self) -> None:
        for cls, method, original in reversed(self._patched):
            setattr(cls, method, original)
        self._patched.clear()

    # -- reading ------------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_times(self, start: float = float("-inf"), end: float = float("inf")):
        """Self seconds per span name (duration minus child durations) over
        the finished spans that started in ``[start, end)``."""
        spans = [s for s in self.spans if s.end and start <= s.start < end]
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                fh,
            )


def install_lakeflow_wrappers(tracer: Tracer) -> None:
    """Wrap the lakeflow entry points each layer is timed at."""
    from lakeflow.plans.runner import Pipeline
    from lakeflow.tables import VersionedTable

    def pipeline_counts(span, pipe, result, args, kwargs):
        report = getattr(pipe, "report", {}) or {}
        span.attrs["tasks"] = sum(
            1 for r in report.values() if r.get("status") == "success"
        )
        span.attrs["retries"] = sum(
            max(0, r.get("attempts", 0) - 1) for r in report.values()
        )

    tracer.wrap(VersionedTable, "commit", "tables.commit")
    tracer.wrap(VersionedTable, "compact", "tables.compact")
    tracer.wrap(Pipeline, "run", "plans.pipeline_run", after=pipeline_counts)
