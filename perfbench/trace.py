"""Spans recorded from the benchmark's side of the program's public
calls. :meth:`Tracer.wrap` replaces a module or class attribute with a
timing wrapper and :meth:`Tracer.restore` puts every original back.
Spans stay in memory and are written out once, at the end of the run.

Upserts run on py4j callback threads, so recording takes a lock and
the parent of a span opened on a thread with no open span of its own
is the innermost span open on the main thread.

Each span also reads a CPU clock at its start and end (the driver's
and the JVM's CPU seconds, all threads): for a span during which
nothing else runs, such as ``SnapshotStore.replace`` or a near-dup
layer, the difference is that layer's share of ``cpu_s``.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    rep: int
    thread: str
    epoch_ms: float  # wall clock at start, to line up with Spark's stage times
    cpu_start: float  # the tracer's CPU clock, seconds
    cpu_end: float
    tag: str | None = None  # e.g. the topic of an upsert


class Tracer:
    def __init__(self, cpu_clock=lambda: 0.0):
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self.rep = -1
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, tag: str | None = None):
        return _SpanCtx(self, name, tag)

    def wrap(self, owner, attr: str, name: str, tag_of=None) -> None:
        """Time every call of ``owner.attr``; ``tag_of(*args)``, if
        given, names what the call worked on (its span's ``tag``)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, tag_of(*args) if tag_of else None):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- summaries ------------------------------------------------------

    def by_rep(self, name: str) -> dict[int, list[Span]]:
        out = collections.defaultdict(list)
        for s in self.spans:
            if s.name == name:
                out[s.rep].append(s)
        return out

    def span_cost_s(self, n: int = 2000) -> float:
        """Seconds one span costs its caller (open, two clock reads,
        record), timed on a scratch tracer with this one's CPU clock."""
        probe = Tracer(self.cpu_clock)
        t = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t) / n

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that its
        child spans cover (children on other threads included)."""
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = collections.defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for a, b in sorted(kids.get(s.id, ())):
                a, b = max(a, cur_end), min(b, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def nullspan(_name: str):
    """The span factory of untraced reps."""
    return contextlib.nullcontext()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, tag: str | None):
        self.tracer, self.name, self.tag = tracer, name, tag

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        with t._lock:  # the main stack is read from callback threads
            if stack:
                self.parent = stack[-1]
            else:
                self.parent = t._main_stack[-1] if t._main_stack else None
            self.id = next(t._ids)
            stack.append(self.id)
        self.epoch_ms = time.time() * 1e3
        self.cpu_start = t.cpu_clock()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        cpu_end = t.cpu_clock()
        with t._lock:
            t._stack().pop()
            t.spans.append(
                Span(self.id, self.name, self.start, end, self.parent, t.rep,
                     threading.current_thread().name, self.epoch_ms,
                     self.cpu_start, cpu_end, self.tag)
            )
        return False
