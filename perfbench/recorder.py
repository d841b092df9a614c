"""Spans around the benchmark's calls into the program.

Untraced, a ``Recorder`` only reads the clock around each call.  Traced, it
also tags every Spark job a call causes (local properties, which jobs carry
into the event log) and can wrap a package module's functions so that jobs
are attributed to the innermost package function on the Python stack.
"""

from __future__ import annotations

import contextlib
import inspect
import time
from dataclasses import dataclass

from eventlog import FN_PROP, SPAN_PROP

PKG = "data_quality_analyzer_spark"


@dataclass
class Span:
    op: int  # pass index; -1 for warm-up
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float
    ok: bool = True
    kind: str = "call"  # "op", "call" or "fn"

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class _Clock:
    wall_s: float = 0.0


class Recorder:
    def __init__(self, sc=None):
        self.sc = sc  # None: untraced
        self.spans: list[Span] = []
        self.failed = 0
        self._op = -1
        self._fn_stack: list[str] = []

    @contextlib.contextmanager
    def op(self, i: int):
        """One complete pass of the workload."""
        clock = _Clock()
        self._op = i
        start = time.time()
        ok = False
        try:
            yield clock
            ok = True
        finally:
            end = time.time()
            clock.wall_s = end - start
            self.spans.append(Span(i, "pass", start, end, ok, "op"))
            self._op = -1

    @contextlib.contextmanager
    def call(self, i: int, name: str):
        """One call into the program, as a client makes it."""
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, f"{i}:{name}")
        start = time.time()
        ok = False
        try:
            yield
            ok = True
        finally:
            end = time.time()
            self.spans.append(Span(i, name, start, end, ok, "call"))
            if not ok:
                self.failed += 1
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, None)

    def calls(self) -> list[Span]:
        """Calls made by measured passes (warm-up calls have op -1)."""
        return [s for s in self.spans if s.kind == "call" and s.op >= 0]

    def passes(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "op" and s.ok]

    # -- traced only -------------------------------------------------------

    @contextlib.contextmanager
    def fn(self, label: str):
        """A span for one package function; jobs submitted inside it are
        tagged with ``label`` until a nested ``fn`` span takes over."""
        if self.sc is None:
            yield
            return
        self._fn_stack.append(label)
        self.sc.setLocalProperty(FN_PROP, label)
        start = time.time()
        ok = False
        try:
            yield
            ok = True
        finally:
            end = time.time()
            self.spans.append(Span(self._op, label, start, end, ok, "fn"))
            self._fn_stack.pop()
            self.sc.setLocalProperty(
                FN_PROP, self._fn_stack[-1] if self._fn_stack else None
            )

    @contextlib.contextmanager
    def wrap_module(self, module, names: tuple[str, ...] | None = None):
        """While open, put an ``fn`` span around every package function
        (or only ``names``) that ``module``'s code looks up by global name."""
        originals = {}
        for attr, obj in vars(module).items():
            if (
                inspect.isfunction(obj)
                and (obj.__module__ or "").startswith(PKG + ".")
                and (names is None or attr in names)
            ):
                originals[attr] = obj
                setattr(module, attr, self._traced_fn(obj))
        try:
            yield
        finally:
            for attr, obj in originals.items():
                setattr(module, attr, obj)

    def _traced_fn(self, fn):
        label = fn.__module__[len(PKG) + 1 :] + "." + fn.__name__

        def traced(*args, **kwargs):
            with self.fn(label):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced
