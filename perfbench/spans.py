"""Spans at layer boundaries, recorded from outside the program.

A :class:`Tracer` opens a span around a call, keeps it in memory and,
while it is open, tags every Spark job the calling thread submits with
the span id (the ``perfbench.span`` local property), so the event log
credits Spark work to the innermost span.

Entry points are wrapped where callers look them up: a function bound as
a module global (``steps.build_table`` inside ``steps.execute_step``) is
replaced in that module's namespace, a method in its class dictionary.
:meth:`Tracer.restore` puts every original back. The untraced run wraps
nothing.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from eventlog import SPAN_KEY


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``sc`` it also labels Spark jobs per span."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs: Any):
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(f"{self.run_id}:{next(self._ids)}", name, parent and parent.id, self.run_id, 0.0, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_KEY, sp.id)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_KEY, stack[-1].id if stack else None)

    # -- wrapping entry points -------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str, attrs_of=None, on_result=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.

        ``attrs_of(*args, **kwargs)`` adds span attributes from the call;
        ``on_result(span, result, *args, **kwargs)`` inspects the outcome.
        """
        raw = vars(owner)[attr]
        func = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw

        @functools.wraps(func)
        def traced(*args, **kwargs):
            with self.span(name, **(attrs_of(*args, **kwargs) if attrs_of else {})) as sp:
                result = func(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result, *args, **kwargs)
                return result

        if isinstance(raw, classmethod):
            replacement: Any = classmethod(traced)
        elif isinstance(raw, staticmethod):
            replacement = staticmethod(traced)
        else:
            replacement = traced
        setattr(owner, attr, replacement)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- queries over the recorded spans ---------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span: Span) -> set[str]:
        """Ids of ``span`` and every span below it."""
        children: dict[str | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s.id)
            todo.extend(children.get(s.id, []))
        return out

    def within(self, outer: Span, name: str) -> list[Span]:
        ids = self.descendants(outer)
        return [s for s in self.spans if s.name == name and s.id in ids]

    def records(self) -> list[dict[str, Any]]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run": s.run,
                "start": s.start,
                "end": s.end,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
