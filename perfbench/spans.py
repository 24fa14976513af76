"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op). Spans nest per thread; a
span's self time is its duration minus the time its child spans cover.
``Tracer.wrap`` puts a recording wrapper around a public function or
method from outside the module and ``Tracer.uninstall`` puts the
original back, so untraced runs execute unmodified engine code.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass, field

from perfbench.stats import covered


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, fn, *args, attrs: dict | None = None, **kwargs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, 0.0, 0.0, stack[-1] if stack else None,
                        self.op, dict(attrs or {}))
            if attrs is not None:
                attrs["_span"] = sid
            self.spans.append(span)
        stack.append(sid)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except BaseException as e:
            span.attrs["error"] = type(e).__name__
            raise
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, attrs_of=None, result_attrs=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``attrs_of(*args, **kwargs)`` and
        ``result_attrs(result)`` tag the span."""
        orig = owner.__dict__[attr] if attr in getattr(owner, "__dict__", {}) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            result = tracer.record(name, orig, *args, attrs=attrs, **kwargs)
            if result_attrs:
                tracer.spans[attrs["_span"]].attrs.update(result_attrs(result))
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- analysis
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON."""
        kids = self.children()
        with open(path, "w") as f:
            json.dump([{
                "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "ms": s.ms, "self_ms": self_ms(s, kids),
                "attrs": {k: v for k, v in s.attrs.items() if not k.startswith("_")},
            } for s in self.spans], f)

    def descendants(self, span: Span, kids: dict[int, list[Span]]):
        todo = list(kids.get(span.id, ()))
        while todo:
            s = todo.pop()
            yield s
            todo.extend(kids.get(s.id, ()))


def self_ms(span: Span, kids: dict[int, list[Span]]) -> float:
    """Duration minus the union of the direct children's intervals."""
    return span.ms - 1000.0 * covered((c.start, c.end) for c in kids.get(span.id, ()))


def ms_excluding(span: Span, kids: dict[int, list[Span]], tracer: Tracer, prefix: str) -> float:
    """Duration minus the time covered by descendants whose name starts
    with ``prefix``."""
    inner = [(d.start, d.end) for d in tracer.descendants(span, kids)
             if d.name.startswith(prefix)]
    return span.ms - 1000.0 * covered(inner)


def outermost(spans: list[Span], name: str, by_id: dict[int, Span]) -> list[Span]:
    """Spans named ``name`` with no ancestor of the same name."""
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out
