"""In-memory span tracer that wraps public kgpipe functions from outside.

Each span records name, start, end (epoch seconds), parent and the thread
it ran on. Wrapping a module attribute (``kgpipe.checkpoint.build_graph``)
times every call that resolves the name through that module, so the
program itself is untouched. Spans are kept in memory and read after the
run; a span's self time is its duration minus the part of it that its
children cover.

When ``tag`` is given, it is called with the span id on entry and with
the enclosing span id (or None) on exit, from the thread that runs the
span. The benchmark uses it to set a thread-local Spark property, so the
event log names the span that submitted each job.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, tag=None):
        self.spans: list[Span] = []
        self.tag = tag
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self.main_thread = threading.get_ident()
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            # a thread started inside a span (build_graph's barrier
            # threads) has no stack of its own: its spans hang under the
            # innermost open span of the main thread
            outer = stack or self._stacks.get(self.main_thread) or []
            parent = outer[-1].sid if outer else None
            sp = Span(len(self.spans), name, parent, tid, time.time(), attrs=attrs)
            self.spans.append(sp)
            stack.append(sp)
        if self.tag:
            self.tag(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                stack.pop()
                enclosing = stack[-1].sid if stack else None
            if self.tag:
                self.tag(enclosing)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``attrs_fn(*args, **kwargs)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading -----------------------------------------------------------
    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int, name: str | None = None) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            for s in self.children(cur):
                todo.append(s.sid)
                if name is None or s.name == name:
                    out.append(s)
        return out

    def depth(self, sp: Span) -> int:
        d = 0
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            d += 1
        return d

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the children's intervals, each
        clipped to the span (children on other threads may outlive it)."""
        return sp.duration - covered(
            [(c.start, c.end) for c in self.children(sp.sid) if c.end is not None],
            sp.start,
            sp.end,
        )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
