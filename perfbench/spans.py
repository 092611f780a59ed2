"""In-memory span tracer for the traced run, plus /proc memory sampling.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark replaces a layer's public function (in every module namespace
that bound it) with a wrapper that opens a span. Spans nest per thread;
those of one request share its request id. Nothing is written until the
run ends.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    request: str | None
    name: str
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.request: str | None = None
        self.active = True  # False: wrappers call straight through
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owners, attr: str, name: str, after=None) -> None:
        """Route calls of `attr` on each owner (module or class) through a
        span named `name`. `after(result, args, kwargs)` may return counts
        to attach to the span."""
        original = getattr(owners[0], attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name) as sp:
                res = original(*args, **kwargs)
                if after is not None:
                    sp.counts.update(after(res, args, kwargs))
                return res

        traced.__wrapped__ = original
        for owner in owners:
            self._patched.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        tr = self.tracer
        parent = tr._stack[-1].sid if tr._stack else None
        sp = Span(len(tr.spans), parent, tr.request, self.name, time.perf_counter())
        tr.spans.append(sp)
        tr._stack.append(sp)
        return sp

    def __exit__(self, *exc) -> None:
        sp = self.tracer._stack.pop()
        sp.t1 = time.perf_counter()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its
    direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {s.sid: s.dur - _covered(kids.get(s.sid, [])) for s in spans}


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of root_pid and all its descendants (the
    Spark driver, the JVM it launched and the JVM's Python workers). Read
    from /proc/<pid>/statm, which costs microseconds; smaps_rollup (for
    PSS) walks the JVM's page tables for ~40 ms per read and stalls it.

    The JVM spawns helpers (Hadoop's chmod calls, without native libs)
    through vfork; until exec such a child shares the JVM's address space
    and reports its whole RSS. A JVM child with the JVM's exact virtual
    size is that case and is skipped."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    vsize: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        head, tail = st.rsplit(")", 1)
        fields = tail.split()
        parent[int(d)] = int(fields[1])
        vsize[int(d)] = int(fields[20])
        comm[int(d)] = head.split("(", 1)[1]
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                if comm[p] == "java" and vsize[c] == vsize[p]:
                    continue
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakMemory:
    """Background sampler of tree_rss_bytes(own pid); `peak` in bytes."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
