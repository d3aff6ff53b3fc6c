"""In-memory spans around calls into the package's layers.

A ``Tracer`` records one span per call it wraps: name, layer, start, end,
parent and the run id, plus the Spark job counter at both ends. Spans
stay in memory and are written out once, at the end of the run.

Spans are recorded from the benchmark's own files: ``instrument`` swaps
public functions of the package for wrappers, and rebinds every module
attribute that bound the original by name (``from x import f`` copies),
so calls through any import path are seen. ``restore`` undoes it.

The client thread's spans form a tree. A span opened on another thread
(the package's own build pools) takes the client thread's innermost open
span as its parent; its time is reported as thread-seconds, apart from
the client thread's wall time.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "asritha_metamorphetl_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    thread: int
    start: float
    jobs0: int
    end: float = 0.0
    jobs1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``job_counter()`` returns the number of Spark jobs
    submitted so far; a span's jobs are the ids submitted inside it."""

    def __init__(self, run_id: str, job_counter=lambda: 0):
        self.run_id = run_id
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self.client = threading.get_ident()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        tid = threading.get_ident()
        stack = self._stacks[tid]
        if stack:
            parent = stack[-1].sid
        else:
            client = self._stacks[self.client]
            parent = client[-1].sid if client and tid != self.client else None
        sid = self._new_id()
        sp = Span(sid, name, layer, parent, tid, time.perf_counter(),
                  self.job_counter(), attrs=dict(attrs))
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            sp.jobs1 = self.job_counter()
            with self._lock:
                self.spans.append(sp)

    def innermost(self) -> str | None:
        """Name of the calling thread's innermost open span."""
        stack = self._stacks[threading.get_ident()]
        return stack[-1].name if stack else None

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next - 1

    def record(self, name: str, layer: str, start: float, end: float,
               parent: int | None = None) -> int:
        """Add a finished client-thread span timed by the caller."""
        sp = Span(self._new_id(), name, layer, parent, self.client, start, 0, end, 0)
        with self._lock:
            self.spans.append(sp)
        return sp.sid

    def wrap(self, fn, name: str, layer: str, on_call=None):
        """A wrapper of ``fn`` that records a span per call. ``on_call``
        (args, kwargs, span) runs inside the span, before ``fn``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                if on_call is not None:
                    on_call(args, kwargs, sp)
                return fn(*args, **kwargs)

        return traced


class Patches:
    """Module-attribute swaps, undone by ``restore``."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def replace(self, original, replacement) -> None:
        """Rebind every attribute of a loaded package module that holds
        ``original``."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, key, replacement)

    def set_attr(self, owner, key: str, replacement) -> None:
        self._set(owner, key, replacement)

    def _set(self, owner, key, value) -> None:
        self._undo.append((owner, key, getattr(owner, key)))
        setattr(owner, key, value)

    def restore(self) -> None:
        for owner, key, value in reversed(self._undo):
            setattr(owner, key, value)
        self._undo.clear()


def public_functions(module) -> list[str]:
    """Names of the public functions a module defines itself."""
    return [
        k for k, v in vars(module).items()
        if callable(v) and not k.startswith("_") and not isinstance(v, type)
        and getattr(v, "__module__", None) == module.__name__
    ]


def in_rounds(spans: list[Span], root_name: str) -> list[Span]:
    """The spans under a root span named ``root_name``, roots included."""
    by_id = {s.sid: s for s in spans}

    def root(s: Span) -> Span:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    return [s for s in spans if root(s).name == root_name]


def span_cost(tracer: Tracer, n: int = 500) -> float:
    """Seconds one span costs on this tracer, job counter included."""
    probe = Tracer("cost", tracer.job_counter)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("cost", "cost"):
            pass
    return (time.perf_counter() - t0) / n


def self_times(spans: list[Span], client: int) -> dict[str, dict[str, float]]:
    """Per-layer totals: ``wall_s`` (client-thread self time; sums to the
    client's traced wall time), ``calls``, ``jobs`` (client-thread self
    jobs) and ``bg_thread_s`` (self time on other threads)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"wall_s": 0.0, "calls": 0, "jobs": 0, "bg_thread_s": 0.0}
    )
    for sp in spans:
        same = [c for c in children[sp.sid] if c.thread == sp.thread]
        self_s = sp.seconds - sum(c.seconds for c in same)
        row = out[sp.layer]
        row["calls"] += 1
        if sp.thread == client:
            row["wall_s"] += self_s
            row["jobs"] += (sp.jobs1 - sp.jobs0) - sum(
                c.jobs1 - c.jobs0 for c in same
            )
        else:
            row["bg_thread_s"] += self_s
    return dict(out)


def job_owners(spans: list[Span], client: int) -> dict[int, Span]:
    """Job id -> the innermost client-thread span it was submitted in."""
    owners: dict[int, Span] = {}
    for sp in sorted(
        (s for s in spans if s.thread == client),
        key=lambda s: (s.start, -s.end),
    ):
        for jid in range(sp.jobs0, sp.jobs1):
            owners[jid] = sp  # later-starting spans are nested deeper
    return owners


def format_table(layers: dict[str, dict[str, float]], title: str) -> str:
    """A fixed-width table, one row per layer, sorted by name."""
    lines = [title, f"{'layer':<16}{'self_s':>10}{'bg_thread_s':>13}"
                    f"{'calls':>8}{'jobs':>7}{'stages':>8}{'tasks':>8}"]
    for layer in sorted(layers):
        r = layers[layer]
        lines.append(
            f"{layer:<16}{r['wall_s']:>10.3f}{r['bg_thread_s']:>13.3f}"
            f"{int(r['calls']):>8}{int(r['jobs']):>7}"
            f"{int(r.get('stages', 0)):>8}{int(r.get('tasks', 0)):>8}"
        )
    return "\n".join(lines)


def span_records(spans: list[Span], run_id: str) -> list[dict]:
    return [
        {
            "run": run_id, "id": s.sid, "parent": s.parent, "name": s.name,
            "layer": s.layer, "thread": s.thread, "start": s.start,
            "end": s.end, "jobs": s.jobs1 - s.jobs0, **s.attrs,
        }
        for s in sorted(spans, key=lambda s: s.start)
    ]

