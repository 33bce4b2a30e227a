"""Spans recorded at the benchmark's call boundaries, self time per layer,
and a /proc sampler for the RSS of the engine's process tree.

Spans stay in memory and are written once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, replace


@dataclass
class Span:
    name: str          # "<layer>.<what>"
    start: float       # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    run: str           # one id per traced call
    count: float = 0   # work done inside the span (files listed, bytes...)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run, self._base = "", 0

    def begin(self, run: str) -> None:
        """Start a run; its spans are contiguous in ``spans``."""
        self.run, self._base = run, len(self.spans)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.run)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """A span measured elsewhere (a Spark job's submit/complete) under
        the current run's span number ``parent``."""
        self.spans.append(Span(name, start, end, self._base + parent, self.run))

    def wrap(self, module, attr: str, name: str, count=None):
        """Replace ``module.attr`` with a spanned wrapper; returns an undo
        callable.  ``count(result, args)`` sets the span's count."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if count is not None:
                    s.count = count(out, args)
                return out

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def current(self) -> list[Span]:
        """The current run's spans, parents renumbered from 0."""
        return [replace(s, parent=None if s.parent is None
                        else s.parent - self._base)
                for s in self.spans[self._base:]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer during which that layer's span was the deepest
    one open.  Overlapping spans at the same depth (parallel Spark jobs)
    are counted once, so the layers sum to the root span's duration."""
    depth: list[int] = []
    for s in spans:
        depth.append(0 if s.parent is None else depth[s.parent] + 1)
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [i for i, s in enumerate(spans) if s.start <= a and s.end >= b]
        if open_:
            deepest = max(open_, key=lambda i: depth[i])
            layer = spans[deepest].layer
            out[layer] = out.get(layer, 0.0) + (b - a)
    return out


# -- process tree memory ------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Samples the JVM and every process below it (the Python workers)
    every ``interval`` seconds; keeps the peaks."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak_total_mb = self.peak_jvm_mb = self.peak_py_mb = 0.0
        self.peak_py_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        jvm = _rss_mb(self.jvm_pid)
        workers = descendants(self.jvm_pid)[1:]
        py = sum(_rss_mb(p) for p in workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_py_mb = max(self.peak_py_mb, py)
        self.peak_py_workers = max(self.peak_py_workers, len(workers))
        self.peak_total_mb = max(self.peak_total_mb, jvm + py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
