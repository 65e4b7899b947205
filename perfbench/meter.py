"""Measurement primitives: process-tree CPU and RSS from /proc, JVM JIT and
GC time from the management beans, and in-memory spans.

Everything here reads state from outside the engine; nothing is patched
into the program except through ``Tracer.wrap``, which replaces a module
attribute for the lifetime of the tracer and restores it on ``close``.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' splits
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (their time is folded into the parent's cutime/cstime)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def host_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast this host runs one
    thread just now.  It moves with other load on the machine, never with
    the program under test, so it tells a drifted run from a slower one."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i
    return time.perf_counter() - t


class RssSampler:
    """Samples the tree's summed RSS on a daemon thread; ``peak`` is the
    largest sample seen.  Stop it with ``close``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.peak = tree_rss_bytes(root)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval_s,), daemon=True)
        self._thread.start()

    def _loop(self, interval_s: float) -> None:
        while not self._stop.wait(interval_s):
            self.peak = max(self.peak, tree_rss_bytes(self.root))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


class JvmClock:
    """Cumulative JIT-compile and GC seconds of the Spark JVM (in local
    mode the executors run inside it)."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        jit = self._jit.getTotalCompilationTime() / 1000.0
        gc = sum(max(0, b.getCollectionTime()) for b in self._gcs) / 1000.0
        return jit, gc


class Tracer:
    """Spans kept in memory: (name, start, end, parent).  A disabled tracer
    records nothing and wraps nothing, so the untraced run pays no cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Put a span around every call of ``owner.attr``; ``on_result``
        sees each call's arguments and result (for counts)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, result)
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append(
                {
                    "name": self.name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": t._stack[-1] if t._stack else None,
                }
            )
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.perf_counter()
            t._stack.pop()
        return False
