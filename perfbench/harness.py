"""Measurement primitives shared by the workloads: op records, spans,
process-tree memory sampling and the statistics the result line reports."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """One closed-loop operation: what ran, how long it took, how it ended.

    ``kind`` is ``op`` for a first issue, ``repeat`` for an op re-issued on
    unchanged input (ETL idempotent skip, memo-hot consumer, warm query).
    ``status`` is ``ok``, ``failed`` (exception or wrong output) or
    ``refused`` (the engine's admission control declined the op)."""

    name: str
    kind: str
    start: float
    end: float
    status: str = "ok"
    detail: str = ""
    group: str = ""  # Spark job group the op ran under (traced runs)
    batch: int = 0  # 0 = the workload's first pass over its op list
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder. A span is (name, start, end, parent); the
    benchmark opens spans around its own calls into each program layer and
    writes them out once the workload has finished."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, attrs: dict):
        self.spans, self.name, self.attrs = spans, name, attrs

    def __enter__(self):
        if self.spans.enabled:
            s = self.spans
            self.rec = {
                "id": len(s.records),
                "name": self.name,
                "parent": s._stack[-1] if s._stack else None,
                "start": time.perf_counter(),
                **self.attrs,
            }
            s.records.append(self.rec)
            s._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        if self.spans.enabled:
            self.rec["end"] = time.perf_counter()
            self.spans._stack.pop()
        return False


def wrap(owner, attr: str, spans: Spans, name: str, on_exit=None) -> None:
    """Replace ``owner.attr`` with a wrapper that records a span per call.
    ``on_exit(span_record, result)`` may annotate the span."""
    original = getattr(owner, attr)

    def traced(*args, **kwargs):
        with spans.span(name) as ctx:
            result = original(*args, **kwargs)
            if on_exit is not None:
                on_exit(ctx.rec, result)
            return result

    traced.__wrapped__ = original
    setattr(owner, attr, traced)


def process_start_time() -> float:
    """Wall-clock time (``time.time`` scale) at which this process started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of the stat line
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and all its descendants (the Python
    driver, its JVM and the JVM's Python workers), in MB."""
    root = root or os.getpid()
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (busy, stolen) CPU ticks from /proc/stat. Stolen ticks are
    time this VM's vCPUs wanted to run while the hypervisor ran another
    guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def descendants_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants (the JVM and
    its Python workers; reaped children count through their parent's
    ``cutime``/``cstime``), at clock-tick resolution."""
    kids = _children()
    todo, ticks = list(kids.get(os.getpid(), ())), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssPeak:
    """Peak of tree RSS, sampled at every op boundary from the one client
    thread (no sampler thread competes with the workload)."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_mb())


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
