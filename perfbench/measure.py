"""Measurement helpers: spans, percentiles, metric names, OS counters."""

from __future__ import annotations

import math
import os
import re
import time
from contextlib import contextmanager

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_TAIL = 10  # samples a reported percentile must have beyond it
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    return sorted(samples)[_rank(p, len(samples)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES with at least MIN_TAIL of ``n`` samples
    beyond it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= MIN_TAIL:
            return p
    return None


class Tracer:
    """Spans kept in memory: (name, start, end, parent index). Disabled, a
    span costs one branch."""

    def __init__(self, enabled: bool, workload: str, seed: int):
        self.enabled = enabled
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_enter = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "seed": self.seed,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_enter
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, reach, s["start"]), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out.append((s["end"] - s["start"]) - covered)
    return out


def steal_s() -> float:
    """Hypervisor steal time of the whole host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(d)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    total, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            total += stats[pid][1]
        frontier += [c for c, (ppid, _) in stats.items() if ppid == pid]
    return total / tick


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total
