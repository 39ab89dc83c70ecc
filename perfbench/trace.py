"""Spans, latency statistics and process-tree memory, measured from outside
the engine."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent. ``enabled=False`` records
    nothing, so untraced ops pay only the ``with`` statement. Each thread
    nests its own spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def active(self) -> bool:
        """True inside a recorded span of the calling thread."""
        return bool(self._stack())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else None,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that its
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it.

    Below 20 samples no percentile at or above the median has ten samples
    beyond it, so the maximum (percentile 100) is reported instead."""
    if n < 20:
        return 100
    return math.floor(100 * (n - 10) / n)


def latency_summary(values: list[float]) -> dict:
    """Median and tail of a latency sample, nearest-rank."""
    ordered = sorted(values)
    n = len(ordered)
    p = tail_percentile(n)
    rank = max(1, math.ceil(p * n / 100))
    return {
        "p50": statistics.median(ordered),
        "tail": ordered[rank - 1],
        "tail_percentile": p,
        "n": n,
    }


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock time at which this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_rss_mb(root: int) -> dict[str, float]:
    """Memory of ``root``'s process tree in MiB, summed by command name.

    Each process counts its proportional set size (``Pss`` of
    ``smaps_rollup``): a page shared by n processes counts 1/n in each, so
    forked children (Python workers, a JVM forking to launch a command)
    do not count their parent's pages again, as a plain RSS sum would."""
    out: dict[str, float] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + pss_kb / 1024
    return out


class RssSampler:
    """Peak memory of this process tree (driver Python, JVM, Python
    workers, child processes), sampled from ``/proc`` on a background
    thread; see ``tree_rss_mb``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            by_name = tree_rss_mb(root)
            if sum(by_name.values()) > self.peak_mb:
                self.peak_mb = sum(by_name.values())
                self.peak_by_name = by_name
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
