"""Measurement helpers: process-tree CPU, percentiles, and in-memory spans.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

# /proc/<pid>/stat fields after the ")" that closes the command name:
# index 1 is ppid; 11..14 are utime, stime, cutime, cstime (clock ticks)
_PPID, _UTIME, _CSTIME = 1, 11, 14


def _read_stat(proc_root: str, pid: int) -> Optional[List[str]]:
    try:
        with open(os.path.join(proc_root, str(pid), "stat")) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None  # the process ended between listing and reading
    # the command name may itself contain spaces or parentheses
    return raw[raw.rindex(")") + 2:].split()


def _proc_table(proc_root: str) -> Tuple[Dict[int, List[str]], Dict[int, List[int]]]:
    """(pid -> stat fields, ppid -> child pids) for every process."""
    stats: Dict[int, List[str]] = {}
    children: Dict[int, List[int]] = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        fields = _read_stat(proc_root, int(name))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[_PPID]), []).append(pid)
    return stats, children


def _walk(root_pid: int, children: Dict[int, List[int]]) -> List[int]:
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root_pid: Optional[int] = None, proc_root: str = "/proc") -> float:
    """CPU seconds used so far by ``root_pid`` and every live descendant,
    including the CPU of descendants that already ended and were reaped
    (their ``cutime``/``cstime`` is charged to the reaping parent).

    For a Spark driver this sums the Python driver, the JVM and the Python
    daemon and workers. Take the difference of two readings to get the CPU
    spent over an interval."""
    root_pid = os.getpid() if root_pid is None else root_pid
    stats, children = _proc_table(proc_root)
    ticks = 0
    for pid in _walk(root_pid, children):
        fields = stats.get(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[_UTIME:_CSTIME + 1])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root_pid: Optional[int] = None, proc_root: str = "/proc") -> List[int]:
    """Pids of every live descendant of ``root_pid`` (default: this process)."""
    root_pid = os.getpid() if root_pid is None else root_pid
    _, children = _proc_table(proc_root)
    return _walk(root_pid, children)[1:]


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once at
    the end. A disabled tracer records nothing, so the untraced run pays
    only the ``with`` statement."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def summary(self) -> Dict[str, dict]:
        """Per span name: count, total seconds and self seconds (duration
        minus the time its direct children cover)."""
        child_time: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = (
                    child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: Dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_time.get(s["id"], 0.0)
        return out

    def write(self, path: str, extra: Optional[dict] = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "summary": self.summary(), **(extra or {})},
                f,
                indent=1,
            )
