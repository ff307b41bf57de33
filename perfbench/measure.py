"""Measurement helpers that need no Spark: sample statistics, output
fingerprints, span self-time arithmetic, Spark event-log parsing, and
CPU-time and peak-RSS reading from /proc. Self-tested by ``perfbench/test_measure.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# sample statistics
# ---------------------------------------------------------------------------

_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def reportable_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile with at least ``min_beyond`` of ``n`` samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in _PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:  # float slack: 99.9 is inexact
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest percentile the count supports."""
    p = reportable_percentile(len(values))
    out = {"median": median(values), "n": len(values)}
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = float(statistics.quantiles(values, n=1000)[int(p * 10) - 1])
    return out


# ---------------------------------------------------------------------------
# output fingerprints
# ---------------------------------------------------------------------------


def fingerprint(rows: Iterable[tuple]) -> dict:
    """Order-insensitive multiset fingerprint: row count plus a digest of
    the sorted row reprs (duplicates count)."""
    lines = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


def same_fingerprint(a: dict, b: dict) -> bool:
    return a["rows"] == b["rows"] and a["sha256"] == b["sha256"]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``on_change`` receives the path of open
    spans (``"iteration/rank"``, None once the root closes), so a caller
    can set it as the description of the Spark jobs the span submits.
    ``own_s`` is the time spent in the tracer itself, outside every span's
    interval."""

    on_change: object = None
    clock: object = time.perf_counter
    spans: list[Span] = field(default_factory=list)
    own_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    def _path(self) -> str | None:
        return "/".join(self.spans[i].name for i in self._stack) or None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = self.clock()
        s = Span(name, t0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if self.on_change:
            self.on_change(self._path())
        s.start = self.clock()
        self.own_s += s.start - t0
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if self.on_change:
                self.on_change(self._path())
            self.own_s += self.clock() - s.end


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [s.duration - _union_length(children.get(i, [])) for i, s in enumerate(spans)]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    stage_run_ms: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task run time in the stage with the most task time."""
        if not self.stage_run_ms:
            return 0.0
        run_ms = max(self.stage_run_ms.values(), key=sum)
        med = statistics.median(run_ms)
        return max(run_ms) / med if med > 0 else 1.0


def read_event_log(path: str) -> Iterator[dict]:
    """Events of an uncompressed, non-rolling Spark event log file (or of
    every file in a directory)."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path) if not f.startswith("."))
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def group_event_log(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Aggregate task metrics per span. A job counts in every span named in
    its ``spark.job.description`` path (``"iteration/rank"`` counts in
    ``iteration`` and ``rank``); the key ``"*"`` holds every job, including
    the ones submitted outside any span."""
    stage_group: dict[int, list[str]] = {}
    out: dict[str, GroupStats] = {"*": GroupStats()}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            names = ["*", *dict.fromkeys(n for n in desc.split("/") if n)]
            for n in names:
                out.setdefault(n, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = names
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e.get("Stage ID")
            for n in stage_group.get(sid, ["*"]):
                g = out.setdefault(n, GroupStats())
                g.tasks += 1
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.stage_run_ms.setdefault(sid, []).append(m.get("Executor Run Time", 0))
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, from ``state``
    on (so ``ppid`` is index 1 and ``utime`` index 11), or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after the last ')'
    return stat.rsplit(")", 1)[1].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _tree(root_pid: int) -> Iterator[int]:
    kids = _children_map()
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        yield pid
        todo.extend(kids.get(pid, []))


_TICKS = os.sysconf("SC_CLK_TCK")


def _thread_ticks(pid: int, prefixes: tuple[str, ...]) -> int:
    """utime + stime of the live threads of ``pid`` whose name starts
    with one of ``prefixes``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(prefixes):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"{pid}/task/{tid}")
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(root_pid: int, skip_threads: tuple[str, ...] = ()) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    descendants, counting the ones already reaped through their parents,
    less the live threads named with a prefix in ``skip_threads``. Time
    the hypervisor steals from the machine is not in it."""
    ticks = 0
    for pid in _tree(root_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
            if skip_threads:
                ticks -= _thread_ticks(pid, skip_threads)
    return ticks / _TICKS


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over a process and all its live descendants, in MB."""
    return sum(vm_hwm_kb(pid) for pid in _tree(root_pid)) / 1024.0
