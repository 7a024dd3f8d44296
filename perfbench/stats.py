"""Pure measurement arithmetic: percentiles, spans, Spark event logs.

Everything here is free of Spark and of wall-clock reads, so the
benchmark's own tests can check it on fixed inputs.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections.abc import Iterable
from contextlib import contextmanager

#: A tail is the highest percentile with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def p50(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(values: Iterable[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile that still has
    ``TAIL_BEYOND`` samples above it: the ``n - TAIL_BEYOND``-th smallest
    of ``n`` samples, which is the ``100 * (n - 10) / n``-th percentile.
    Up to ``2 * TAIL_BEYOND`` samples that percentile would fall at or
    below the median, so the slowest sample (the 100th) is reported."""
    xs = sorted(values)
    n = len(xs)
    if not xs:
        raise ValueError("tail of no samples")
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


class Tracer:
    """In-memory span recorder.  A span has a name, start and end
    (``time.monotonic()`` seconds, which is one clock for every process on
    the host), the id of the span open around it on the same thread, and
    an optional request id shared by the spans of one request.  Disabled
    tracers record nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, req=None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "req": req}
            )

    def add(self, name: str, start: float, end: float, req=None) -> int:
        """Record a top-level span measured elsewhere (e.g. by the load
        generator)."""
        sid = next(self._ids)
        if self.enabled:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": None, "req": req}
            )
        return sid


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Span id → its duration minus the part of it its children cover.
    Children are clipped to the parent, and overlapping children count
    once, so a self time is never negative."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                children.setdefault(p["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        for s in spans
    }


# -- Spark event log ----------------------------------------------------------

#: Task accumulables (SQL metrics) in which the Python/Arrow runners count
#: the bytes they move across the boundary.
PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _accumulable(info: dict, names: tuple[str, ...]) -> int:
    total = 0
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") in names:
            try:
                total += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(lines: Iterable[str], since_ms: int = 0) -> dict[str, dict]:
    """Aggregate a Spark event log per job group.

    Returns ``{group: {"jobs", "job_ms" (list), "tasks", "exec_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "python_bytes"}}``.  A job's group is its
    ``spark.jobGroup.id`` property, or ``""`` when it has none; a task
    belongs to the job whose stage list holds its stage.  Jobs submitted
    before ``since_ms`` (epoch ms) and their tasks are skipped."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}

    def acc(group: str) -> dict:
        return groups.setdefault(
            group,
            {
                "jobs": 0,
                "job_ms": [],
                "tasks": 0,
                "exec_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
                "input_bytes": 0,
                "python_bytes": 0,
            },
        )

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            submitted = ev.get("Submission Time", 0)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group if submitted >= since_ms else None
            if submitted < since_ms:
                continue
            job_group[jid] = group
            job_start[jid] = submitted
            acc(group)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                acc(job_group[jid])["job_ms"].append(ev.get("Completion Time", 0) - job_start[jid])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            if group is None:
                continue
            g = acc(group)
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["exec_cpu_s"] += (m.get("Executor CPU Time") or 0) / 1e9
            g["gc_s"] += (m.get("JVM GC Time") or 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written") or 0
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read") or 0) + (
                sr.get("Local Bytes Read") or 0
            )
            g["spill_bytes"] += (m.get("Memory Bytes Spilled") or 0) + (
                m.get("Disk Bytes Spilled") or 0
            )
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read") or 0
            g["python_bytes"] += _accumulable(ev.get("Task Info") or {}, PYTHON_BYTE_METRICS)
    return groups
