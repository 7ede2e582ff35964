"""Measurement helpers: spans, file -> micro-batch attribution,
progress summaries, host noise and memory.

Everything here observes the engine from outside: it reads
``StreamingQuery.recentProgress``, the Spark status tracker and
``/proc``, and times the benchmark's own calls.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager


def quantile(values, q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation."""
    vals = sorted(values)
    if not vals:
        raise ValueError("quantile of no values")
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class Tracer:
    """In-memory spans (name, start, end, parent), written out once at
    the end of a run. Disabled, it records nothing; the benchmark's
    untraced timings do not go through it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        with self._lock:
            span_id = len(self.spans)
            self.spans.append(
                {"id": span_id, "name": name, "start": start, "end": end,
                 "parent": parent, **attrs}
            )
            self.overhead_s += time.perf_counter() - t
        return span_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a span."""
        start = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, start, time.perf_counter(), **attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def executed_batches(progress: list[dict]) -> list[dict]:
    """One progress entry per executed micro-batch, in batch order.
    Idle progress updates (no ``addBatch`` phase) are dropped."""
    by_id = {}
    for p in progress:
        if "addBatch" in p.get("durationMs", {}):
            by_id[p["batchId"]] = p
    return [by_id[b] for b in sorted(by_id)]


def attribute_files(file_rows: list[int], batch_rows: list[tuple[int, int]]) -> list[int | None]:
    """The micro-batch that read each file.

    ``file_rows`` holds each file's row count in the order the source
    reads the files; ``batch_rows`` holds (batchId, numInputRows) per
    executed batch in batch order. The file source reads whole files in
    order, so file k belongs to the first batch whose cumulative
    ``numInputRows`` reaches the cumulative row count through file k.
    Files past the last batch get None. A batch boundary that falls
    inside a file means the order assumption broke, and raises."""
    out: list[int | None] = []
    b, batch_end, file_end = 0, 0, 0
    for rows in file_rows:
        file_start = file_end
        file_end += rows
        while b < len(batch_rows) and batch_end < file_end:
            batch_end += batch_rows[b][1]
            b += 1
        if batch_end < file_end:
            out.append(None)
            continue
        batch_start = batch_end - batch_rows[b - 1][1]
        if file_start < batch_start:
            raise ValueError(f"a batch boundary splits the file that starts at row {file_start}")
        out.append(batch_rows[b - 1][0])
    return out


_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")


def progress_metrics(batches: list[dict]) -> dict[str, float]:
    """Per-layer numbers read off the executed batches' progress: the
    source and micro-batch phases, and the window aggregation's state
    store."""

    def p50(key: str) -> float:
        return statistics.median(b["durationMs"].get(key, 0) for b in batches) if batches else 0.0

    states = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    return {
        "source.latest_offset_ms_p50": p50("latestOffset"),
        "source.get_batch_ms_p50": p50("getBatch"),
        "source.input_rows": sum(b["numInputRows"] for b in batches),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.batches": len(batches),
        "streaming.phase_gap_max": phase_gap_max(batches),
        "state.rows_total_max": max((s["numRowsTotal"] for s in states), default=0),
        "state.memory_bytes_max": max((s["memoryUsedBytes"] for s in states), default=0),
        "state.commit_ms_p50": statistics.median(s["commitTimeMs"] for s in states) if states else 0.0,
        "state.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
    }


def phase_gap_max(batches: list[dict], min_trigger_ms: int = 100) -> float:
    """Largest |sum of phases - triggerExecution| / triggerExecution
    over batches whose trigger took at least ``min_trigger_ms`` (the
    progress reports whole milliseconds, so tiny triggers say nothing)."""
    gaps = [0.0]
    for b in batches:
        d = b["durationMs"]
        total = d.get("triggerExecution", 0)
        if total >= min_trigger_ms:
            gaps.append(abs(sum(d.get(k, 0) for k in _PHASES) - total) / total)
    return max(gaps)


class HostNoise:
    """CPU time stolen by the hypervisor (``/proc/stat``) over a run,
    the load average at its end, and the time a fixed piece of Python
    work takes at its end (the host's speed, which neighbours sharing
    its cores change without showing as steal). Diagnostics only: they
    tell a noisy run from a regression."""

    def __init__(self) -> None:
        self.start = self._steal_ticks()

    @staticmethod
    def _steal_ticks() -> int:
        try:
            with open("/proc/stat") as fh:
                fields = fh.readline().split()
            return int(fields[8])
        except (OSError, IndexError, ValueError):
            return 0

    def read(self) -> dict[str, float]:
        steal = (self._steal_ticks() - self.start) / os.sysconf("SC_CLK_TCK")
        try:
            load = os.getloadavg()[0]
        except OSError:
            load = 0.0
        return {"host.steal_s": steal, "host.loadavg": load, "host.cpu_probe_ms": cpu_probe_ms()}


def cpu_probe_ms() -> float:
    """Median milliseconds of five runs of a fixed pure-Python loop."""
    times = []
    for _ in range(5):
        start = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - start) * 1000.0)
    return statistics.median(times)


def process_age_s() -> float:
    """Seconds since this process started (from ``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(jvm_pid: int) -> float:
    """The JVM's peak resident set (``VmHWM``) plus this Python
    process's peak RSS, in MB."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0
