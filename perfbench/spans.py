"""Span recording, self times, percentiles and progress extraction.

Pure Python with no Spark import, so the self-tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it. 0.0 for no samples."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def median(values: list[float]) -> float:
    """Middle sample, or the mean of the two middle samples."""
    if not values:
        return 0.0
    ordered = sorted(values)
    mid = len(ordered) // 2
    return float(ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Spans (name, start, end, parent) kept in memory until ``dump``.

    Times are ``time.perf_counter()`` seconds; ``from_epoch`` maps a wall
    clock time (a streaming progress timestamp) onto that clock. A disabled
    tracer records nothing, so untimed code paths can call it
    unconditionally."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._epoch_offset = time.perf_counter() - time.time()

    def from_epoch(self, t: float) -> float:
        """The tracer-clock time of epoch time ``t``."""
        return t + self._epoch_offset

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere, in tracer-clock times; returns its id."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent))
        return sid

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_ms": selfs[s.id]} for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover, in ms.
    Overlapping children are counted once; children are clipped to the
    parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = max(0.0, (s.end - s.start - covered) * 1000.0)
    return out


# ------------------------------------------------------ streaming progress

# micro-batch phases in the order the engine runs them
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def progress_epoch(p: dict) -> float:
    """A progress event's batch start time as epoch seconds."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def batch_spans(tracer: Tracer, progress: list[dict], parent: int | None = None) -> None:
    """Rebuild each micro-batch's phase spans from its ``durationMs``, on
    the tracer's clock so they nest under the span that ran the query.
    Phases are laid end to end from the batch start; whatever the trigger
    spent outside them remains the batch span's self time."""
    for p in progress:
        d = p.get("durationMs", {})
        start = tracer.from_epoch(progress_epoch(p))
        bid = tracer.add("spark.stream.batch", start, start + d.get("triggerExecution", 0) / 1000.0, parent)
        t = start
        for phase in PHASES:
            ms = d.get(phase)
            if ms:
                tracer.add(f"spark.stream.{phase}", t, t + ms / 1000.0, bid)
                t += ms / 1000.0


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming numbers from a query's progress events.

    Timings are medians (and p99 where named) over batches that read
    input; the data-batch fraction counts every batch."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key: str, batches: list[dict] = data) -> list[float]:
        return [float(p.get("durationMs", {}).get(key, 0)) for p in batches]

    def state(key: str) -> list[float]:
        return [float(sum(op.get(key, 0) for op in p.get("stateOperators", []))) for p in progress]

    def state_data(key: str) -> list[float]:
        return [float(sum(op.get(key, 0) for op in p.get("stateOperators", []))) for p in data]

    get_batch = [a + b for a, b in zip(dur("getBatch"), dur("latestOffset"))]
    trigger = dur("triggerExecution")
    return {
        "batches": float(len(progress)),
        "data_batches": float(len(data)),
        "add_batch_ms_p50": percentile(dur("addBatch"), 50),
        "add_batch_ms_p99": percentile(dur("addBatch"), 99),
        "trigger_ms_p50": percentile(trigger, 50),
        "trigger_ms_p99": percentile(trigger, 99),
        "get_batch_ms": percentile(get_batch, 50),
        "query_planning_ms": percentile(dur("queryPlanning"), 50),
        "wal_commit_ms": percentile(dur("walCommit"), 50),
        "commit_offsets_ms": percentile(dur("commitOffsets"), 50),
        "rows_per_batch": percentile([float(p["numInputRows"]) for p in data], 50),
        "data_batch_frac": len(data) / len(progress) if progress else 0.0,
        "state_rows_total": max(state("numRowsTotal"), default=0.0),
        "state_memory_bytes": max(state("memoryUsedBytes"), default=0.0),
        "state_commit_ms": percentile(state_data("commitTimeMs"), 50),
        "state_update_ms": percentile(state_data("allUpdatesTimeMs"), 50),
        "state_rows_updated": float(sum(state("numRowsUpdated"))),
    }
