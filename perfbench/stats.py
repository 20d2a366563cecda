"""Pure measurement arithmetic shared by the workloads (no Spark).

* ``tail_percentile`` — the reporting rule: a timing is given as its
  median and the highest of p90/p99/p99.9 that has at least ten samples
  beyond it.
* ``Tracer`` — bench-side spans and per-layer self time (a span's
  duration minus the part of its interval its child spans cover).
* ``file_batches`` — which micro-batch of a streaming query read each
  file, from the file source's log and the query progress.
* ``file_latencies`` — per released file, the time from its due instant
  to the end of the later of the streaming queries' triggers that
  committed it.
"""

from __future__ import annotations

import bisect
import json
import math
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: Samples a percentile needs beyond it before it is reported.
TAIL_SAMPLES = 10
_CANDIDATES = (99.9, 99.0, 90.0, 50.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default, type 7)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least TAIL_SAMPLES beyond pq."""
    return round(n * (100.0 - q) / 100.0, 9) >= TAIL_SAMPLES


def tail_percentile(n: int) -> float | None:
    """Highest of p99.9/p99/p90/p50 that ``n`` samples support."""
    for q in _CANDIDATES:
        if supports(n, q):
            return q
    return None


def median(values) -> float:
    return percentile(values, 50.0)


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    name: str      # "<layer>.<operation>"
    start: float
    end: float
    parent: int | None
    op: int        # spans of one benchmark operation share this id
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory spans around calls into each package layer. A disabled
    tracer records nothing, so the untraced run pays one attribute test
    per call. ``cost_s`` sums the time the tracer spends in its own span
    bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.cost_s = 0.0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span measured elsewhere (e.g. a streaming trigger from
        query progress); returns its index for use as a parent."""
        self.spans.append(Span(name, start, end, parent, self.op, attrs))
        return len(self.spans) - 1

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans if s.name == name]

    def self_times_ms(self) -> dict[str, float]:
        return self_times_ms(self.spans)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs, self.idx = tracer, name, attrs, None

    def __enter__(self):
        if not self.t.enabled:
            return self
        t0 = time.perf_counter()
        parent = self.t._stack[-1] if self.t._stack else None
        self.idx = self.t.add(self.name, math.nan, math.nan, parent, **self.attrs)
        self.t._stack.append(self.idx)
        start = self.t.spans[self.idx].start = time.perf_counter()
        self.t.cost_s += start - t0
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            end = self.t.spans[self.idx].end = time.perf_counter()
            self.t._stack.pop()
            self.t.cost_s += time.perf_counter() - end
        return False


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times_ms(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer: each span's duration minus the union of
    its children's intervals clipped to it (overlapping children, e.g.
    concurrent queries, are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, ())]
        covered = _union_length([(a, b) for a, b in clipped if b > a])
        out[s.layer] += (s.end - s.start - covered) * 1000.0
    return dict(out)


# ------------------------------------------------- streaming file latency

def trigger_end_s(progress: dict) -> float:
    """Epoch seconds at which a trigger finished: its ``timestamp`` (the
    trigger start, ISO-8601 UTC) plus ``durationMs.triggerExecution``."""
    from datetime import datetime, timezone

    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1000.0


def _log_offset(offset) -> int | None:
    if offset is None:
        return None
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def file_batches(log_offset: dict[str, int], progress: list[dict]) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    ``log_offset`` maps file name -> the file source's metadata-log
    offset, a counter of its own that advances only when new files are
    listed. Each progress event's ``sources[0]`` start and end offsets
    give the log range (start, end] its batch read. The two numberings
    part as soon as a query runs a batch without new files (a watermark
    advancing), so the batch id cannot be read off the log."""
    ranges = []
    for p in progress:
        src = p["sources"][0]
        start, end = _log_offset(src.get("startOffset")), _log_offset(src.get("endOffset"))
        if end is not None and (start is None or end > start):
            ranges.append((end, -1 if start is None else start, p["batchId"]))
    ranges.sort()
    ends = [r[0] for r in ranges]
    out: dict[str, int] = {}
    for f, off in log_offset.items():
        i = bisect.bisect_left(ends, off)
        if i < len(ranges) and ranges[i][1] < off:
            out[f] = ranges[i][2]
    return out


def file_latencies(due_s: dict[str, float],
                   file_batch: list[dict[str, int]],
                   batch_end_s: list[dict[int, float]]) -> dict[str, float | None]:
    """Latency in seconds of each released file.

    ``due_s`` maps file name -> due instant (epoch seconds). For each
    query q, ``file_batch[q]`` maps file name -> the micro-batch that read
    it and ``batch_end_s[q]`` maps batch id -> trigger end. A file's
    latency runs to the LATER of the queries' covering trigger ends; it
    is None when some query never committed it.
    """
    out: dict[str, float | None] = {}
    for f, due in due_s.items():
        ends = []
        for fb, be in zip(file_batch, batch_end_s):
            b = fb.get(f)
            ends.append(be.get(b) if b is not None else None)
        out[f] = None if any(e is None for e in ends) else max(ends) - due
    return out


def max_lag(release_s: list[float], done_s: list[float | None]) -> int:
    """Largest number of released-but-uncommitted files seen at any
    release instant (``done_s`` None = never committed)."""
    worst = 0
    for t in release_s:
        released = sum(1 for r in release_s if r <= t)
        done = sum(1 for d in done_s if d is not None and d <= t)
        worst = max(worst, released - done)
    return worst
