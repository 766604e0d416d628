"""Pure summary logic of the benchmark: percentiles, the tail rule,
span self time and failure counting. No Spark, so it is unit-tested
on its own (perfbench/tests)."""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` ranked samples lie above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """Highest percentile of ``ladder`` with at least ``min_beyond``
    samples beyond it, or None when ``n`` is too small for any."""
    for p in ladder:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def op_tail(values, p: float) -> tuple[float, int]:
    """(p-th percentile, samples beyond it). A workload fixes ``p`` from
    its planned op count with ``fixed_tail_percentile``, so the metric
    means the same in every run; the count beyond is reported next to
    it."""
    return percentile(values, p), samples_beyond(len(values), p)


def fixed_tail_percentile(planned_ops: int) -> float:
    """The tail percentile for a workload that plans ``planned_ops`` ops;
    100 (the slowest op) when too few for any percentile of the ladder."""
    p = tail_percentile(planned_ops)
    return 100.0 if p is None else p


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Op:
    """One timed operation: its kind (query name, algorithm, ...),
    latency and whether it ran with tracing on."""

    kind: str
    latency_s: float
    traced: bool = False
    info: dict = field(default_factory=dict)


def trace_overhead(ops) -> tuple[float, float, float, int]:
    """(traced p50, untraced p50, overhead, kinds compared) over the op
    kinds that ran both traced and untraced.

    The overhead is the mean over those kinds of (traced median -
    untraced median). Workloads alternate between kinds which of the
    two runs first, so a second run's warm caches cancel in the mean.
    With no such kind the three figures are NaN."""
    on: dict[str, list] = {}
    off: dict[str, list] = {}
    for o in ops:
        (on if o.traced else off).setdefault(o.kind, []).append(o.latency_s)
    both = sorted(set(on) & set(off))
    if not both:
        return float("nan"), float("nan"), float("nan"), 0
    diff = sum(median(on[k]) - median(off[k]) for k in both) / len(both)
    return (median([x for k in both for x in on[k]]),
            median([x for k in both for x in off[k]]), diff, len(both))


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: int
    parent_id: int | None
    start: float
    end: float = float("nan")
    tag: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, ()), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans) -> dict[str, float]:
    """Total self time per layer (the span name's first component)."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.span_id]
    return out


@dataclass
class Outcomes:
    """Thread-safe tally of attempted and failed operations.

    An op fails if it raised or if its output did not match the
    reference; both count the same, and nothing is skipped."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, ok: bool, what: str = "", detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{what}: {detail}"[:300])

    def fail(self, what: str, detail: str) -> None:
        """A failure found after the op was tallied (a later check)."""
        with self._lock:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:300])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
