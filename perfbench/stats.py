"""Pure statistics used by the benchmark: percentiles, the tail rule,
span self time and failure accounting. No Spark imports, so the
self-tests run in milliseconds."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: Candidate percentiles for ``op_s.tail``, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(len(s), p) - 1]


def _rank(n: int, p: float) -> int:
    # round first so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float, bool]:
    """(percentile, value, resolved). With too few samples for any
    ladder percentile the median is reported and ``resolved`` is False."""
    p = tail_percentile(len(values))
    if p is None:
        return 50.0, median(values), False
    return p, percentile(values, p), True


def median(values: list[float]) -> float:
    """Conventional median (mean of the middle two for an even count)."""
    return statistics.median(values)


def op_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over ops of each op's median latency. Every op
    weighs the same and no op's rank decides the value, so it does not
    jump when two ops of similar cost swap places, as a pooled median
    of a few samples does."""
    if not samples:
        raise ValueError("geometric mean of no ops")
    return math.exp(
        sum(math.log(median(v)) for v in samples.values()) / len(samples)
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """Span id -> duration minus the part of its interval covered by
    its children (children clipped to the parent, overlaps counted
    once, e.g. concurrent callbacks on another thread)."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        parent = by_id.get(s.get("parent"))
        if parent is None:
            continue
        lo = max(s["start"], parent["start"])
        hi = min(s["end"], parent["end"])
        if hi > lo:
            kids.setdefault(parent["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie between 0 and attempted")
    return failed / attempted
