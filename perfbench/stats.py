"""Spark-free statistics for the benchmark: percentiles under the
ten-samples-beyond rule, the mix-share seam rule and span self-time
arithmetic."""

from __future__ import annotations

import math

#: a tail percentile is reported only with at least this many samples
#: strictly above it
TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    ``q`` share of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(math.ceil(q * len(s)), 1) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile."""
    return n - max(math.ceil(q * n), 1)


def min_samples(q: float) -> int:
    """The fewest samples for which the ``q`` percentile has
    :data:`TAIL_SAMPLES` samples beyond it."""
    n = 1
    while samples_beyond(n, q) < TAIL_SAMPLES:
        n += 1
    return n


def tail(values, q: float) -> float | None:
    """The ``q`` percentile, or None when fewer than
    :data:`TAIL_SAMPLES` samples lie beyond it."""
    if samples_beyond(len(values), q) < TAIL_SAMPLES:
        return None
    return percentile(values, q)


def tails(values, qs=(0.9, 0.75)) -> dict[str, float]:
    """Every percentile of ``qs`` the samples support, keyed ``p90``
    etc."""
    out = {}
    for q in qs:
        v = tail(values, q)
        if v is not None:
            out[f"p{round(q * 100)}"] = v
    return out


def seam_free(shares, quantiles, margin: float = 0.05) -> bool:
    """True when no reported percentile sits at the seam between two op
    classes.

    ``shares`` are the classes' shares of all ops. Which class is the
    faster one is not known in advance, so every ordering's cumulative
    boundaries count: a percentile within ``margin`` of any partial sum
    of the shares could flip between two latency clusters from run to
    run."""
    shares = list(shares)
    if not math.isclose(sum(shares), 1.0, abs_tol=1e-9):
        raise ValueError("shares must sum to 1")
    bounds = {0.0, 1.0}
    for mask in range(1, 2 ** len(shares) - 1):
        bounds.add(sum(s for i, s in enumerate(shares) if mask >> i & 1))
    return all(
        abs(q - b) >= margin
        for q in quantiles
        for b in bounds
        if 0.0 < b < 1.0
    )


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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


def self_times(spans) -> dict:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover (children clipped to the
    parent, overlaps counted once).

    ``spans`` are mappings with ``id``, ``parent``, ``start`` and
    ``end``."""
    kids: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        inside = [
            (max(c["start"], s), min(c["end"], e))
            for c in kids.get(sp["id"], [])
            if c["end"] > s and c["start"] < e
        ]
        out[sp["id"]] = (e - s) - covered(inside)
    return out
