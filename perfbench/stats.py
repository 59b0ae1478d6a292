"""Small statistics used by the benchmark: the quiet operations, span self
time and the metric-name rule."""

from __future__ import annotations

import re

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# An operation is quiet when the hypervisor took at most this share of the
# machine's CPU time while it ran (/proc/stat steal over all accounted time).
QUIET_STEAL = 0.02


def quiet(values: list[float], steal: list[float]) -> list[float]:
    """The values of the quiet operations, or, when fewer than half of them
    are quiet, of the least-stolen half (ties in run order)."""
    if len(values) != len(steal):
        raise ValueError("one steal share per value")
    keep = [v for v, s in zip(values, steal) if s <= QUIET_STEAL]
    half = -(-len(values) // 2)
    if len(keep) < half:
        order = sorted(range(len(values)), key=lambda i: steal[i])
        keep = [values[i] for i in sorted(order[:half])]
    return keep


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])
