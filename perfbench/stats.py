"""Order statistics and span self-time, shared by the benchmark and its
spread check."""

from __future__ import annotations

import statistics
from collections import defaultdict


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the default 'exclusive' method)."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name.

    Each span is a dict with ``id``, ``name``, ``start``, ``end`` and
    ``parent`` (the id of the enclosing span, or None).  A span's self
    time is its duration minus the part of its interval that its child
    spans cover; overlapping children are counted once."""
    children: dict[object, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)
