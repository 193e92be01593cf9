"""Pure arithmetic of the benchmark: percentiles, covered intervals,
span self times and the sweep that reconciles layer time with wall time."""

from __future__ import annotations

import math
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    parent: int | None  # None for a top-level op span
    layer: str
    start: float
    end: float


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``q``-th percentile, or ``None`` unless at least
    ``min_beyond`` samples lie beyond it (so p90 needs 100 samples)."""
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover;
    concurrent children are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end)) for s, e in children.get(sp.id, [])
        ]
        out[sp.id] = (sp.end - sp.start) - union_length(clipped)
    return out


def attribute(spans: list[Span], lo: float, hi: float) -> tuple[dict[str, float], float]:
    """Split the window ``[lo, hi)`` among layers: each instant goes to
    the innermost spans running then, shared equally when several run
    concurrently. Instants where only an op span (or nothing) runs are
    unattributed. Returns ``(seconds per layer, unattributed seconds)``;
    the two always sum to ``hi - lo``."""
    cuts = sorted({lo, hi} | {min(max(t, lo), hi) for sp in spans for t in (sp.start, sp.end)})
    by_layer: dict[str, float] = {}
    unattributed = 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [sp for sp in spans if sp.start <= a and sp.end >= b]
        parents = {sp.parent for sp in active}
        inner = [sp for sp in active if sp.id not in parents and sp.parent is not None]
        if not inner:
            unattributed += b - a
            continue
        share = (b - a) / len(inner)
        for sp in inner:
            by_layer[sp.layer] = by_layer.get(sp.layer, 0.0) + share
    return by_layer, unattributed
