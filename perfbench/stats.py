"""Pure arithmetic of the benchmark: no Spark, no I/O."""

from __future__ import annotations

import math
import random


def pass_order(names: list[str], seed: int, pass_idx: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}/{pass_idx}").shuffle(order)
    return order


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond`` samples
    above it: returns (value, percentile, sample count).

    With n samples sorted ascending, the sample at 0-based index
    ``n - beyond - 1`` has exactly ``beyond`` samples ranked after it, so it
    sits at percentile ``100 * (n - beyond) / n``.  With too few samples the
    rule cannot hold and the maximum is returned at percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail needs samples")
    k = n - beyond - 1
    if k < 0:
        return xs[-1], 100.0, n
    return xs[k], 100.0 * (n - beyond) / n, n


def failed_frac(errors: int, mismatches: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    return (errors + mismatches) / attempted


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover; children
    may overlap each other (concurrent jobs) or stick out of the parent."""
    lo, hi = span["start"], span["end"]
    return (hi - lo) - covered([(c["start"], c["end"]) for c in children], lo, hi)

