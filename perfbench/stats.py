"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import math

MIN_TAIL = 10


def percentile(values: list[float], q: float, min_tail: int = MIN_TAIL) -> float:
    """The q-quantile (0 < q < 1) of `values`, by linear interpolation
    between closest ranks. Refuses (ValueError) when fewer than
    `min_tail` samples lie beyond it, i.e. above its rank position: a
    p90 of 40 samples rests on four values and is not reported."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    beyond = n - 1 - lo
    if beyond < min_tail:
        raise ValueError(
            f"p{q * 100:g} needs {min_tail} samples beyond it; "
            f"{n} samples leave {beyond}"
        )
    xs = sorted(values)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
