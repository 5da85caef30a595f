"""Order statistics that travel with their sample count."""

from __future__ import annotations

import math
from typing import NamedTuple


class Pct(NamedTuple):
    value: float
    n: int


def percentile(values, q: float) -> Pct:
    """The ``q``-th percentile (0..100, linear interpolation between the
    closest ranks) of ``values``, with the number of samples it rests on."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return Pct(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs))


def median(values) -> float:
    return percentile(values, 50).value


def geomean(values) -> float:
    """Geometric mean of positive ``values``: every operation weighs the
    same in it, whatever its scale, and it does not jump when two
    operations trade places in the order, as a percentile can."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of an empty sample")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
