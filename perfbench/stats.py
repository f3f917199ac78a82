"""Summary statistics used by every workload.

Latency is summarised per kind of operation (median, and a tail
percentile only where enough samples lie beyond it) and the per-kind
medians are combined by geometric mean, so that a mix of slow and fast
kinds cannot make the figure jump between the kinds' modes.
"""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geomean needs positive samples, got {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile_with_tail(xs, p: float, beyond: int = 10) -> float | None:
    """The ``p``-th percentile (nearest rank) of ``xs``, or None when fewer
    than ``beyond`` samples lie strictly above its rank: such a figure
    would describe a handful of samples, not a tail."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))     # 1-based nearest rank
    if n - rank < beyond:
        return None
    return float(xs[rank - 1])


def kind_summary(samples: dict[str, list[float]]) -> dict[str, dict]:
    """Per kind: sample count, median and (when it has a tail) p90."""
    out = {}
    for kind, xs in sorted(samples.items()):
        row = {"n": len(xs), "p50": median(xs)}
        p90 = percentile_with_tail(xs, 90)
        if p90 is not None:
            row["p90"] = p90
        out[kind] = row
    return out
