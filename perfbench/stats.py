"""Summary statistics shared by the workloads.

The tail rule: a timing's tail is reported at the highest whole percentile
that still has at least ``TAIL_BEYOND`` samples above it, so a tail figure
always rests on ten or more observations instead of on the single slowest
one.
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile of an ``n``-sample set that leaves at least
    ``TAIL_BEYOND`` samples strictly above its nearest rank; None when
    ``n`` is too small for any percentile to qualify."""
    for pct in range(99, 0, -1):
        if n - math.ceil(pct / 100.0 * n) >= TAIL_BEYOND:
            return pct
    return None


def tail(values: list[float]) -> tuple[int, float]:
    """(percentile, value) of the tail rule; raises when the sample cannot
    support a percentile at or above the median."""
    pct = tail_percentile(len(values))
    if pct is None or pct < 50:
        raise ValueError(
            f"{len(values)} samples cannot support a tail percentile "
            f"at or above p50 with {TAIL_BEYOND} samples beyond it"
        )
    return pct, nearest_rank(values, pct)


def summarize(values: list[float]) -> dict:
    """Nearest-rank median, tail (with its percentile) and sample count of
    one timing."""
    pct, tail_value = tail(values)
    return {
        "p50": nearest_rank(values, 50),
        "tail": tail_value,
        "tail_pct": pct,
        "n": len(values),
    }


def tail_summary(values: list[float]) -> dict:
    """``summarize`` where the sample supports the tail rule at or above
    p50; otherwise the sample count and why no tail is given."""
    pct = tail_percentile(len(values))
    if pct is None or pct < 50:
        return {"n": len(values), "tail": None,
                "why": f"fewer than {2 * TAIL_BEYOND} samples"}
    return summarize(values)
