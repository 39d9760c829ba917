"""Pure summary arithmetic shared by every workload (no Spark import)."""

from __future__ import annotations

import math

TAIL_BEYOND = 10   # samples that must lie beyond a reported tail percentile
TAIL_CAP = 90      # never report a percentile above p90


def tail_percentile(samples: list[float]) -> tuple[int, float, int] | None:
    """The highest percentile (at most p90, in whole percent) with at least
    ``TAIL_BEYOND`` samples strictly beyond its rank, as
    ``(percentile, value, sample_count)``; ``None`` when there are too few
    samples for any percentile to qualify.

    With ``n`` sorted samples the p-th percentile is the sample at rank
    ``ceil(p/100 * n)`` (nearest-rank), and ``n - rank`` samples lie beyond
    it."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    for p in range(TAIL_CAP, 0, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_BEYOND:
            return p, ordered[rank - 1], n
    return None


def failed_share(attempted: int, failed: int) -> float:
    """Failed or wrong-output operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted
