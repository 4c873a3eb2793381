"""Summary statistics for the benchmark's latency samples.

Every timing is summarised per operation class: samples from different
classes (tagged vs untagged search, different batch sizes, different
catalog queries) are never pooled into one distribution.
"""

from __future__ import annotations

import math
import statistics

# a percentile is only reported when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


class TooFewSamples(ValueError):
    """Raised when a percentile would rest on fewer than MIN_TAIL_SAMPLES
    samples above it."""


def percentile(samples: list[float], p: float) -> float:
    """The p-th percentile (0 < p < 100, nearest-rank) of ``samples``.

    Refuses (TooFewSamples) unless at least MIN_TAIL_SAMPLES samples lie
    strictly beyond the returned rank, so a p90 is only quoted from 100 or
    more samples."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(samples)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_TAIL_SAMPLES:
        raise TooFewSamples(
            f"p{p:g} of {n} samples leaves {n - rank} beyond it; "
            f"need {MIN_TAIL_SAMPLES}"
        )
    return sorted(samples)[rank - 1]


def highest_percentile(samples: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest of p99/p90/p75 that ``percentile``
    allows, or None when even p75 rests on too few samples."""
    for p in (99, 90, 75):
        try:
            return p, percentile(samples, p)
        except TooFewSamples:
            continue
    return None


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)
