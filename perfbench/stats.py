"""Order statistics shared by every workload.

A timing is reported as a median and a tail taken from the SAME sample:
the tail is the highest percentile that still has at least
``TAIL_MIN_BEYOND`` samples above it, i.e. the value at sorted index
``n - TAIL_MIN_BEYOND - 1``. A sample too small for that tail to sit at
or above the median is refused instead of reported.
"""

from __future__ import annotations

TAIL_MIN_BEYOND = 10
# smallest sample whose tail rank (n - 11) is at or above the median rank
MIN_SAMPLES = 2 * TAIL_MIN_BEYOND + 1


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile with at least
    ``TAIL_MIN_BEYOND`` samples strictly beyond it."""
    n = len(values)
    if n < MIN_SAMPLES:
        raise ValueError(
            f"{n} samples: a tail with {TAIL_MIN_BEYOND} samples beyond it "
            f"needs at least {MIN_SAMPLES}"
        )
    rank = n - TAIL_MIN_BEYOND  # 1-based rank of the tail value
    return sorted(values)[rank - 1], 100.0 * rank / n


def summarize(values: list[float]) -> dict:
    """Median and tail of one sample, with its size."""
    t, pct = tail(values)
    return {"p50": median(values), "tail": t, "tail_pct": pct, "n": len(values)}
