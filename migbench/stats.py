"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

# the tail percentile leaves this many samples beyond it, or a quarter of
# the samples when a run holds fewer than 4 × TAIL_BEYOND jobs
TAIL_BEYOND = 10


class RunTooShort(Exception):
    """The run did not hold enough jobs for a tail above its median."""


def tail(samples: list[float], beyond: int = TAIL_BEYOND
         ) -> tuple[float, int, int]:
    """The highest percentile with ``min(beyond, n // 4)`` samples above it.

    Returns ``(value, percentile, n)``: ``value`` is the sorted sample with
    exactly that many samples beyond it, and ``percentile`` is the whole
    share of samples at or below it. A run whose tail does not sit above
    its median raises :class:`RunTooShort`; such a "tail" would describe
    the middle of the distribution.
    """
    n = len(samples)
    k = min(beyond, n // 4)
    if k < 1:
        raise RunTooShort(f"{n} jobs leave no sample beyond a tail")
    ordered = sorted(samples)
    value = ordered[n - k - 1]
    median = statistics.median(ordered)
    if value <= median:
        raise RunTooShort(
            f"tail {value:.4f} s (n={n}) is not above the median "
            f"{median:.4f} s; the run needs more jobs")
    return value, (100 * (n - k)) // n, n


def summary(values: list[float]) -> dict[str, float]:
    """Median, quartiles and range, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values),
            "iqr_share": (q3 - q1) / q2 if q2 else float("nan")}
