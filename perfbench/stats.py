"""Order statistics for benchmark samples."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    """True median and quartiles of `values`, with the sample count.

    For an even count the median averages the two middle values (taking the
    upper one overstates it). Quartiles follow `statistics.quantiles(values,
    n=4)`; a single sample is its own median and quartiles."""
    if not values:
        raise ValueError("summary of no samples")
    med = statistics.median(values)
    if len(values) == 1:
        return {"n": 1, "median": med, "q1": med, "q3": med}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}
