"""Summaries of repeated measurements: sample count, median and
quartiles."""

import statistics


def summarize(values):
    """{n, median, q1, q3, spread}. `spread` is the interquartile
    distance as a share of the median (the run-to-run noise a bound must
    exceed)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("summarize needs at least one value")
    median = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (xs[0], xs[0], xs[0])
    return {
        "n": len(xs),
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / median if median else float("inf"),
    }
