"""Median / quartile helpers, and the spread of a set of runs.

Quartiles follow ``statistics.quantiles(values, n=4)`` (the default
"exclusive" method).  Spread is the inter-quartile distance as a share
of the median.

    python3 perfbench/stats.py run1.out run2.out ...

reads the result line (the last line) of each run's standard output
and prints each metric's median, quartiles and spread.
"""

from __future__ import annotations

import json
import statistics
import sys


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3).  One value is its own quartiles; two or more
    use statistics.quantiles(n=4)."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (0 for a
    constant series; inf when the median is 0 and the series is not)."""
    q1, q2, q3 = quartiles(values)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def agree(a: float, b: float, tol: float) -> bool:
    """True when two pass times differ by at most `tol` of the larger —
    the warm-up stop rule."""
    hi = max(a, b)
    return hi <= 0 or abs(a - b) <= tol * hi


def summarize(results: list[dict]) -> dict[str, tuple[float, float, float, float]]:
    """metric -> (q1, median, q3, spread) over result objects."""
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        out[name] = quartiles(values) + (spread(values),)
    return out


def main(paths: list[str]) -> int:
    results = []
    for path in paths:
        with open(path) as fh:
            lines = fh.read().strip().splitlines()
        if lines:
            results.append(json.loads(lines[-1]))
    if not results:
        print("no results", file=sys.stderr)
        return 1
    print(f"{len(results)} runs, failed docs: "
          f"{sum(r['failed'] for r in results)}")
    for name, (q1, q2, q3, sp) in summarize(results).items():
        print(f"{name:<32} median {q2:12.6g}  q1 {q1:12.6g}  "
              f"q3 {q3:12.6g}  spread {sp:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
