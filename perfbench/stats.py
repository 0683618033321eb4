"""Order statistics used by the benchmark report."""

from __future__ import annotations

import statistics

# Percentiles the report may quote, highest last.
_PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(xs) -> float:
    return float(statistics.median(xs))


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest listed percentile with at least ``min_beyond`` of ``n``
    samples above it, or None when even the median is not supported."""
    best = None
    for p in _PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:
            best = p
    return best


def timing_summary(walls) -> dict:
    """Median and quartiles, the highest supported percentile (or the
    maximum when the sample is too small for any), and the sample count."""
    walls = sorted(walls)
    n = len(walls)
    q1, q2, q3 = quartiles(walls)
    out = {"n": n, "median": q2, "q1": q1, "q3": q3}
    p = supported_percentile(n)
    if p is None:
        out["max"] = walls[-1]
    else:
        k = min(n - 1, int(round(p / 100.0 * (n - 1))))
        out[f"p{p:g}"] = walls[k]
    return out


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once).

    ``spans``: records with ``id``, ``parent``, ``start`` and ``end``."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in kids.get(s["id"], ()))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out
