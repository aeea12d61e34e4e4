"""Latency statistics: quantiles, the tail rule and span self time.

Quantiles are Harrell-Davis estimates: a weighted mean of all order
statistics rather than one of them.  An op mix is a few keys with
different latencies, so a single order statistic jumps whenever it lands
in the gap between two keys; the weighted mean moves smoothly.

The tail is the highest percentile that still has at least ``beyond``
samples strictly above its rank: with ``n`` sorted samples that rank is
``n - beyond`` (1-based), i.e. percentile ``100 * (n - beyond) / n``.
Fewer than ``beyond + 1`` samples have no such percentile.
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10


def _simpson(f, lo: float, hi: float, steps: int = 64) -> float:
    h = (hi - lo) / steps
    inner = sum((4 if k % 2 else 2) * f(lo + k * h) for k in range(1, steps))
    return (f(lo) + inner + f(hi)) * h / 3


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: order statistic ``i``
    of ``n`` gets the Beta(p(n+1), (1-p)(n+1)) mass of ``((i-1)/n, i/n]``."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    weights = [_simpson(pdf, i / n, (i + 1) / n) for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """Return ``(value, percentile)`` at the tail percentile."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples: the tail needs at least {beyond + 1}")
    rank = n - beyond
    return quantile(values, rank / n), 100.0 * rank / n


def self_times(spans: list[dict]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent and overlapping children merged)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out.append((s["end"] - s["start"]) - covered)
    return out
