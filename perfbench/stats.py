"""Summary statistics and metric naming rules shared by the benchmark."""

from __future__ import annotations

import re
import statistics

# a metric name: starts with a letter or digit, then letters, digits,
# '_', '.' and '-', at most 64 characters
METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)

# a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def check_metric_name(name: str) -> str:
    """Return ``name`` or raise ValueError if it breaks the charset."""
    if not METRIC_NAME_RE.match(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` sorted samples lie above the nearest-rank
    ``p``-th percentile."""
    rank = max(1, -(-n * p // 100))
    return n - int(rank)


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND
    samples beyond it, as (p, value); None when no rung qualifies
    (fewer than MIN_BEYOND / 0.25 = 40 samples)."""
    for p in TAIL_LADDER:
        if samples_beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
