"""Summary statistics and failure accounting for benchmark runs."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it
TAIL_CAP = 90  # the tail is reported at p90 when the run has enough samples


def tail_percentile(n: int) -> int:
    """The highest whole percentile, at most p90, that leaves at least
    TAIL_BEYOND of n samples above it. Falls back to the median (p50)
    when n is too small for any tail above it."""
    if n <= 0:
        raise ValueError("no samples")
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    return max(50, min(TAIL_CAP, p))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method, which
    matches numpy's default)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Outcomes:
    """Attempted and failed operations, by op name. An op fails when it
    raises or when its output check finds a wrong result; both count,
    and each failure keeps its op name and reason."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op: str, reason: str) -> None:
        self.failures.append((op, reason))

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def failed_ops(self) -> list[str]:
        return sorted({op for op, _ in self.failures})
