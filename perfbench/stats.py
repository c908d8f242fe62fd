"""Summary statistics and failure accounting for the benchmark.

Kept free of Spark imports so the rules can be unit-tested on their own.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# A tail percentile is reported only as far out as the sample supports:
# the highest order statistic that still has this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # share of samples at or below `value`, in percent
    beyond: int  # samples strictly beyond `value` in the sorted order
    n: int


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> Tail:
    """Highest percentile of ``values`` with at least ``beyond`` samples
    past it: the sorted sample at index ``n - beyond - 1``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support a tail with {beyond} beyond it")
    i = n - beyond - 1
    return Tail(sorted(values)[i], 100.0 * (i + 1) / n, beyond, n)


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output does not match the expected result."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, op: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.errors.append(f"{op}: {error}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
