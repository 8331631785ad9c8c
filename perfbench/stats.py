"""Latency statistics and outcome counting for one benchmark run.

Kept free of Spark imports so the benchmark's own tests run without a
JVM.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict

# Candidate tail percentiles, highest first. A tail is reported only at
# the highest one that leaves at least MIN_BEYOND samples above it.
# Stands in the answer log for an op that raised.
FAILED = object()

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples
    (the small epsilon keeps 99.9 * 10000 / 100 from rounding up)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile of ``samples`` (0 < p <= 100)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    return xs[_rank(len(xs), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``p``-th percentile."""
    return n - _rank(n, p)


def tail(samples: list[float]) -> dict | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it: ``{"p": 90.0, "value": v, "beyond": k, "n": n}``, or
    ``None`` when even the lowest rung has too few samples."""
    n = len(samples)
    for p in TAIL_LADDER:
        k = samples_beyond(n, p)
        if k >= MIN_BEYOND:
            return {"p": p, "value": percentile(samples, p), "beyond": k, "n": n}
    return None


class Outcomes:
    """Timed samples per operation class plus attempted/failed counts.

    An operation that raises is attempted and failed; an answer that a
    later output check finds wrong is marked with :meth:`wrong`.
    """

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def timed(self, cls: str, fn, *args, **kwargs):
        """Run ``fn`` and record its wall time in ms under ``cls``.
        Returns ``(ok, result)``; a raised exception is a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # a failed call counts, the run goes on
            self.failed += 1
            self.errors.append(f"{cls}: {type(exc).__name__}: {str(exc)[:200]}")
            return False, None
        self.samples[cls].append((time.perf_counter() - t0) * 1000.0)
        return True, out

    def wrong(self, what: str) -> None:
        """Count one completed operation whose answer was wrong."""
        self.failed += 1
        self.errors.append(f"wrong answer: {what}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def median(self, *classes: str) -> float:
        xs = [x for c in classes for x in self.samples.get(c, [])]
        if not xs:
            raise ValueError(f"no samples for {classes}")
        return statistics.median(xs)

    def pooled(self, *classes: str) -> list[float]:
        return [x for c in classes for x in self.samples.get(c, [])]
