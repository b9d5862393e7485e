"""Pure statistics helpers: percentiles with a tail-sample rule and the
whole-cycle run length."""

from __future__ import annotations

import math

# the tail percentile reported, and the samples it needs beyond it
TAIL_Q = 0.9
MIN_TAIL = 10
# a run measures at least this many whole cycles of its op list
MIN_CYCLES = 3


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0 <= q <= 1) of ``samples``."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    h = (len(xs) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def tail_quantile(n: int) -> tuple[float, bool]:
    """The quantile to report for the ``TAIL_Q`` tail over ``n`` samples,
    and whether it is ``TAIL_Q`` itself.

    A tail percentile is kept only where at least ``MIN_TAIL`` samples
    lie beyond it, so with fewer than ``MIN_TAIL / (1 - TAIL_Q)``
    samples the reported quantile drops to ``1 - MIN_TAIL / n``, and
    never below the median: below ``2 * MIN_TAIL`` samples no tail
    estimate exists and the median is reported."""
    if n <= 0:
        raise ValueError("no samples")
    q = max(0.5, min(TAIL_Q, 1.0 - MIN_TAIL / n))
    return q, math.isclose(q, TAIL_Q)


def cycles_for(budget: float, nominal_cycle_s: float) -> int:
    """Whole cycles a run measures: as many nominal cycles as fill the
    time budget, and at least ``MIN_CYCLES``. The count depends on the
    budget alone, never on how fast this run happens to go, so every run
    of a workload times the same ops and its percentiles are taken over
    the same sample count."""
    return max(MIN_CYCLES, round(budget / nominal_cycle_s))
