"""Summary statistics and physical-range checks for benchmark metrics."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def tail_percentile(
    xs: list[float], min_beyond: int = TAIL_MIN_BEYOND
) -> tuple[float, float, int] | None:
    """Highest percentile of ``xs`` with at least ``min_beyond`` samples
    above it, as ``(percentile, value, samples_beyond)``.

    The value is the (n - min_beyond)-th smallest sample, so exactly
    ``min_beyond`` samples rank above it; its percentile is the share of
    samples at or below it. With ``min_beyond`` samples or fewer no such
    percentile exists and the result is None.
    """
    n = len(xs)
    if n <= min_beyond:
        return None
    k = n - min_beyond
    return 100.0 * k / n, sorted(xs)[k - 1], min_beyond


def f1(tp: int, fp: int, fn: int) -> float:
    denom = 2 * tp + fp + fn
    return 2 * tp / denom if denom else 1.0


# Physical range of every metric the benchmark can publish: (low, high),
# both inclusive. A value outside its range, or not finite, fails the run.
NONNEG = (0.0, math.inf)
POSITIVE = (1e-12, math.inf)
UNIT_RATIO = (0.0, 1.0)

RANGES: dict[str, tuple[float, float]] = {
    "setup_s": POSITIVE,
    "docs_per_s": POSITIVE,
    "job_s_p50": POSITIVE,
    "cpu_s_per_kdoc": POSITIVE,
    "peak_rss_mb": POSITIVE,
    "keep_f1": UNIT_RATIO,
    "scale.eff": UNIT_RATIO,
    "host.steal_pct": (0.0, 100.0),
    "host.sys_pct": (0.0, 100.0),
    "engine.task_skew": (1.0, math.inf),
    # signed by nature: traced minus untraced throughput, as a share
    "trace.overhead_frac": (-math.inf, 1.0),
}


def range_violations(metrics: dict[str, float]) -> list[str]:
    """Names and values of metrics outside their physical range. Metrics
    without an entry in RANGES are counts, times or sizes: non-negative."""
    bad = []
    for name, v in metrics.items():
        lo, hi = RANGES.get(name, NONNEG)
        if not (isinstance(v, (int, float)) and math.isfinite(v) and lo <= v <= hi):
            bad.append(f"{name}={v!r} outside [{lo}, {hi}]")
    return bad
