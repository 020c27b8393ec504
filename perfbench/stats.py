"""Order statistics and the one-line result the benchmark ends with."""

from __future__ import annotations

import json
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` that has ``beyond`` samples
    above it: ``(value, level_pct, n_beyond)``.

    The value is the ``beyond + 1``-th largest sample, i.e. the order
    statistic at rank ``n - beyond`` (1-based), and its level is
    ``100 * (n - beyond) / n``.  ``None`` when there are not more than
    ``beyond`` samples, so no percentile has that many beyond it.
    """
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    rank = n - beyond
    return ordered[rank - 1], 100.0 * rank / n, beyond


def slow_op_p90(by_op: dict[str, list[float]]) -> float:
    """The 90th percentile over ops of each op's median wall.

    A closed loop over a fixed op list samples every op once per pass,
    so its slow tail is the slowest ops' typical wall.  Per-op medians
    keep one stray call from moving it; interpolating between the two
    slowest (``inclusive`` method) lets a change in either show.
    """
    medians = [median(v) for v in by_op.values() if v]
    if len(medians) < 2:
        return medians[0] if medians else 0.0
    return statistics.quantiles(medians, n=10, method="inclusive")[-1]


def summary_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The compact last stdout line: ``metrics`` maps a name to
    ``(value, unit)``."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        },
        separators=(",", ":"),
    )
