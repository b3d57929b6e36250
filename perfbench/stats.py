"""Pure helpers shared by the runner and its tests: medians, the
metric-name rule and the result line."""

from __future__ import annotations

import json
import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def result_line(
    attempted: int, failed: int, correct: bool, metrics: dict[str, tuple[float, str]]
) -> str:
    """The one-object JSON line the benchmark prints last."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    out = {}
    for name, (value, unit) in metrics.items():
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[check_metric_name(name)] = {"value": value, "unit": unit}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": out,
        },
        separators=(",", ":"),
    )


def trace_overhead(untraced: dict, traced: dict) -> tuple[float, int] | None:
    """Tracing overhead over matched runs: the median traced warm pass
    over the median untraced one, minus 1, taken over the keys (seeds)
    both hold. Returns (overhead, matched keys), or None without a match."""
    keys = sorted(set(untraced) & set(traced))
    if not keys:
        return None
    ratio = median(traced[k] for k in keys) / median(untraced[k] for k in keys)
    return ratio - 1.0, len(keys)
