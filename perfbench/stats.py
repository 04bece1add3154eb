"""Latency summaries and the result line."""

from __future__ import annotations

import json
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: the (n - 10)-th smallest of n samples, i.e. percentile
    100 * (n - 10) / n. With 10 or fewer samples no such percentile
    exists; the maximum is reported with ``beyond`` below 10."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    idx = n - TAIL_BEYOND - 1 if n > TAIL_BEYOND else n - 1
    return {
        "value": xs[idx],
        "percentile": round(100.0 * (idx + 1) / n, 2),
        "beyond": n - idx - 1,
        "samples": n,
    }


def latency_summary(latencies: list[float]) -> dict:
    t = tail(latencies)
    return {
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": t["value"],
        "ops_per_s": len(latencies) / sum(latencies),
        "tail": t,
    }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
