"""Small statistics and log readers used by the benchmark."""

from __future__ import annotations

import json
import math
import statistics

# percentiles reported above the median, highest first, in per mille
_TAILS = (999, 990, 900)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest reported percentile with at least ``min_beyond`` samples
    above it, or None when ``n`` samples support none."""
    for pm in _TAILS:
        if n * (1000 - pm) >= min_beyond * 1000:
            return pm / 10.0
    return None


def summary(values: list[float]) -> dict:
    """Median, the highest percentile the sample supports, and the count."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def read_progress(path: str) -> list[dict]:
    """Micro-batch progress records of ``progress.jsonl``, by batch id; a
    replayed batch keeps its last record."""
    by_batch: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("event") == "progress":
                by_batch[int(rec["batchId"])] = rec
    return [by_batch[b] for b in sorted(by_batch)]


def batch_times(progress: list[dict]) -> list[dict]:
    """Per batch: id, input rows, trigger and addBatch seconds."""
    out = []
    for rec in progress:
        d = rec.get("durationMs") or {}
        out.append(
            {
                "batch": int(rec["batchId"]),
                "rows": int(rec.get("numInputRows") or 0),
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
            }
        )
    return out
