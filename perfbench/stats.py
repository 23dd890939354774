"""Summary statistics and the result line. Pure Python, no Spark."""

from __future__ import annotations

import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(latencies: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest latency percentile that still has ``beyond``
    samples above it: ``(value, percentile, n_samples)``.

    With ``n`` sorted samples that is the sample at rank
    ``n - beyond`` (1-based), i.e. percentile ``100 * (n - beyond) / n``.
    Below ``2 * beyond`` samples that percentile would not reach the
    median, so the maximum is returned instead, as percentile 100;
    the sample count tells the reader which case applies.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * beyond:
        return xs[-1], 100.0, n
    rank = n - beyond  # 1-based
    return xs[rank - 1], 100.0 * rank / n, n


def result_line(
    spec: dict,
    trace: bool,
    values: dict[str, float],
    correct: bool,
    attempted: int,
    failed: int,
) -> str:
    """The last stdout line: every end-to-end metric of ``spec``
    (``trace`` false) or every per-layer metric (``trace`` true),
    each with its unit. A metric missing from ``values`` is a bug in
    the benchmark, so it raises instead of printing a partial line."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in group if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in group
    }
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })
