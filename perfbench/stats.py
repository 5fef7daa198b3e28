"""Spark-free statistics and provenance rules of the benchmark.

Kept apart from the Spark-side workload code so the rules can be unit-tested without a
JVM: the tail-percentile rule, pooling of samples over passes, failure
accounting, and the refusal to compare results whose headers differ.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first. A run reports the highest one
# that leaves at least TAIL_BEYOND samples above it, so the tail of a short
# run is a lower percentile rather than a single outlier.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def nearest_rank(sorted_values: list[float], p: float) -> float:
    """The nearest-rank ``p``-th percentile of already sorted values."""
    if not sorted_values:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def tail(values: list[float], guaranteed: int | None = None) -> dict:
    """The highest ladder percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as ``{"p", "value", "n", "beyond"}``.

    ``guaranteed`` is the sample count every run of the workload reaches;
    choosing the percentile from it rather than from this run's count keeps
    the percentile the same across runs whose sample counts differ. With
    fewer than ``2 * TAIL_BEYOND`` samples no ladder step qualifies; the
    median is returned and ``beyond`` says how thin the tail is.
    """
    xs = sorted(values)
    n = len(xs)
    rule_n = min(n, guaranteed) if guaranteed else n
    for p in TAIL_LADDER:
        if rule_n - max(1, math.ceil(p / 100.0 * rule_n)) >= TAIL_BEYOND:
            break
    return {"p": p, "value": nearest_rank(xs, p), "n": n,
            "beyond": n - max(1, math.ceil(p / 100.0 * n))}


def pool(per_pass: list[dict[str, float]]) -> list[float]:
    """Pool per-pass ``{op: seconds}`` samples into one list, in pass order.

    Percentiles of the pooled list weigh every timed sample equally, which
    is steadier than a percentile of per-pass percentiles.
    """
    return [v for sample in per_pass for v in sample.values()]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


class Ledger:
    """Failure accounting: every attempted op is counted, and an op that
    raised or returned a wrong result counts as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.reject(what)

    def reject(self, what: str) -> None:
        """An op already counted as attempted turned out wrong (a check
        made after the run, such as the DuckDB oracle)."""
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


# Header keys that describe WHAT was measured. Two results may be compared
# only when all of these agree; ``commit`` and ``source_digest`` name the
# code under test and are what a comparison is for, and ``trace`` differs
# when a traced run is compared with an untraced one to measure the
# tracing overhead.
COMPARABLE_KEYS = ("workload", "cpus", "sf", "seed", "seconds",
                   "queries", "pyspark", "java", "bench_digest", "tail_p")


class HeaderMismatch(ValueError):
    pass


def check_comparable(a: dict, b: dict) -> None:
    """Raise :class:`HeaderMismatch` naming every comparable key on which
    two result headers differ (a different core count, scale factor,
    query list, tail percentile, ...)."""
    diffs = [f"{k}: {a.get(k)!r} != {b.get(k)!r}" for k in COMPARABLE_KEYS
             if a.get(k) != b.get(k)]
    if diffs:
        raise HeaderMismatch("refusing to compare results measured differently: "
                             + "; ".join(diffs))


def compare(a: dict, b: dict) -> dict[str, dict]:
    """Per-metric ratio ``b / a`` of two reports with comparable headers."""
    check_comparable(a["header"], b["header"])
    out = {}
    for name, m in a["metrics"].items():
        if name in b["metrics"] and m["value"]:
            out[name] = {"a": m["value"], "b": b["metrics"][name]["value"],
                         "ratio": b["metrics"][name]["value"] / m["value"],
                         "unit": m["unit"]}
    return out
