"""The benchmark's own arithmetic: percentiles, sums of medians, failure
counting and metric-name checks. Pure Python, no Spark, so it is unit
tested on its own (perfbench/tests/test_stats.py)."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable

MIN_BEYOND = 10  # samples a reported percentile needs above it
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``.

    Refuses (ValueError) when fewer than ``MIN_BEYOND`` samples lie above
    the selected rank, because such a tail value is set by a handful of
    samples and does not repeat from run to run."""
    xs = sorted(values)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    if not xs:
        raise ValueError("percentile of no samples")
    rank = math.ceil(q / 100 * len(xs))  # 1-based nearest rank
    beyond = len(xs) - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return xs[rank - 1]


def sum_of_medians(samples: dict[str, list[float]]) -> float:
    """Sum over queries of each query's median time. Every query must
    have at least one sample: a query that never ran would otherwise
    shrink the sum silently."""
    empty = sorted(k for k, v in samples.items() if not v)
    if empty:
        raise ValueError(f"no samples for {empty}")
    return sum(statistics.median(v) for v in samples.values())


class Outcomes:
    """Counts operations attempted and failed. An operation fails when it
    raised or when its result did not match the reference; both are
    recorded by name so the output can list them."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def raised(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")

    def wrong(self, name: str, detail: str) -> None:
        self.attempted += 1
        self.failures.append(f"{name}: wrong result: {detail[:200]}")

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def check_names(names: Iterable[str]) -> None:
    """Metric names are ``[A-Za-z0-9_.-]+``, start with a letter or digit,
    are at most 64 characters and unique."""
    seen: set[str] = set()
    for n in names:
        if not NAME_RE.fullmatch(n):
            raise ValueError(f"invalid metric name {n!r}")
        if n in seen:
            raise ValueError(f"duplicate metric name {n!r}")
        seen.add(n)


def check_layer_map(layer_moves: dict[str, tuple[str, ...]],
                    end_to_end: Iterable[str]) -> None:
    """Every per-layer metric names at least one end-to-end metric it
    should move, and each named metric is a declared end-to-end one."""
    declared = set(end_to_end)
    for layer, moves in layer_moves.items():
        if not moves:
            raise ValueError(f"{layer} moves no end-to-end metric")
        unknown = set(moves) - declared
        if unknown:
            raise ValueError(f"{layer} maps to undeclared {sorted(unknown)}")
