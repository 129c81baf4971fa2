"""Pure helpers for the benchmark's figures (no Spark, so the tests can
import them directly)."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # a reported percentile needs at least this many samples above it


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, refused unless at least ``MIN_BEYOND``
    samples lie beyond it (a p90 from 20 samples is two samples' noise)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    beyond = len(ordered) - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {len(ordered)} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return ordered[rank - 1]


def ratio(numerator: float, base: float) -> float:
    """numerator / base; a zero base reads as 0 (no work, no waste)."""
    return numerator / base if base else 0.0


def core_util(exec_run_ms: float, wall_ms: float, cores: int) -> float:
    """Share of the available core time the executors were busy:
    exec_run_ms / (wall_ms x cores). Low means driver- or scheduler-bound."""
    return ratio(exec_run_ms, wall_ms * cores)


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover (child
    intervals may overlap each other, e.g. when two threads nest under one
    parent; covered time is counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
