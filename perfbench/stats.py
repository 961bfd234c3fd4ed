"""Arithmetic shared by the benchmark: order statistics, interval
coverage and storage amplification. Pure functions, no Spark."""

from __future__ import annotations

import math
import os
import statistics


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of an empty sample")
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        x = median(xs)
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Part of ``[start, end]`` covered by the union of ``children``."""
    return union_length([(max(lo, start), min(hi, end)) for lo, hi in children])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


def commit_bytes(commit) -> tuple[int, bool]:
    """(data bytes the commit added, whether it only inserted): an
    insert-only commit adds files and removes or tombstones none."""
    added = sum(f.size_bytes for f in commit.add)
    return added, bool(commit.add) and not commit.remove and not commit.dvs


def write_amp(commits) -> float:
    """Data bytes added by all commits ÷ bytes added by insert-only ones."""
    total = inserted = 0
    for c in commits:
        added, insert_only = commit_bytes(c)
        total += added
        inserted += added if insert_only else 0
    if inserted == 0:
        raise ValueError("write_amp needs at least one insert-only commit")
    return total / inserted


def disk_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``."""
    n = 0
    for d, _, names in os.walk(root):
        n += sum(os.path.getsize(os.path.join(d, x)) for x in names)
    return n


def space_amp(disk: int, live: int) -> float:
    """Bytes on disk under the table roots ÷ bytes of live data files."""
    if live <= 0:
        raise ValueError("space_amp needs live data")
    return disk / live
