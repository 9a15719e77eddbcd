"""The open loops' clock: when the next operation is due, and each block's
freshness from the operations that committed it."""

from __future__ import annotations

import math


def next_slot(t0: float, interval: float, started: float) -> float:
    """When the operation after one that ``started`` then is due: the first
    instant of the grid ``t0 + k * interval`` (k >= 1) after its start. As
    with Spark's processingTime trigger, an operation that overran that
    instant is followed at once, not at a later slot."""
    return t0 + max(1, math.floor((started - t0) / interval) + 1) * interval


def block_freshness(ranges, commits, created, blocks) -> tuple[list[float], list[int]]:
    """Freshness of each of ``blocks``: the commit instant of the operation
    whose ``[lo, hi)`` range carried it, minus ``created(block)``. All
    blocks of one operation share its commit. Returns the freshness values
    and the blocks that no operation carried."""
    commit_of: dict[int, float] = {}
    for (lo, hi), t in zip(ranges, commits):
        commit_of.update((b, t) for b in range(lo, hi))
    fresh, missing = [], []
    for b in blocks:
        if b in commit_of:
            fresh.append(commit_of[b] - created(b))
        else:
            missing.append(b)
    return fresh, missing
