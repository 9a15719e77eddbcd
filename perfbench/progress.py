"""Reading a stream's ``StreamingQueryProgress`` against the chain generator."""

from __future__ import annotations

import re


def batches(progress: list[dict]) -> list[dict]:
    """Progress of every micro-batch that read rows, in batch order."""
    seen = {p["batchId"]: p for p in progress if p["numInputRows"] > 0}
    return [seen[k] for k in sorted(seen)]


def offsets(p: dict) -> tuple[int | None, int]:
    """[lo, hi) block range a micro-batch read; lo is None for the first."""
    def block(o):  # the source's offset dict as text; 'None' before the first batch
        m = re.search(r"next_block\D+(\d+)", str(o))
        return int(m.group(1)) if m else None

    src = p["sources"][0]
    return block(src["startOffset"]), block(src["endOffset"])


def block_range(p: dict, from_block: int) -> tuple[int, int]:
    """[lo, hi) block range of a micro-batch of a stream started at ``from_block``."""
    lo, hi = offsets(p)
    return (from_block if lo is None else lo), hi


def delivered(chain, done: list[dict], from_block: int) -> list[int]:
    """Rows the chain node delivered for each micro-batch, tombstones
    included, from the generator and the batch's offsets. Spark's
    ``numInputRows`` is not used: it counts a source row once per scan of
    the batch, and the sink's writer scans each batch more than once."""
    out = []
    for p in done:
        lo, hi = block_range(p, from_block)
        out.append(len(chain.delivered_rows(lo, hi - 1)))
    return out
