"""Crash/replay and restart pins for the streaming admission lanes
(``operators.admission``).

Every ``stream_*_admission`` lane runs two micro-batches, loses the
last commit marker (the crash window between the state-delta write and
the checkpoint commit), restarts, and must reproduce its survivors;
the exactly-once states (video ``index/``, ``postings/``) must keep
their row counts.  Bucketed state must survive a restart that finds
the state files on disk but no catalog entry for them."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pytest


@dataclass(frozen=True)
class Lane:
    name: str
    schema: str
    batches: Callable  # () -> (batch-0 rows, batch-1 rows)
    run: Callable  # (stream, state_dir, **kw) -> StreamingQuery
    id_col: str | None  # survivors' id column; None: no survivors
    survivors: list | None
    exactly_once: tuple[str, ...] = ()
    bucketed: tuple[str, ...] = ()  # states kept as bucketed tables


def _url_batches():
    return (
        [(0, "https://a.com/x?b=2&a=1"),
         (1, "HTTPS://WWW.A.com/x/?a=1&b=2"),
         (2, "https://b.com/y")],
        [(10, "https://a.com/x?a=1&b=2#f"),      # cross-batch dup
         (11, "https://c.com/z"),                 # novel
         (12, "https://c.com/z?utm_source=s")],   # within-batch dup
    )


def _cdc_batches():
    rng = np.random.default_rng(23)
    p0 = rng.integers(0, 256, 20_000, dtype=np.uint8).tobytes()
    p2 = rng.integers(0, 256, 20_000, dtype=np.uint8).tobytes()
    return [(0, p0)], [(10, p0), (11, b"NEWHEAD" * 8 + p0), (12, p2)]


def _image_batches():
    from evm_archive_spark.operators.png import encode_png

    rng = np.random.default_rng(47)

    def img():
        im = rng.integers(0, 256, size=(24, 24, 4), dtype=np.uint8)
        im[:, :, 3] = 255
        return encode_png(im)

    a, b, c = img(), img(), img()
    return [(0, a), (1, a), (2, b)], [(10, a), (11, c)]


def _video_batches():
    return (
        [(1, b"vA" * 40), (2, b"vA" * 40)],
        [(10, b"vA" * 40), (11, b"vB" * 40)],
    )


def _corpus_batches():
    anchor = "first anchor document body with several tokens inside"
    return (
        [(0, anchor),
         (1, "completely different content about storage engines and "
             "columnar formats for analytical workloads")],
        [(10, anchor),                                 # exact dup of 0
         (12, "novel second shard document with enough tokens to pass "
              "the quality gate easily and no shared shingles at all")],
    )


def _postings_batches():
    from test_retrieval import DOCS

    return DOCS[:3], DOCS[3:]


def _url(stream, state, **kw):
    from evm_archive_spark.operators.weburl import stream_url_admission

    return stream_url_admission(stream, state, **kw)


def _cdc(stream, state, **kw):
    from evm_archive_spark.operators.cdc import stream_cdc_admission

    return stream_cdc_admission(
        stream, state, min_size=64, avg_size=256, max_size=1024, **kw
    )


def _image(stream, state, **kw):
    from evm_archive_spark.operators.multimodal import stream_image_admission

    return stream_image_admission(
        stream, state, max_hamming=6, strict=True, **kw
    )


def _video(stream, state, **kw):
    from evm_archive_spark.operators.multimodal import stream_video_admission

    return stream_video_admission(
        stream, state, every_n=1, min_shared=1, **kw
    )


def _corpus(stream, state, **kw):
    from evm_archive_spark.operators.corpus import stream_corpus_admission

    return stream_corpus_admission(
        stream, state, min_tokens=4, num_perm=8, bands=4, k=5,
        method="md5", **kw
    )


def _postings(stream, state, **kw):
    from evm_archive_spark.operators.retrieval import (
        stream_postings_admission,
    )

    return stream_postings_admission(stream, state, **kw)


LANES = [
    Lane("url", "doc_id long, url string", _url_batches, _url,
         "doc_id", [0, 2, 11], bucketed=("index",)),
    Lane("cdc", "media_id long, payload binary", _cdc_batches, _cdc,
         "media_id", [0, 12], bucketed=("chunks",)),
    Lane("image", "media_id long, payload binary", _image_batches,
         _image, "media_id", [0, 2, 11], bucketed=("index",)),
    Lane("video", "media_id long, payload binary", _video_batches,
         _video, "media_id", [1, 11], exactly_once=("index",)),
    Lane("corpus", "doc_id long, text string", _corpus_batches, _corpus,
         "doc_id", [0, 1, 12], bucketed=("digests", "bands")),
    Lane("postings", "doc_id long, text string", _postings_batches,
         _postings, None, None, exactly_once=("postings",)),
]


def _land(spark, lane, src, i):
    """Write micro-batch ``i`` of ``lane`` as one parquet file with a
    pinned mtime, so the file source orders the batches."""
    rows = lane.batches()[i]
    before = set(os.listdir(src)) if os.path.isdir(src) else set()
    cols = [c.split()[0] for c in lane.schema.split(",")]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=cols), lane.schema
    ).coalesce(1).write.mode("append").parquet(src)
    t = time.time() - 100 + 50 * i
    for f in set(os.listdir(src)) - before:
        os.utime(os.path.join(src, f), (t, t))


def _run(spark, lane, src, state, **kw):
    stream = spark.readStream.schema(lane.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = lane.run(stream, state, **kw)
    # the lane contract: the returned query has terminated and left
    # the active set, so a restart can reuse the checkpoint at once
    assert not q.isActive
    assert all(a.id != q.id for a in spark.streams.active)
    return q


def _survivors(spark, lane, state):
    rows = spark.read.parquet(f"{state}/survivors").collect()
    return sorted(rows, key=repr)


def _ids(lane, rows):
    return sorted(r[lane.id_col] for r in rows)


@pytest.mark.parametrize("lane", LANES, ids=lambda lane: lane.name)
def test_replay_of_last_batch_is_identical(spark, tmp_path, lane):
    """Delete the last commit marker (and its ``.crc``) after a
    two-batch run and restart: foreachBatch re-runs batch 1 against
    state that already holds batch 1's own delta.  Survivors must be
    identical and exactly-once states must not grow."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    _land(spark, lane, src, 0)
    _land(spark, lane, src, 1)
    _run(spark, lane, src, state)

    def snapshot():
        surv = (
            _survivors(spark, lane, state) if lane.id_col else None
        )
        counts = {
            s: spark.read.parquet(f"{state}/{s}").count()
            for s in lane.exactly_once
        }
        return surv, counts

    before = snapshot()
    if lane.id_col:
        assert _ids(lane, before[0]) == lane.survivors
    commits = f"{state}/_checkpoint/commits"
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    assert last == "1"
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):  # the Hadoop checksum sibling goes too
        os.remove(crc)
    _run(spark, lane, src, state)
    assert snapshot() == before, f"{lane.name}: replay changed output"
    if lane.id_col:
        # the replayed partition itself is non-empty
        assert spark.read.parquet(f"{state}/survivors/batch_id=1").count()


@pytest.mark.parametrize(
    "lane", [lane for lane in LANES if lane.bucketed],
    ids=lambda lane: lane.name,
)
def test_bucketed_state_survives_restart(spark, tmp_path, lane):
    """A new process finds the bucketed state files on disk but, with
    the default in-memory catalog, no table over them.  Dropping the
    (external) tables between the two micro-batches reproduces exactly
    that; batch 1 must still be admitted against batch 0's state, and
    batch 0's state rows must survive the write."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    prefix = f"t_restart_{lane.name}"
    tables = [f"{prefix}_{s}" for s in lane.bucketed]
    kw = dict(bucketed_state=True, n_buckets=4, table_prefix=prefix)
    try:
        _land(spark, lane, src, 0)
        _run(spark, lane, src, state, **kw)
        n0 = {t: spark.table(t).count() for t in tables}
        assert all(n0.values())
        for t in tables:
            spark.sql(f"DROP TABLE {t}")
        _land(spark, lane, src, 1)
        _run(spark, lane, src, state, **kw)
        assert _ids(lane, _survivors(spark, lane, state)) == lane.survivors
        for t in tables:
            assert spark.table(t).filter("batch_id = 0").count() == n0[t]
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
