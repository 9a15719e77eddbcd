"""Content-defined chunking (CDC) and chunk-level binary dedup.

The binary mirror of the text lane's line/span dedup: split payloads at
content-determined boundaries so that shared regions between documents
(re-uploaded files, boilerplate headers, re-encoded containers sharing
tracks) produce identical chunks regardless of their byte offset, then
dedup on chunk digests.  This is the rsync/LBFS/FastCDC family (Xia et
al., USENIX ATC'16) — the standard storage-side dedup for mixed binary
corpora, where whole-payload digests (``dedup.py``) miss shifted
content and near-dup hashing (``multimodal.py``) needs decodable
media.

Two chunkers, one contract:

- ``cdc_chunks`` — production path: gear-hash FastCDC (deterministic
  table derived from sha256, normalized masks, min/avg/max sizes) over
  raw bytes in ``mapInPandas`` Arrow batches.  ~1 table lookup + shift
  per byte, map-side only; the only shuffle anywhere downstream is the
  digest groupBy in ``chunk_dedup_stats``.  Not SQL-expressible (the
  boundary recurrence skips after each cut) — pytest-gated on the CDC
  resync property and min/max invariants.
- ``cdc_chunks_positional`` — the oracle-portable twin (q_cdc): a
  boundary closes after string position ``i`` iff the md5 of the
  ``w``-char window ending at ``i`` starts with ``'0'`` (positions are
  boundary-independent, so DuckDB replays the construction exactly).
  Pure JVM higher-order functions — no Python in the path; md5-per-
  position makes it the GATE construction, not the 100-TB path.

``chunk_dedup_stats`` works on either chunk table: global first-copy
ranking per digest (window over digest — bounded: identical-digest
groups), per-document duplicated chunk/byte counts.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("start_pos", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("chunk_md5", T.StringType()),
    ]
)


def gear_table() -> list[int]:
    """256 deterministic 64-bit gear constants: sha256(byte) — no RNG,
    so chunk boundaries are reproducible across sessions/executors."""
    return [
        int.from_bytes(hashlib.sha256(bytes([i])).digest()[:8], "big")
        for i in range(256)
    ]


_GEAR_NP = None


def _gear_hash_all(arr) -> "object":
    """Full-history gear hash at every position, vectorized:
    ``h[i] = sum_{k=0..63} gear[b[i-k]] << k  (mod 2^64)`` — the
    left-shift recurrence ages a byte out after 64 steps, so the hash
    is a function of the last 64 bytes only (position-local, which is
    exactly what gives CDC its resync property).  64 shifted vector
    adds instead of a per-byte Python loop."""
    import numpy as np

    global _GEAR_NP
    if _GEAR_NP is None:
        _GEAR_NP = np.array(gear_table(), dtype=np.uint64)
    g = _GEAR_NP[arr]
    h = np.zeros(len(arr), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(min(64, len(arr))):
            if k == 0:
                h += g
            else:
                h[k:] += g[:-k] << np.uint64(k)
    return h


def fastcdc_boundaries(
    b: bytes,
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
) -> list[int]:
    """FastCDC cut points (end offsets, exclusive; the final len(b) cut
    included).  Gear hash over the last 64 bytes; normalized chunking:
    a harder mask (2x bits) before avg_size, an easier one (half bits)
    after, which pulls the size distribution toward avg_size (Xia et
    al. §3.4, adapted to a full-history position-local hash so the
    per-position work vectorizes).

    Two-phase scan: numpy computes the hash at EVERY position (64
    shifted vector adds), boundary candidates for each mask drop out
    as ~1/2^bits-sparse position arrays, and a Python walk over just
    the candidates (searchsorted per chunk) applies the min/avg/max
    recurrence — per-byte cost stays vectorized, the sequential part
    touches only candidate cut points."""
    import numpy as np

    if not avg_size or avg_size & (avg_size - 1):
        raise ValueError("avg_size must be a power of two")
    if not (0 < min_size <= avg_size <= max_size):
        raise ValueError("need 0 < min_size <= avg_size <= max_size")
    n = len(b)
    if n == 0:
        return []
    bits = avg_size.bit_length() - 1
    mask_s = np.uint64((1 << (bits + 1)) - 1)  # strict: before avg_size
    mask_l = np.uint64((1 << (bits - 1)) - 1)  # lax: after avg_size
    arr = np.frombuffer(b, dtype=np.uint8)
    h = _gear_hash_all(arr)
    # cut AFTER position i -> candidate cut offset i + 1
    cand_s = np.flatnonzero((h & mask_s) == 0) + 1
    cand_l = np.flatnonzero((h & mask_l) == 0) + 1
    cuts = []
    start = 0
    while start < n:
        end = min(start + max_size, n)
        lo = start + min_size  # first admissible cut offset is lo + 1
        hi_strict = min(start + avg_size, end)
        cut = end
        j = np.searchsorted(cand_s, lo + 1)
        if j < len(cand_s) and cand_s[j] <= hi_strict:
            cut = int(cand_s[j])
        elif hi_strict < end:
            j = np.searchsorted(cand_l, hi_strict + 1)
            if j < len(cand_l) and cand_l[j] <= end:
                cut = int(cand_l[j])
        cuts.append(cut)
        start = cut
    return cuts


def cdc_chunks(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
) -> DataFrame:
    """FastCDC chunk table over a binary column: (media_id, chunk_idx,
    start_pos, length, chunk_md5), start_pos 1-based.  Map-side only —
    chunking never shuffles; at 100 TB cost is the payload scan."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = {c: [] for c in
                   ("media_id", "chunk_idx", "start_pos", "length",
                    "chunk_md5")}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload or b"")
                prev = 0
                for k, cut in enumerate(
                    fastcdc_boundaries(b, min_size, avg_size, max_size)
                ):
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(k)
                    out["start_pos"].append(prev + 1)
                    out["length"].append(cut - prev)
                    out["chunk_md5"].append(
                        hashlib.md5(b[prev:cut]).hexdigest()
                    )
                    prev = cut
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, CHUNK_SCHEMA)


def cdc_chunks_positional(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Positional-boundary CDC over a STRING column, pure JVM
    expressions: position ``i`` (1-based, characters) ends a chunk iff
    ``i = length`` or (``i >= w`` and md5 of the w-char window ending
    at ``i`` starts with '0').  Boundaries don't depend on earlier cuts
    (no min-size skip), so the construction is positionally replayable
    in ANSI SQL — this is the q_cdc oracle twin of ``cdc_chunks``."""
    # The boundary array is EXPENSIVE (one md5 per character position).
    # Any formulation that references it from a second expression —
    # element_at after a posexplode, ends[k-1] inside a transform
    # lambda — gets the md5 chain inlined by CollapseProject and
    # recomputed per chunk row (or worse, per array element: O(n^2)
    # md5s; measured 24 s at sf0.01).  The fix is the NOTES.md gotcha:
    # bind the array ONCE as the input of a single `aggregate` HOF and
    # build the (idx, start, end) structs in its running fold — the
    # aggregate's collection argument is evaluated exactly once per
    # row, and nothing downstream re-touches the md5 chain.
    tsrc = f"coalesce({text_col}, '')"
    ends_sql = (
        f"filter(sequence(1, length({tsrc})), "
        f"i -> i = length({tsrc}) OR (i >= {w} "
        f"AND substring(md5(substring({tsrc}, i - {w - 1}, {w})), "
        f"1, 1) = '0'))"
    )
    acc_t = "array<struct<chunk_idx:int,start_pos:int,e:int>>"
    chunks_sql = (
        f"CASE WHEN length({tsrc}) >= 1 THEN "
        f"aggregate({ends_sql}, "
        f"named_struct('prev', 0, 'acc', cast(array() as {acc_t})), "
        "(st, e) -> named_struct('prev', e, 'acc', concat(st.acc, "
        "array(named_struct('chunk_idx', size(st.acc), "
        "'start_pos', st.prev + 1, 'e', e)))), "
        "st -> st.acc) "
        f"ELSE cast(array() as {acc_t}) END"
    )
    packed = df.select(
        F.col(id_col).alias("media_id"),
        F.expr(tsrc).alias("t"),
        F.expr(chunks_sql).alias("ch"),
    )
    # explode_OUTER, not explode: InferFiltersFromGenerate turns a plain
    # explode into a pushed-down `size(ch) > 0 AND isnotnull(ch)` filter
    # that inlines the md5-per-position fold TWICE below the fan-out
    # exchange — measured as a 20 s single-task scan stage at sf0.1 with
    # the real 32-way chunk stage sitting idle behind it.  The inference
    # rule skips outer generates; the explicit null filter on the
    # generate OUTPUT drops the empty-array rows explode would have
    # skipped, so the rows are identical.
    rows = packed.select(
        "media_id", "t", F.explode_outer("ch").alias("c")
    ).filter(F.col("c").isNotNull())
    return rows.select(
        "media_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.start_pos").cast("long").alias("start_pos"),
        (F.col("c.e") - F.col("c.start_pos") + 1)
        .cast("long")
        .alias("length"),
        F.md5(
            F.expr("substring(t, c.start_pos, c.e - c.start_pos + 1)")
        ).alias("chunk_md5"),
    )


def persist_chunk_index(
    spark,
    chunks: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Persist the distinct chunk digests of an ingested corpus,
    hash-bucketed by ``chunk_md5`` — the binary-dedup counterpart of
    ``dedup.persist_minhash_band_index``: nightly shards probe this
    index with a ONE-SIDED shuffle (the bucketed scan's output
    partitioning already matches the join key; pinned by
    test_cdc.test_incremental_cdc_bucketed_index_one_sided).  At
    100 TB the index holds one 32-char digest per ~1 KB chunk — about
    3% of corpus bytes — and the corpus payloads are never re-read.

    Append pattern: after a shard is admitted, append its survivors'
    ``chunk_md5`` rows (dropDuplicates within the shard) through the
    same bucket spec; duplicate digests across appends only cost index
    bytes, never correctness (probes are semi-joins)."""
    from .. import storage

    storage.write_bucketed(
        chunks.select("chunk_md5").dropDuplicates(),
        table,
        path,
        ["chunk_md5"],
        n_buckets,
    )
    return spark.table(table)


def incremental_cdc_dedup(
    new_df: DataFrame,
    chunks: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    max_dup_ppm: int = 500_000,
) -> DataFrame:
    """Admit an incoming shard against a persisted chunk-digest index:
    a payload is dropped when more than ``max_dup_ppm`` of its bytes
    live in chunks the corpus has already ingested — the chunk-level
    generalization of ``dedup.incremental_exact_dedup`` (whole-digest)
    that also catches shifted/embedded reuse (CDC resync property).

    ``chunks`` is the shard's chunk table from either chunker (the
    caller picks FastCDC for production or the positional twin for the
    oracle gate).  Plan shape: semi-probe of shard chunk digests
    against the index (one-sided shuffle when bucketed), per-doc
    partial aggregation of duplicated bytes, broadcast-size join back
    onto the shard.  The corpus is never read.  Returns surviving
    shard rows plus ``total_bytes``/``dup_bytes``/``dup_ppm``; append
    survivors' digests to the index afterwards."""
    hits = chunks.join(
        index.select("chunk_md5"), "chunk_md5", "left_semi"
    ).select(F.col("media_id").alias("__hid"), "length")
    per_doc = (
        chunks.groupBy("media_id")
        .agg(F.sum("length").alias("total_bytes"))
        .join(
            hits.groupBy("__hid").agg(F.sum("length").alias("dup_bytes")),
            F.col("media_id") == F.col("__hid"),
            "left",
        )
        .select(
            F.col("media_id").alias("__mid"),
            "total_bytes",
            F.coalesce("dup_bytes", F.lit(0)).cast("long").alias(
                "dup_bytes"
            ),
        )
        .withColumn(
            "dup_ppm",
            F.when(
                F.col("total_bytes") > 0,
                F.floor(
                    F.col("dup_bytes") * 1_000_000 / F.col("total_bytes")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return (
        new_df.join(
            per_doc, F.col(id_col) == F.col("__mid"), "left"
        )
        .filter(
            F.coalesce(F.col("dup_ppm"), F.lit(0)) <= F.lit(max_dup_ppm)
        )
        .drop("__mid")
        .withColumn(
            "total_bytes",
            F.coalesce("total_bytes", F.lit(0)).cast("long"),
        )
        .withColumn(
            "dup_bytes", F.coalesce("dup_bytes", F.lit(0)).cast("long")
        )
        .withColumn(
            "dup_ppm", F.coalesce("dup_ppm", F.lit(0)).cast("long")
        )
    )


def stream_cdc_admission(
    payload_stream: DataFrame,
    state_dir: str,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    min_size: int = 256,
    avg_size: int = 1024,
    max_size: int = 4096,
    max_dup_ppm: int = 500_000,
    bucketed_state: bool = False,
    n_buckets: int = 64,
    table_prefix: str | None = None,
):
    """The STREAMING face of chunk-level binary dedup (``admission``
    driver): each micro-batch of payloads is FastCDC-chunked and
    admitted when at most ``max_dup_ppm`` of its bytes are in the
    persisted ``chunks/`` digests (bucketed by ``chunk_md5`` under
    ``bucketed_state=True``); the survivors' digests join the state.
    Ingested payloads are never re-read.  ``survivors/`` holds the
    admitted rows + dup stats."""
    from . import admission

    kw = dict(min_size=min_size, avg_size=avg_size, max_size=max_size)

    def admit(batch, state):
        return incremental_cdc_dedup(
            batch, cdc_chunks(batch, payload_col, id_col, **kw),
            state("chunks"), id_col=id_col, max_dup_ppm=max_dup_ppm,
        )

    def delta(batch, surv):
        return (
            cdc_chunks(batch, payload_col, id_col, **kw)
            .join(
                surv.select(F.col(id_col).alias("__sid")),
                F.col("media_id") == F.col("__sid"),
                "left_semi",
            )
            .select("chunk_md5")
            .dropDuplicates()
        )

    return admission.run(
        payload_stream,
        state_dir,
        admit,
        [admission.State("chunks", "chunk_md5 string", delta, ("chunk_md5",))],
        bucketed_state=bucketed_state,
        n_buckets=n_buckets,
        table_prefix=table_prefix,
    )


def chunk_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Per-document chunk-level dedup profile from a chunk table:
    every (digest) group keeps its first copy by (media_id, chunk_idx)
    order; later copies are duplicates.  Output per document (BIGINT):
    ``n_chunks``, ``total_bytes``, ``dup_chunks``, ``dup_bytes``,
    ``dup_bytes_ppm``.

    Shuffle shape: one hash partition by digest (identical-digest
    groups are small — boilerplate digests cap at corpus copy count,
    and the window ranks, it never materializes cross-products), then
    one groupBy media_id with partial aggregation."""
    wnd = Window.partitionBy("chunk_md5").orderBy("media_id", "chunk_idx")
    ranked = chunks.withColumn("rk", F.row_number().over(wnd))
    return (
        ranked.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("length").alias("total_bytes"),
            F.sum(F.when(F.col("rk") > 1, 1).otherwise(0)).alias(
                "dup_chunks"
            ),
            F.sum(
                F.when(F.col("rk") > 1, F.col("length")).otherwise(0)
            ).alias("dup_bytes"),
        )
        .select(
            "media_id",
            "n_chunks",
            "total_bytes",
            "dup_chunks",
            "dup_bytes",
            F.when(
                F.col("total_bytes") > 0,
                F.floor(
                    F.col("dup_bytes") * 1_000_000 / F.col("total_bytes")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_bytes_ppm"),
        )
    )
