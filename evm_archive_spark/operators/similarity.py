"""Similarity search over embedding columns (north-star extension).

Baseline: brute-force cosine / dot-product top-k as a broadcast
map-side join — no shuffle of the big side; the query set is broadcast and
every executor scores its partition locally, then a single top-k-per-query
aggregation runs on (n_queries x n) candidate rows.  Scale path: LSH
bucketing (random hyperplane signatures) to cut the candidate set.

All hot-path math is JVM-side (``zip_with`` + ``aggregate`` fold over the
array column) — no Python UDFs.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, Window, functions as F

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)

_QDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
    "CAST(FLOOR(CAST(y AS DOUBLE) * 1000) AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def dot(a: str, b: str) -> F.Column:
    """JVM-side dot product of two array<float|double> columns."""
    return F.expr(_DOT.format(a=a, b=b))


def norm(a: str) -> F.Column:
    return F.sqrt(F.expr(_DOT.format(a=a, b=a)))


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the corpus.

    ``exclude_same_id=True`` (the default, and the self-query
    contract: queries drawn FROM the corpus shouldn't return
    themselves) removes corpus rows whose id equals the query id.
    Pass False when ``queries`` is an EXTERNAL set with its own id
    namespace — with the default, a corpus vector that merely shares
    an external query's id number would be silently excluded from
    that query's candidates (review r12).

    Plan shape at scale: Parquet scan of the corpus stays partition-local
    (queries broadcast), the only shuffle is the final top-k window over
    n_queries*k candidate-bounded rows after per-partition scoring.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cond = F.col(id_col) != F.col("query_id") if exclude_same_id \
        else F.lit(True)
    scored = (
        df.alias("c")
        .join(F.broadcast(q), cond)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                F.expr(_DOT.format(a=vec_col, b="__qvec"))
                / (norm(vec_col) * norm("__qvec"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def quantized_dot_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Parity-gate variant of brute-force top-k: integer-quantized dot
    product (exact, engine-independent), first ``n_queries`` ids as the
    query set, ties broken by neighbor id."""
    # quantize each side ONCE PER ROW below the join (r14): the inlined
    # _QDOT re-quantized both 64-element arrays PER PAIR — n_queries x
    # corpus FLOOR/CAST passes instead of one each; HOF expressions run
    # interpreted (no codegen), so this dominated the scoring stage.
    # Same integers in the same order (the cosine_near_duplicate_pairs
    # _QUANT + _IDOT pattern), so the gate hash is unchanged.
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__qvec"),
    )
    scored = (
        emb.select(
            F.col(id_col), F.expr(_QUANT.format(v=vec_col)).alias("__cq")
        )
        .join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_IDOT.format(a="__cq", b="__qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


_MILLI = "transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def quantize_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[int], list[int]]:
    """Per-dimension (min, max) of the milli-quantized corpus — the
    training pass of scalar quantization.

    One aggregation job: posexplode is map-side, the shuffle keys on the
    dimension index (d distinct keys) with partial min/max combine, and
    only 2*d scalars reach the driver — the frozen-stats analog of
    ``commonness_stats``' frozen vocab.  At 100 TB run this once (or over
    ``df.sample``), persist the lists, and pass them to
    ``scalar_quantize(stats=...)`` so scoring a new shard is one scan.
    """
    rows = (
        df.select(
            F.posexplode(F.expr(_MILLI.format(v=vec_col))).alias("dim", "m")
        )
        .groupBy("dim")
        .agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    return [int(r["mn"]) for r in rows], [int(r["mx"]) for r in rows]


def scalar_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    levels: int = 256,
    stats: tuple[list[int], list[int]] | None = None,
    out_col: str = "codes",
) -> DataFrame:
    """Per-dimension scalar quantization of float embeddings into
    ``levels`` integer codes (int8 range when ``levels<=256``) — the
    IVF-SQ memory-reduction path: a float32 corpus stores 4 bytes/dim,
    codes store 1, so a 100 TB embedding store probes from 25 TB.

    Elements are first floor-quantized at 1e3 (the suite's exact-integer
    convention, see ``_QDOT``), then mapped to
    ``floor((m - mn) * (levels-1) / max(mx - mn, 1))`` with per-dimension
    (mn, mx) from ``quantize_stats``.  After the (tiny) stats job the
    quantization itself is a pure ``zip_with`` against an array literal of
    d structs — map-side, whole-stage codegen, zero shuffles over the
    corpus; exact integer output, deterministic on every engine and
    partitioning.
    """
    if stats is None:
        stats = quantize_stats(df, vec_col)
    mins, maxs = stats
    # flat F.lit literals (materialized once), not a per-row CreateArray
    # of structs; the (mx - mn) spans fold into the literal driver-side
    mn_lit = F.lit([int(mn) for mn in mins]).cast("array<bigint>")
    span_lit = F.lit(
        [max(int(mx) - int(mn), 1) for mn, mx in zip(mins, maxs)]
    ).cast("array<bigint>")
    milli = F.expr(_MILLI.format(v=vec_col))
    shifted = F.zip_with(milli, mn_lit, lambda m, mn: m - mn)
    codes = F.zip_with(
        shifted,
        span_lit,
        lambda s, span: F.floor(s * (levels - 1) / span).cast("long"),
    )
    return df.withColumn(out_col, codes)


def dequantize_milli(
    codes_col: str,
    stats: tuple[list[int], list[int]],
    levels: int = 256,
) -> F.Column:
    """Reconstruct milli-unit values from codes (centre of each cell is
    not needed for ranking; the low edge keeps arithmetic exact):
    ``mn + code * max(mx - mn, 1) / (levels-1)`` floored to BIGINT.
    Reconstruction error per element is bounded by the cell width
    ``(mx - mn) / (levels-1)`` milli-units."""
    mins, maxs = stats
    mn_lit = F.lit([int(mn) for mn in mins]).cast("array<bigint>")
    span_lit = F.lit(
        [max(int(mx) - int(mn), 1) for mn, mx in zip(mins, maxs)]
    ).cast("array<bigint>")
    scaled = F.zip_with(
        F.col(codes_col),
        span_lit,
        lambda c, span: F.floor(c * span / (levels - 1)).cast("long"),
    )
    return F.zip_with(scaled, mn_lit, lambda s, mn: (s + mn).cast("long"))


def ivf_train(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train IVF centroids fully distributed, deterministically.

    Init = a pseudo-random sample of ``n_centroids`` corpus vectors ordered
    by ``xxhash64(id, seed)`` (TakeOrdered top-k — no driver collect, no RNG
    state).  Refinement = Lloyd iterations expressed relationally: assign
    (broadcast centroids, argmin by window), then recompute means with
    ``posexplode`` + groupBy(cid, dim) + avg, re-packed into arrays.  Every
    step is built-in DataFrame ops, so at 100 TB the assignment is a
    map-side broadcast join and the mean is one shuffle keyed on
    (cid, dim) — k*dim rows, trivially small.

    ``sample_fraction`` runs the Lloyd refinement over a deterministic
    hash sample of the corpus (mini-batch k-means): at 100 TB a 1%
    sample trains centroids of equivalent quality while each iteration
    scans 1% of the data; probe correctness never depends on centroid
    quality (only recall-at-nprobe does).  None = full-corpus Lloyd.

    Returns a DataFrame (centroid_id, centroid: array<double>).
    """
    train_df = df
    if sample_fraction is not None:
        train_df = df.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), 10_000)
            < int(round(sample_fraction * 10_000))
        )
    cent = (
        df.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_centroids)
        .coalesce(1)
        .select(
            F.row_number()
            .over(Window.orderBy(F.xxhash64(F.col(id_col), F.lit(seed))))
            .alias("centroid_id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(
                "centroid"
            ),
        )
    )
    # centroids are k rows of k*dim doubles — checkpoint each refinement so
    # downstream consumers (corpus assign, query assign, next iteration)
    # don't lazily recompute the whole Lloyd chain per consumer.  The INIT
    # centroids are consumed exactly once (inside the first iteration's
    # broadcast build), so checkpointing them is a wasted barrier unless
    # the loop never runs and they ARE the result.
    if iters <= 0:
        cent = cent.localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _ivf_assign(train_df, cent, 1, id_col, vec_col).select(
            "centroid_id", vec_col
        )
        cent = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("dim", "x")
            )
            .groupBy("centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
                ).alias("centroid")
            )
        ).localCheckpoint(eager=True)
    return cent


def _ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid ids to every row (nearest =
    max dot product, ties to the lower centroid id).

    nprobe == 1 (the corpus/training path, executed over the full corpus
    every Lloyd iteration) is a pure map: the centroid set is packed into
    one broadcast row and the argmax folds over it inside codegen — no row
    expansion, no shuffle, no window.  nprobe > 1 runs only on the small
    query side, where the crossJoin + top-n window is fine."""
    if nprobe == 1:
        packed = centroids.agg(
            F.expr(
                "sort_array(collect_list(struct(centroid_id, centroid)))"
            ).alias("__cents")
        )
        dot_c = _DOT.format(a=vec_col, b="c.centroid")
        # one dot product per centroid: score first (transform), then take
        # the struct max — struct ordering is field-wise, so ('d' desc,
        # '-cid' desc) = highest dot, ties to the LOWEST centroid id.  The
        # naive fold `CASE WHEN dot > best THEN dot` evaluates each dot
        # twice.
        argmax = (
            f"(-array_max(transform(__cents, c -> named_struct("
            f"'d', {dot_c}, 'ncid', -CAST(c.centroid_id AS BIGINT)))).ncid)"
        )
        return (
            df.crossJoin(F.broadcast(packed))
            .withColumn("centroid_id", F.expr(argmax).cast("int"))
            .drop("__cents")
        )
    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "__cdot", F.expr(_DOT.format(a=vec_col, b="centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cdot").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("__crnk", F.row_number().over(w))
        .filter(F.col("__crnk") <= nprobe)
        .drop("centroid", "__cdot", "__crnk")
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` inverted lists whose
    centroids are nearest each query, instead of scanning the corpus.

    Scale shape: the corpus is assigned to lists once (broadcast centroids,
    no shuffle; at 100 TB you persist this bucketed by ``centroid_id``);
    each query probes nprobe lists via a *broadcast* join on centroid_id
    (query side is n_queries*nprobe rows), so the corpus is never shuffled
    and only ~nprobe/n_centroids of it is scored.  ``nprobe ==
    n_centroids`` degenerates to exact brute force — that invariant is the
    parity-gate oracle; recall at nprobe < n_centroids is covered by tests.

    Output matches ``quantized_dot_topk``: (query_id, neighbor_id, dot, rnk).
    """
    cent = ivf_train(
        emb, n_centroids, iters, id_col, vec_col, seed,
        sample_fraction=sample_fraction,
    )
    # quantize once per row below the probe join (r14, the
    # quantized_dot_topk rationale — the per-pair re-quantization was
    # the dominant scoring cost)
    corpus = _ivf_assign(emb, cent, 1, id_col, vec_col).select(
        F.col(id_col),
        "centroid_id",
        F.expr(_QUANT.format(v=vec_col)).alias("__cq"),
    )
    q = _ivf_assign(
        emb.filter(F.col(id_col) < n_queries), cent, nprobe, id_col, vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__qvec"),
        "centroid_id",
    )
    scored = (
        corpus.join(
            F.broadcast(q),
            (corpus.centroid_id == q.centroid_id)
            & (F.col(id_col) != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_IDOT.format(a="__cq", b="__qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


_QUANT = "transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_IDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def cosine_near_duplicate_pairs(
    df: DataFrame,
    threshold_num: int = 19,
    threshold_den: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sort: bool = True,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b), decided
    entirely in BIGINT arithmetic so the result is bit-identical across
    engines and partitionings (the parity-gate requirement float cosine
    cannot meet): elements are floor-quantized at 1e3, and
    ``cos >= t = num/den`` becomes ``qdot > 0 AND qdot^2 * den^2 >=
    num^2 * |a|q^2 * |b|q^2`` — no division, no sqrt, no floats.

    This is the O(n^2) *baseline*; at corpus scale use
    ``lsh_near_duplicates`` (bucketed candidates, recall < 1) and treat
    this as the verifier inside buckets.  For unit-scale embeddings at
    dim <= 4096 every intermediate fits int64 (qdot <= dim*1e6, qdot^2 *
    den^2 <= 9.2e18 for den <= 20 at dim 64; check your dims before
    raising den)."""
    q = df.select(
        F.col(id_col).alias("__id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__e"),
        F.expr(
            _IDOT.format(a=_QUANT.format(v=vec_col), b=_QUANT.format(v=vec_col))
        ).alias("__n2"),
    )
    # all-pairs is the gate-bounded baseline (lsh_near_duplicates is the
    # scale path): pin the nested-loop build side so the planner never
    # falls back to an unbroadcast cartesian (a Python-local right side
    # re-evaluates per task otherwise).
    a, b = q.alias("a"), F.broadcast(q).alias("b")
    qd = F.expr(_IDOT.format(a="a.__e", b="b.__e"))
    out = (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            qd.alias("__qd"),
            F.col("a.__n2").alias("__na"),
            F.col("b.__n2").alias("__nb"),
        )
        .filter(
            (F.col("__qd") > 0)
            & (
                F.col("__qd") * F.col("__qd") * F.lit(threshold_den**2)
                >= F.lit(threshold_num**2) * F.col("__na") * F.col("__nb")
            )
        )
        .select("id_a", "id_b")
    )
    # sort=False (r14): composed consumers (components) discard the
    # order, and the sort's range sampling re-runs the pair join
    return out.orderBy("id_a", "id_b") if sort else out


def embedding_dedup_survivors(
    df: DataFrame,
    threshold_num: int = 19,
    threshold_den: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate removal, composed end-to-end:
    quantized-cosine pairs -> connected components -> keep the min-id
    member of each duplicate cluster.  The exact-pairs stage is the
    O(n^2) baseline; at corpus scale swap it for ``lsh_near_duplicates``
    candidates + this same verify/survivor tail (mirrors the text-side
    ``near_duplicate_pipeline``)."""
    from .dedup import dedup_survivors

    pairs = cosine_near_duplicate_pairs(
        df, threshold_num, threshold_den, id_col, vec_col, sort=False
    )
    return dedup_survivors(df, pairs, id_col=id_col)


def ivf_persist(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Train an IVF index and persist the corpus bucketed by centroid —
    the SCALING.md §6 layout: one hive partition directory per inverted
    list, so a probe touches only ``nprobe / n_centroids`` of the files.

    ``{path}/centroids`` holds the k small centroid rows;
    ``{path}/corpus`` is hive-partitioned by ``centroid_id`` (one
    ``repartition`` on the list id — the single shuffle of the build)."""
    cent = ivf_train(emb, n_centroids, iters, id_col, vec_col, seed)
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    corpus = _ivf_assign(emb, cent, 1, id_col, vec_col)
    # Range-partition on (centroid_id, id) instead of hashing on the
    # centroid alone (r14, VERDICT r13 #4): hash on a k-valued key caps
    # the write at k tasks regardless of cluster size and funnels a hot
    # inverted list through ONE writer; the range split keeps the
    # hive-partition layout (each partition holds a contiguous
    # (centroid, id) range) while a big list spreads over many writers
    # and files-per-directory stay proportional to list size (guide
    # §2.5, §6).  persist() around sampler + write: the range exchange
    # SAMPLES its child, which would re-run the assign pass (the r13
    # orderBy lesson); with the cache both reads hit memory.
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    corpus.persist()
    try:
        (
            corpus.repartitionByRange(n_part, "centroid_id", id_col)
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )
    finally:
        corpus.unpersist()


def ivf_append(
    spark,
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally add vectors to a persisted IVF index WITHOUT
    retraining — the ANN counterpart of the incremental dedup lanes
    (nightly embedding shards at 100 TB cannot afford an index rebuild).

    The persisted centroids are the fixed coarse quantizer: assign each
    new vector to its nearest centroid (broadcast join, map-side) and
    APPEND into the existing ``{path}/corpus`` hive partitions —
    dynamic partition append touches only the directories the shard's
    vectors land in; nothing already persisted is read or rewritten.

    Correctness contract (gated as q_ivf_append): probe-at-nprobe=all
    over (persist(half A) then append(half B)) equals exact brute-force
    kNN over A ∪ B — full-probe exactness never depends on WHICH
    centroids partition the lists, so appended shards are exactly as
    searchable as rebuilt ones; only recall-at-small-nprobe drifts as
    the corpus outgrows the quantizer (re-train cadence is an ops
    decision, same as PQ codebooks).  Returns the number of appended
    rows."""
    cent = spark.read.parquet(f"{path}/centroids")
    assigned = _ivf_assign(new_emb, cent, 1, id_col, vec_col)
    # persist around the two actions (count + write): the shard is
    # scanned and assigned ONCE — without this, the count action and the
    # write action each re-run the assignment (a doubled shard scan +
    # doubled centroid broadcast at nightly-shard scale).  Scan-once is
    # pinned by an accumulator test (test_similarity).
    assigned.persist()
    try:
        n = assigned.count()
        # range split on (centroid_id, id), not hash on the k-valued
        # centroid (r14 — the ivf_persist rationale: writer parallelism
        # follows the cluster, hot lists spread, layout unchanged); the
        # range sampler reads the persisted cache, so the shard is
        # still assigned exactly once
        n_part = spark.sparkContext.defaultParallelism
        (
            assigned.repartitionByRange(n_part, "centroid_id", id_col)
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )
    finally:
        assigned.unpersist()
    return n


def ivf_probe_bucketed(
    spark,
    path: str,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: assign each query to its ``nprobe``
    nearest centroids, then score ONLY the matching corpus partitions.

    The probe list (n_queries * nprobe centroid ids) is collected to the
    driver — that is the index lookup, a handful of ints — and applied as
    a static ``isin`` filter, so the parquet scan prunes at the directory
    level (``PartitionFilters: centroid_id IN (...)`` — pinned by plan
    test).
    The corpus is never shuffled: queries broadcast, lists scanned
    partition-local.  Queries are the first ``n_queries`` corpus ids, as
    in ``ivf_topk``; output matches ``quantized_dot_topk``."""
    cent = spark.read.parquet(f"{path}/centroids")
    corpus = spark.read.parquet(f"{path}/corpus")
    queries = corpus.filter(F.col(id_col) < n_queries).select(id_col, vec_col)
    q = _ivf_assign(queries, cent, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__qvec"),
        F.col("centroid_id").alias("__qcid"),
    )
    probe_ids = sorted(
        r[0] for r in q.select("__qcid").distinct().collect()
    )
    # quantize once per scanned corpus row below the join (r14, the
    # quantized_dot_topk rationale)
    scored = (
        corpus.filter(F.col("centroid_id").isin(probe_ids))
        .select(
            F.col(id_col),
            "centroid_id",
            F.expr(_QUANT.format(v=vec_col)).alias("__cq"),
        )
        .join(
            F.broadcast(q),
            (F.col("centroid_id") == F.col("__qcid"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_IDOT.format(a="__cq", b="__qvec")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Sign-random-projection LSH: 64-bit-deterministic hyperplanes derived
    from ``xxhash64(plane, dim, seed)`` (no driver-side randomness, no
    broadcast weight matrix needed — each executor recomputes the pseudo-
    random plane entries inside codegen).

    bucket = bit-packed sign pattern of <v, plane_j>.  Candidate pairs then
    come from an equi self-join on (bucket), turning the O(n^2) all-pairs
    problem into per-bucket blocks — the standard scale path for
    embedding near-dup detection.
    """
    return df.select(
        id_col,
        vec_col,
        hyperplane_lsh_bucket_col(vec_col, n_planes, seed).alias("lsh_bucket"),
    )


def hyperplane_lsh_bucket_col(
    vec_col: str, n_planes: int = 16, seed: int = 42
) -> F.Column:
    """The bucket id as a bare Column, so multi-table variants can pack
    several seeds' buckets into one array on a single corpus scan."""
    # plane_j[i] = +1 / -1 from the parity of a hash of (seed, j, i)
    sign = (
        "aggregate(zip_with({v}, sequence(0, size({v}) - 1), "
        "(x, i) -> CAST(x AS DOUBLE) * "
        "CASE WHEN pmod(xxhash64({seed}, {j}, i), 2) = 0 THEN 1.0 ELSE -1.0 END), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    bucket = None
    for j in range(n_planes):
        bit = (
            F.when(
                F.expr(sign.format(v=vec_col, seed=seed, j=j)) >= 0, F.lit(1)
            ).otherwise(F.lit(0))
            * F.lit(2**j)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket self-join, exact cosine
    verify within buckets.

    A pair at angle theta collides in one table with p = (1-theta/pi)^
    n_planes, so single-table recall collapses for all but near-parallel
    vectors; ``n_tables`` independent plane sets (distinct seeds) union
    their bucket joins before the exact verify — miss probability decays
    as (1-p)^n_tables, the standard recall knob.  Tune (n_planes down,
    n_tables up) for lower thresholds; candidates stay per-bucket blocks,
    never all-pairs, and the verify runs once per distinct pair.

    Plan shape: ONE corpus scan computes every table's bucket (an array
    column posexploded to (table, bucket) rows — same trick as the
    MinHash band explode), so the candidate self-join is a single
    equi-join on (table, bucket); tables are NOT n_tables separate scans.
    """
    buckets = F.array(
        *[
            hyperplane_lsh_bucket_col(
                vec_col, n_planes, seed=seed + 7919 * t
            )
            for t in range(n_tables)
        ]
    )
    b = df.select(
        F.col(id_col).alias("__bid"),
        F.posexplode(buckets).alias("__table", "__bucket"),
    )
    a = b.alias("a")
    c = b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.__table") == F.col("c.__table"))
            & (F.col("a.__bucket") == F.col("c.__bucket"))
            & (F.col("a.__bid") < F.col("c.__bid")),
        )
        .select(
            F.col("a.__bid").alias("id_a"), F.col("c.__bid").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    v = df.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec")
    )
    pairs = (
        cand.join(
            v.withColumnRenamed("__vid", "id_a").withColumnRenamed(
                "__vec", "__va"
            ),
            "id_a",
        )
        .join(
            v.withColumnRenamed("__vid", "id_b").withColumnRenamed(
                "__vec", "__vb"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.expr(_DOT.format(a="__va", b="__vb"))
                / (norm("__va") * norm("__vb"))
            ).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= threshold).orderBy("id_a", "id_b")


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int | None = 37,
    threshold_num: int = 19,
    threshold_den: int = 20,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding corpus, then
    remove within-cluster semantic near-duplicates, keeping one
    representative per duplicate relation.  Clustering makes the quadratic
    pair search local — O(sum |cluster|^2) instead of O(n^2) — which is
    the entire scale story of the method.

    This implementation is exact-integer end to end (the parity-gate
    requirement): vectors are milli-quantized, cluster assignment is
    argmax of the *integer dot* against a deterministic centroid set
    (corpus members with ``id % centroid_mod == 0``; ties to the lowest
    centroid id), and the near-dup decision is the division-free
    quantized-cosine rule of ``cosine_near_duplicate_pairs``.  A row is
    dropped ("keep" false) when any lower-id member of its cluster is
    cosine-similar above ``threshold_num/threshold_den`` — the minimal
    deterministic keep-one rule (for transitive-closure survivors compose
    with ``dedup.dedup_survivors`` instead).

    **Scale (the r11 sf3 study's finding)**: with the default
    corpus-member centroid rule the centroid COUNT grows as n/mod, so
    assignment is O(n^2/mod) — measured superlinear at sf3 (8.7x time
    for 3x vectors).  The production paths decouple it:

    - pass ``centroids`` (a DataFrame of ``(centroid_id, <vec_col>)``,
      e.g. ``ivf_train`` output) — assignment is O(n * k);
    - or pass ``centroid_mod=None`` — the mod auto-sizes to ~sqrt(n)
      (one count() job), giving the paper's balanced O(n^1.5) total
      (assignment O(n*sqrt n) + within-cluster pairs O(n*sqrt n) for
      evenly filled clusters).  Measured sf1 -> sf3: 3.4x time for 3x
      vectors (vs 8.7x under the fixed mod).

    Any deterministic centroid set keeps the result reproducible;
    dot-argmax equals cosine-argmax for the unit-norm embeddings
    SemDeDup operates on.

    Plan shape at 100 TB: the centroid set is packed into one broadcast
    row and assignment folds over it inside codegen (no row expansion, no
    shuffle — the ``_ivf_assign`` idiom); the only corpus shuffles are the
    within-cluster self-join on ``centroid_id`` and the loser anti-join.

    Output: (id_col, centroid_id BIGINT, keep BOOLEAN), one row per input.
    """
    q = df.select(
        F.col(id_col).alias("__id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__e"),
        F.expr(
            _IDOT.format(
                a=_QUANT.format(v=vec_col), b=_QUANT.format(v=vec_col)
            )
        ).alias("__n2"),
    )
    if centroids is not None:
        # accept ivf_train's output shape (centroid_id, centroid)
        # directly, else quantize the caller's vec_col (review r12:
        # the docstring's own example previously raised
        # UNRESOLVED_COLUMN)
        cvec = "centroid" if "centroid" in centroids.columns \
            and vec_col not in centroids.columns else vec_col
        cents = centroids.select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.expr(_QUANT.format(v=cvec)).alias("centroid"),
        )
    else:
        mod = centroid_mod
        if mod is None:
            import math

            mod = max(1, math.isqrt(max(1, df.count())))
        cents = q.filter(F.col("__id") % mod == 0).select(
            F.col("__id").alias("centroid_id"),
            F.col("__e").alias("centroid"),
        )
    # assignment: one vectorized matmul per Arrow batch against the
    # broadcast centroid matrix (mapInPandas) — the r11 sf3 study
    # measured the JVM HOF fold at ~6 µs/dot where BLAS does the same
    # exact int64 dots at ~1 ns/MAC, and the fold is O(n * k) with a
    # constant ~4 orders worse.  Tie rule preserved bit-for-bit:
    # columns sorted by centroid_id ascending, np.argmax takes the
    # FIRST maximum = the lowest centroid id.
    import numpy as np

    crows = sorted(cents.collect(), key=lambda r: r["centroid_id"])
    # an empty centroid set would make every assignment NULL and the
    # dedup silently a no-op (every row keep=true) — fail loudly
    # instead (ADVICE r2; mirrors pq_train's guard)
    if not crows:
        raise ValueError(
            "semantic_dedup: empty centroid set — no id matched the "
            "centroid rule (or the supplied centroids frame is "
            "empty); lower centroid_mod or supply k-means centroids "
            "(ivf_train)"
        )
    cids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    cmat = np.array([list(r["centroid"]) for r in crows],
                    dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast((cids, cmat))
    maxc = int(np.abs(cmat).max(initial=0))
    dims = cmat.shape[1] if cmat.ndim == 2 else 0

    def assign_batches(it):
        import numpy as np
        import pandas as pd

        bcids, bcmat = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            qm = np.array(pdf["__e"].tolist(), dtype=np.int64)
            if dims and int(np.abs(qm).max(initial=0)) * maxc \
                    * dims >= 1 << 62:
                dots = qm.astype(object) @ bcmat.T.astype(object)
            else:
                dots = qm @ bcmat.T
            idx = np.asarray(dots).argmax(axis=1)
            yield pd.DataFrame({
                "__id": pdf["__id"].to_numpy(),
                "__e": pdf["__e"],
                "__n2": pdf["__n2"].to_numpy(),
                "centroid_id": bcids[idx],
            })

    assigned = q.mapInPandas(
        assign_batches,
        "__id long, __e array<bigint>, __n2 long, centroid_id long",
    )
    # within-cluster pairwise: one vectorized matmul per cluster
    # (applyInPandas) instead of a row-exploding self-join — the r11
    # sf3 study measured the join at ~13 µs/pair (shuffle + row
    # materialization) where BLAS does the same exact-integer dots at
    # ~1 ns/MAC; this is the "Pandas UDFs where built-ins genuinely
    # can't express it cheaply" case.  The decision rule is identical
    # bit-for-bit: loser j iff some lower-id i in the cluster has
    # qd > 0 and qd^2 * den^2 >= num^2 * n2_i * n2_j.
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den

    def cluster_keep(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("__id")
        n = len(pdf)
        keep = np.ones(n, dtype=bool)
        if n > 1:
            qm = np.array(pdf["__e"].tolist(), dtype=np.int64)
            n2 = pdf["__n2"].to_numpy(dtype=np.int64)
            dims = qm.shape[1] if qm.ndim == 2 else 0
            maxq = int(np.abs(qm).max()) if dims else 0
            maxdot = dims * maxq * maxq
            exact_risk = (maxdot * maxdot * den2 >= 1 << 62
                          or num2 * int(n2.max()) ** 2 >= 1 << 62)
            if exact_risk:
                # object matmul BEFORE any int64 product can wrap
                # (mirrors assign_batches; unreachable under the
                # x1000 unit-norm quantization but self-consistent)
                g = qm.astype(object) @ qm.astype(object).T
                n2o = n2.astype(object)
                cond = (g > 0) & (g * g * den2 >= num2
                                  * n2o[:, None] * n2o[None, :])
            else:
                g = qm @ qm.T
                cond = (g > 0) & (g * g * den2 >= num2
                                  * n2[:, None] * n2[None, :])
            iu = np.triu(np.ones((n, n), dtype=bool), k=1)
            keep = ~np.asarray(cond & iu).any(axis=0)
        return pd.DataFrame({
            "__id": pdf["__id"].to_numpy(),
            "centroid_id": pdf["centroid_id"].to_numpy(),
            "keep": keep,
        })

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(
            cluster_keep, "__id long, centroid_id long, keep boolean")
        .select(
            F.col("__id").alias(id_col),
            F.col("centroid_id"),
            F.col("keep"),
        )
    )


# --------------------------------------------------------------------------
# product quantization (PQ / ADC)
# --------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sample_mod: int = 37,
) -> list[list[tuple[list[int], int]]]:
    """Deterministic PQ codebook: the milli-quantized subvectors of the
    corpus members with ``id % sample_mod == 0`` (ordered by id) serve as
    codewords — the same deterministic-seeding convention as
    ``semantic_dedup``; swap in k-means sub-codebooks at production scale,
    the encode/score path is agnostic.  Returns
    ``codebook[s][j] = (milli subvector, its squared norm)`` — a tiny
    driver-side structure (k*d integers), the broadcast payload."""
    rows = (
        df.filter(F.col(id_col) % sample_mod == 0)
        .select(F.expr(_QUANT.format(v=vec_col)).alias("e"))
        .orderBy(F.col(id_col))
        .collect()
    )
    if not rows:
        raise ValueError("empty training sample")
    d = len(rows[0]["e"])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    book: list[list[tuple[list[int], int]]] = []
    for s in range(m):
        sub = []
        for r in rows:
            cw = [int(x) for x in r["e"][s * dsub : (s + 1) * dsub]]
            sub.append((cw, sum(x * x for x in cw)))
        book.append(sub)
    return book


def pq_train_kmeans(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[tuple[list[int], int]]]:
    """Trained PQ codebooks (VERDICT r2 #6): per-subspace Lloyd refinement
    of the deterministic-sample initialization, the ``ivf_train`` recipe
    applied to all ``m`` subspaces in ONE distributed job per iteration.

    Shape: milli-quantized subvectors explode map-side to (s, subvec)
    rows; assignment is a map-side argmin over the (m*k*dsub)-int literal
    codebook (no shuffle, the ``F.lit(list)`` convention); the mean
    recompute is one groupBy(s, j, dim) — m*k*dsub output rows, tiny.
    Per iteration the new codebook (a few KB) is collected driver-side,
    re-quantized to milli ints (round-half-up, deterministic), and
    re-broadcast as a literal — the aggregated-small-state pattern, never
    corpus rows.  ``sample_fraction`` trains on a deterministic xxhash
    sample (mini-batch k-means), the 100-TB path.  Empty clusters keep
    their previous codeword.

    Returns the ``pq_train`` structure: ``book[s][j] = (codeword, |c|^2)``
    — drop-in for ``pq_encode`` / ``pq_topk(book=...)``; same code budget
    (m log2(k) bits/vector), better quantization error, hence better ADC
    recall (measured in BASELINE.md).
    """
    d = df.select(F.size(vec_col)).first()[0]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    q = df.select(
        F.col(id_col).alias("__id"), F.expr(_QUANT.format(v=vec_col)).alias("__e")
    ).filter(
        # NULL / wrong-dim embeddings: the old row_number window
        # skipped them implicitly; the TakeOrdered init must not
        # select them (ADVICE r12 — NoneType slice in book init)
        F.col("__e").isNotNull() & (F.size("__e") == d)
    )
    if sample_fraction is not None:
        q = q.filter(
            F.pmod(F.xxhash64(F.col("__id"), F.lit(seed + 1)), 10_000)
            < int(round(sample_fraction * 10_000))
        )
    subs = q.select(
        "__id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"s -> slice(__e, s * {dsub} + 1, {dsub}))"
            )
        ).alias("s", "sub"),
    )

    # init: k sample subvectors per subspace by xxhash order
    # (ivf_train's deterministic-seeding convention; no RNG state, no
    # driver sample).  The hash key depends only on __id, so the SAME
    # k ids win in every subspace — one shuffle-free TakeOrdered
    # (orderBy + limit) replaces the previous row_number window,
    # which funneled the whole corpus's subvectors into m unbounded
    # window partitions (review r12; selection is identical, so
    # trained codebooks are bit-for-bit unchanged).
    sel = (
        q.orderBy(F.xxhash64(F.col("__id"), F.lit(seed)), "__id")
        .limit(k)
        .select("__e")
        .collect()
    )
    if len(sel) < k:
        raise ValueError(
            f"empty/short training sample: {len(sel)} rows for "
            f"m={m} k={k}; lower k or raise sample_fraction"
        )
    book: list[list[list[int]]] = [
        [
            [int(x) for x in r["__e"][si * dsub:(si + 1) * dsub]]
            for r in sel
        ]
        for si in range(m)
    ]

    for _ in range(iters):
        cbl = F.lit(book).cast("array<array<array<bigint>>>")
        n2l = F.lit(
            [[sum(x * x for x in cw) for cw in sub] for sub in book]
        ).cast("array<array<bigint>>")
        sub_cb = F.element_at(cbl, F.col("s") + 1)
        sub_n2 = F.element_at(n2l, F.col("s") + 1)
        cands = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(
                (
                    F.element_at(sub_n2, (j + 1).cast("int"))
                    - 2
                    * _int_dot(
                        F.col("sub"), F.element_at(sub_cb, (j + 1).cast("int"))
                    )
                ).alias("dist"),
                j.cast("long").alias("j"),
            ),
        )
        means = (
            subs.withColumn("j", F.array_min(cands)["j"])
            .select("s", "j", F.posexplode("sub").alias("dim", "x"))
            .groupBy("s", "j", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        nxt = [[list(cw) for cw in sub] for sub in book]  # empty keeps old
        acc: dict[tuple[int, int], list] = {}
        for r in means:
            acc.setdefault((r["s"], int(r["j"])), [0] * dsub)[r["dim"]] = r["mu"]
        for (s, j), mu in acc.items():
            nxt[s][j] = [int(_math.floor(x + 0.5)) for x in mu]
        book = nxt

    return [[(cw, sum(x * x for x in cw)) for cw in sub] for sub in book]


def _int_dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebook: list[list[tuple[list[int], int]]],
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    impl: str = "arrow",
) -> DataFrame:
    """Encode each vector as ``m`` codeword indices — nearest codeword per
    subspace by exact-integer L2 (``|c|^2 - 2 x·c``; ties to the lowest
    index).  A float32 corpus at dim 64 stores 256 B/vector; PQ codes at
    m=8 store 8 B — the 32x reduction that lets a 100 TB embedding store
    scan from ~3 TB.

    Both impls are map-side, zero-shuffle, and bit-identical (pinned by
    test): the argmin-over-codebook inner loop is the one place the
    built-in operators lose — higher-order functions interpret their
    lambdas per element, ~5 ms/vector at k=55, so ``impl='arrow'``
    (default) runs the scan through a vectorized int64 numpy matmul in
    Arrow batches (~100x) while ``impl='expr'`` keeps the pure Column
    formulation as the dependency-free reference."""
    if impl == "arrow":
        return _pq_encode_arrow(df, codebook, vec_col, out_col)
    m = len(codebook)
    dsub = len(codebook[0][0][0])
    k = len(codebook[0])
    milli = F.expr(_QUANT.format(v=vec_col))
    codes = []
    for s in range(m):
        # one nested Literal per subspace (k x dsub codewords + k norms) —
        # a true constant, materialized once; per-codeword F.array/F.lit
        # expression nodes would rebuild per row and melt codegen at
        # realistic k
        xs = F.slice(milli, s * dsub + 1, dsub)
        cb = F.lit([[int(x) for x in cw] for cw, _ in codebook[s]]).cast(
            "array<array<bigint>>"
        )
        n2 = F.lit([int(n) for _, n in codebook[s]]).cast("array<bigint>")
        cands = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(
                (
                    F.element_at(n2, (j + 1).cast("int"))
                    - 2
                    * _int_dot(xs, F.element_at(cb, (j + 1).cast("int")))
                ).alias("dist"),
                j.cast("long").alias("j"),
            ),
        )
        codes.append(F.array_min(cands)["j"])
    return df.withColumn(out_col, F.array(*codes))


def _pq_encode_arrow(
    df: DataFrame,
    codebook: list[list[tuple[list[int], int]]],
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Arrow-batched encode: per batch one ``X_s @ C_s^T`` int64 matmul
    per subspace + argmin (numpy argmin takes the first minimum = lowest
    index, matching the expr path's tie rule).  Quantization is
    ``floor(float64(x) * 1000)`` — the identical IEEE operations the JVM
    expression performs, so outputs are bit-equal."""
    import numpy as np
    import pandas as pd

    m = len(codebook)
    dsub = len(codebook[0][0][0])
    cbs = [
        np.array([cw for cw, _ in sub], dtype=np.int64) for sub in codebook
    ]
    n2s = [
        np.array([n2 for _, n2 in sub], dtype=np.int64) for sub in codebook
    ]

    # explicit Series->Series hints (real objects, not the module's
    # postponed string annotations, which pandas_udf cannot resolve here)
    def _enc(vs):
        if not len(vs):
            return pd.Series([], dtype=object)
        X = np.array(
            [np.asarray(v, dtype=np.float64) for v in vs], dtype=np.float64
        )
        Xm = np.floor(X * 1000.0).astype(np.int64)
        out = np.empty((len(vs), m), dtype=np.int64)
        for s in range(m):
            Xs = Xm[:, s * dsub : (s + 1) * dsub]
            D = n2s[s][None, :] - 2 * (Xs @ cbs[s].T)
            out[:, s] = np.argmin(D, axis=1)
        return pd.Series(list(out))

    _enc.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    enc = F.pandas_udf(_enc, "array<bigint>")
    return df.withColumn(out_col, enc(F.col(vec_col)))


def pq_topk(
    emb: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    m: int = 8,
    sample_mod: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    book: list[list[tuple[list[int], int]]] | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k (Jégou et al. 2011): queries score against
    the 8-byte codes, not the vectors.  Per query the lookup table
    ``lut[s][j] = q_s · c_j`` is built once (m*k integers); the corpus
    side folds codes through the broadcast LUT — approximate dot =
    ``sum_s lut[s][code_s]`` — so the scan reads only the code column and
    never touches the float embeddings.  All arithmetic is exact BIGINT on
    milli-quantized values; the approximation error is purely the codebook
    quantization, so results are engine-reproducible (hash-gateable).

    Output matches ``quantized_dot_topk``: (query_id, neighbor_id, dot,
    rnk) — dot is the ADC approximation.

    ``book`` overrides the codebook (e.g. ``pq_train_kmeans`` trained
    sub-codebooks — same code budget, better recall); default is the
    deterministic-sample ``pq_train`` (the hash-gate twin)."""
    if book is None:
        book = pq_train(
            emb, id_col=id_col, vec_col=vec_col, m=m, sample_mod=sample_mod
        )
    m = len(book)
    dsub = len(book[0][0][0])
    coded = pq_encode(emb, book, vec_col=vec_col)
    milli = F.expr(_QUANT.format(v=vec_col))
    # Build the per-query LUTs on the DRIVER: the payload is bounded by
    # n_queries * m * n_codewords integers (KBs), and computing it as a
    # Column expression instead costs Catalyst an expression tree of the
    # same size PER PLAN — analysis/codegen of that tree, not execution,
    # dominated this operator's wall-clock.  Milli-quantization happens
    # JVM-side in the collect (the same expr as before), and the Python
    # integer dot is exact, so results are bit-identical.
    qrows = (
        emb.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), milli.alias("__mq"))
        .collect()
    )
    data = []
    for r in qrows:
        mq = [int(x) for x in r["__mq"]]
        lut = [
            [
                sum(
                    a * b
                    for a, b in zip(mq[s * dsub:(s + 1) * dsub], cw)
                )
                for cw, _ in book[s]
            ]
            for s in range(m)
        ]
        data.append((int(r["query_id"]), lut))
    q = emb.sparkSession.createDataFrame(
        data, "query_id BIGINT, __lut ARRAY<ARRAY<BIGINT>>"
    )
    scored = (
        coded.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.aggregate(
                F.zip_with(
                    F.col("pq_codes"),
                    F.col("__lut"),
                    lambda c, l: F.element_at(l, (c + 1).cast("int")),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def hyperplane_lsh_bucket_md5(
    vec_col: str = "embedding", *, n_planes: int = 8, dim: int = 64
) -> F.Column:
    """Portable twin of ``hyperplane_lsh_bucket_col``: sign-random
    hyperplanes with ±1 entries derived from md5 parity (plane j, dim i
    sets +1 iff md5-32("j:i") is even), dots in exact milli-quantized
    BIGINT — so an independent engine derives the identical planes and
    buckets (q_lsh_md5, the q_minhash_md5 convention).  The sign matrix
    folds to Literal arrays at plan build; assignment is map-side."""
    import hashlib

    signs = [
        [
            1
            if int(
                hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for i in range(1, dim + 1)
        ]
        for j in range(1, n_planes + 1)
    ]
    milli = F.expr(_QUANT.format(v=vec_col))
    bucket = F.lit(0).cast("long")
    for j, row in enumerate(signs):
        d = _int_dot(milli, F.lit(row).cast("array<bigint>"))
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("long")
    # a dim mismatch makes zip_with pad with NULLs, every dot NULL and
    # every bit fall to the otherwise(0) branch — all vectors in
    # bucket 0 and the LSH join degenerates to all-pairs with no
    # error (review r12).  Fail loudly at execution instead.
    return F.when(
        F.size(F.col(vec_col) if isinstance(vec_col, str)
               else vec_col) == dim, bucket
    ).otherwise(F.raise_error(F.lit(
        f"hyperplane_lsh_bucket_md5: vector length != dim={dim}")))


# --------------------------------------------------------------------------
# PCA dimensionality reduction (distributed moments, driver eigh)
# --------------------------------------------------------------------------

def second_moment_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int | None = None,
    quant: int = 1000,
) -> DataFrame:
    """Exact-integer second-moment matrix of quantized embedding
    components: ``s[i,j] = Σ_rows floor(x_i·quant) · floor(x_j·quant)``
    (1-based i, j).

    Quantize-then-multiply keeps every term an exact BIGINT, so the sums
    are order-independent and engine-exact (a float covariance sum is
    neither — accumulation order changes the last ulp, which a hash gate
    would flag).  Plan: posexplode to (row, i, q), self-join on the row
    id within the explode (broadcast-free: the pair explosion happens
    map-side via a second transform), then one ``groupBy (i, j)`` whose
    map-side combine collapses each partition to dims² rows before the
    only shuffle.
    """
    d_expr = (
        F.slice(F.col(vec_col), 1, dims) if dims else F.col(vec_col)
    )
    q = F.transform(
        d_expr, lambda x: F.floor(x.cast("double") * quant).cast("long")
    )
    # map-side pair explosion: (i, j, q_i*q_j) per row, no self-join
    pairs = df.select(
        F.explode(
            F.flatten(
                F.transform(
                    q,
                    lambda qi, i: F.transform(
                        q,
                        lambda qj, j: F.struct(
                            (i + 1).alias("i"),
                            (j + 1).alias("j"),
                            (qi * qj).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("e")
    )
    return (
        pairs.select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("s"))
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "s",
        )
    )


def pca_train(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    dims: int | None = None,
    quant: int = 1000,
) -> list[list[float]]:
    """Top-``k`` principal directions of the (quantized, uncentered —
    embeddings are ~zero-mean by construction; center upstream if not)
    embedding distribution.

    The distributed part is ONE aggregation to a dims² integer matrix
    (second_moment_matrix); the eigendecomposition runs on the driver
    over that tiny matrix (numpy ``eigh`` — dims ≤ a few thousand), the
    same driver-small-state pattern as ivf_train's codebooks.  Returns
    row-major components (k × dims), unit-norm, sign-fixed so the
    largest-|coefficient| entry is positive (deterministic across
    LAPACK implementations)."""
    import numpy as np

    rows = second_moment_matrix(df, vec_col, dims, quant).collect()
    n = max(int(r["i"]) for r in rows)
    m = np.zeros((n, n))
    for r in rows:
        m[r["i"] - 1, r["j"] - 1] = r["s"]
    vals, vecs = np.linalg.eigh(m)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """Map-side projection onto trained components: ``out[c] = v · comp_c``.
    The component matrix ships as a literal array (a real Literal, not
    per-row CreateArray — the NOTES.md constant-table lesson), so the
    projection runs inside whole-stage codegen with zero shuffles."""
    comp_lits = [F.lit(c) for c in components]
    v = F.col(vec_col)
    outs = F.array(
        *[
            F.aggregate(
                F.zip_with(v, c, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in comp_lits
        ]
    )
    return df.withColumn(out_col, outs)


def hard_negatives(
    emb: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    query, the top-k most similar corpus vectors with a DIFFERENT label
    (same-label rows are positives; the nearest non-positives are the
    informative negatives — the ANCE/DPR curriculum).

    Same 100-TB plan as quantized_dot_topk: the query set broadcasts, the
    corpus scan stays partition-local, and only the n_queries*k-bounded
    candidates reach the final top-k window; the label exclusion is a
    map-side predicate on the broadcast join, not an extra shuffle.
    Integer-quantized dots keep the output exact for the parity gate."""
    # quantize once per row below the join (r14, the quantized_dot_topk
    # rationale)
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.expr(_QUANT.format(v=vec_col)).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    scored = emb.select(
        F.col(id_col),
        F.col(label_col),
        F.expr(_QUANT.format(v=vec_col)).alias("__cq"),
    ).join(
        F.broadcast(q), F.col(label_col) != F.col("__qlabel")
    ).select(
        "query_id",
        F.col(id_col).alias("neg_id"),
        F.expr(_IDOT.format(a="__cq", b="__qvec")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def kcenter_sample(
    emb: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the
    max-coverage diversity sampler (Sener & Savarese 2018 use it for
    active learning; corpus curation uses it to pick maximally diverse
    exemplars instead of random ones).

    Deterministic contract: seed = smallest id; each round picks the
    point with the largest squared distance to its nearest chosen
    center, ties broken by smallest id.  Distances are exact BIGINTs
    over milli-quantized components, so an independent engine replays
    the selection bit-for-bit.

    Plan: the frontier distance column is folded incrementally — round t
    only computes distances to the ONE newly chosen center (a literal
    vector, map-side) and takes least() with the running minimum, then a
    single distributed top-1 aggregate picks the next center.  k rounds
    = k map-side passes + k scalar aggregates; the corpus is never
    shuffled and never collected.  localCheckpoint per round cuts the
    lineage (the scd2/bpe lesson)."""
    q = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_MILLI.format(v=vec_col)).alias("__v"),
    )
    first = q.orderBy("vec_id").select("vec_id", "__v").first()
    if first is None:
        raise ValueError("kcenter_sample: empty input")
    chosen = [(int(first["vec_id"]), 0)]
    center_vec = list(first["__v"])

    def _d2(center: list[int]) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.col("__v"),
                F.lit(center),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    cur = (
        q.filter(F.col("vec_id") != chosen[0][0])
        .withColumn("__d2", _d2(center_vec))
        .localCheckpoint(eager=False)
    )
    for _ in range(1, k):
        far = (
            cur.orderBy(F.col("__d2").desc(), F.col("vec_id"))
            .select("vec_id", "__v", "__d2")
            .first()
        )
        if far is None:
            break  # fewer distinct points than k: never emit duplicates
        chosen.append((int(far["vec_id"]), int(far["__d2"])))
        center_vec = list(far["__v"])
        cur = (
            cur.filter(F.col("vec_id") != far["vec_id"])
            .withColumn("__d2", F.least(F.col("__d2"), _d2(center_vec)))
            .localCheckpoint(eager=False)
        )
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i + 1, cid, d2) for i, (cid, d2) in enumerate(chosen)],
        "rnk BIGINT, center_id BIGINT, d2 BIGINT",
    )


def mmr_rerank(
    cand: DataFrame,
    k: int,
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    vec_col: str = "qvec",
    rel_col: str = "rel",
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) of per-query candidate lists — the diversity stage between
    ANN retrieval and a RAG context window (or between hard-negative
    mining and batch assembly).

    Input: one row per (query, candidate) with an integer relevance
    (``rel_col``, e.g. the quantized dot from quantized_dot_topk /
    pq_topk) and the candidate's milli-quantized vector (``vec_col``,
    array<bigint>).  Round 1 takes the most relevant candidate; round t
    maximizes ``lam_num * rel - (lam_den - lam_num) * max_sim`` where
    max_sim is the candidate's largest quantized dot against the
    already-selected set FLOORED AT ZERO (the running fold starts at
    0, so anti-correlated candidates score as orthogonal — a
    deliberate monotone simplification of textbook MMR, mirrored
    exactly in the q_mmr gate oracle's ``ms = 0`` initialization;
    review r12 note), i.e. max_sim is
    already-selected set — all BIGINT, ties to the smallest id, so the
    full selection is engine-replayable (the gate unrolls it in SQL).

    Plan per round (the kcenter incremental-frontier idea, per group):
    join candidates to the ONE newest selection of their query (key-equi
    on the query id), fold ``greatest(max_sim, dot(v, newest))``
    map-side, then a per-query top-1 window.  k rounds, each shuffling
    only the live candidate rows; nothing is collected per query and no
    per-query loop runs on the driver — queries advance in bulk.

    Returns ``(query_col, id_col, rel, rnk)``.
    """
    live = cand.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rel_col).cast("long").alias("__rel"),
        F.col(vec_col).alias("__v"),
        F.lit(0).cast("long").alias("__ms"),
    ).localCheckpoint(eager=False)
    picked = None
    score = (
        F.lit(lam_num) * F.col("__rel")
        - F.lit(lam_den - lam_num) * F.col("__ms")
    )
    w = Window.partitionBy("__q").orderBy(
        score.desc(), F.col("__id")
    )
    for t in range(1, k + 1):
        sel = (
            live.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "__q",
                F.col("__id").alias("__sid"),
                F.col("__rel").alias("__srel"),
                F.col("__v").alias("__sv"),
                F.lit(t).cast("long").alias("rnk"),
            )
            .localCheckpoint(eager=False)
        )
        out_t = sel.select(
            F.col("__q").alias(query_col),
            F.col("__sid").alias(id_col),
            F.col("__srel").alias("rel"),
            "rnk",
        )
        picked = out_t if picked is None else picked.unionByName(out_t)
        if t == k:
            break
        live = (
            live.join(sel, "__q")
            .filter(F.col("__id") != F.col("__sid"))
            .select(
                "__q",
                "__id",
                "__rel",
                "__v",
                F.greatest(
                    F.col("__ms"),
                    F.expr(_IDOT.format(a="__v", b="__sv")),
                ).alias("__ms"),
            )
            .localCheckpoint(eager=False)
        )
    return picked.orderBy(query_col, "rnk")
