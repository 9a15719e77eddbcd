"""Deterministic sampling / split operators for training-data pipelines.

Randomness-free by construction: assignment is a pure function of the row
key via a cryptographic hash, so splits are reproducible across runs,
engines, partitionings, and cluster sizes — the property that matters when
a 100 TB corpus is re-materialized and the val set must not drift.  Using
md5 (not xxhash64) keeps the function portable to the DuckDB oracle.

All map-side: no shuffle, no RNG state, works identically in streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def hash_bucket(key: str | Column, buckets: int = 10_000) -> F.Column:
    """Stable bucket in [0, buckets): first 8 hex chars of md5(key)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with the given weights, e.g.
    ``{"train": 0.9, "val": 0.05, "test": 0.05}`` — deterministic per key,
    exact thresholds over 10_000 hash buckets."""
    total = sum(weights.values())
    bucket = hash_bucket(key)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total * 10_000
        cond = bucket < F.lit(int(round(acc)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(split_col, expr)


def deterministic_shuffle(
    df: DataFrame, key: str, partitions: int | None = None,
    *, epoch: int | None = None,
) -> DataFrame:
    """Global, reproducible corpus shuffle: order rows by ``md5(key)`` —
    the 'random' order every run, engine, and reader sees identically (no
    seed plumbing, no RNG state to checkpoint).

    ``epoch`` salts the hash (``md5(epoch ':' key)``) so multi-epoch
    training gets a DIFFERENT, equally reproducible order per epoch —
    the standard per-epoch reshuffle without any RNG state.

    Implemented as repartitionByRange + sortWithinPartitions on the hash,
    so the TOTAL order is (partition range, within-partition sort) — a
    single range shuffle, no global single-partition sort.  Feed straight
    into pack_by_budget or a writer; downstream readers get the
    shuffled order for free from the file layout.
    """
    k = F.col(key).cast("string")
    if epoch is not None:
        k = F.concat(F.lit(str(epoch)), F.lit(":"), k)
    h = F.md5(k)
    parts = df.repartitionByRange(partitions, h) if partitions else (
        df.repartitionByRange(h)
    )
    return parts.sortWithinPartitions(h)


def weighted_mix(
    df: DataFrame,
    key: str,
    strata_col: str,
    weights: dict[str, float],
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic corpus mixing: resample each stratum to an effective
    weight — the core of domain-mixture construction (e.g. upsample
    books x2.5, downsample web x0.3) for a training run.

    ``weight = floor(w)`` full copies per row, plus one more iff the
    row's hash bucket falls under ``frac(w)`` — so the EXPECTED stratum
    multiplicity is exactly ``w`` and the realized multiset is a pure
    function of the key (reproducible across runs, engines, cluster
    sizes).  Output rows carry ``copy_col`` in [0, n_copies) so repeats
    stay distinguishable downstream.  Strata absent from the map are
    dropped.

    Map-side only: a per-row ``sequence`` + ``explode``, no shuffle, no
    RNG state; at 100 TB this runs inside the scan stage.
    """
    bucket = hash_bucket(key)
    n_copies = None
    for stratum, w in weights.items():
        whole = int(w)
        frac_b = int(round((w - whole) * 10_000))
        n = F.lit(whole) + (bucket < frac_b).cast("int")
        cond = F.col(strata_col) == stratum
        n_copies = (
            F.when(cond, n) if n_copies is None else n_copies.when(cond, n)
        )
    n_copies = (
        F.lit(0) if n_copies is None else n_copies.otherwise(F.lit(0))
    )
    # sequence(0, -1) would count DOWN; guard the zero-copy case with an
    # empty array (explode drops it).
    copies = F.when(
        F.col("_n") > 0, F.sequence(F.lit(0), F.col("_n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("_n", n_copies)
        .select("*", F.explode(copies).alias(copy_col))
        .drop("_n")
    )


def stratified_sample(
    df: DataFrame, key: str, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling, e.g. downsample boilerplate
    languages: ``{"en": 0.1, "de": 1.0}``; strata absent from the map are
    dropped (explicit is better than silently kept)."""
    bucket = hash_bucket(key)
    cond = None
    for stratum, frac in fractions.items():
        c = (F.col(strata_col) == stratum) & (
            bucket < int(round(frac * 10_000))
        )
        cond = c if cond is None else cond | c
    return df.filter(cond if cond is not None else F.lit(False))


def stratified_cap(
    df: DataFrame,
    strata_col: str,
    key: str,
    k: int,
    *,
    salt: int = 64,
    rank_col: str = "rk",
) -> DataFrame:
    """Keep at most ``k`` rows per stratum, chosen deterministically by
    md5(key) order — the RefinedWeb-style per-domain cap (bound how much
    any one domain/source contributes to the corpus) without an RNG.

    Two-phase top-k so a huge stratum never lands on one reducer: a first
    window over (stratum, salt-bucket) keeps k survivors per bucket (each
    bucket holds ~1/salt of the stratum), then the final window ranks the
    <= k*salt survivors per stratum.  The global top-k by a total order is
    always contained in the union of per-bucket top-k's, so this equals
    the single-window plan (pinned by test) while the heavy first pass
    partitions (stratum x salt)-wide.  At 100 TB with a boilerplate-heavy
    source this is the difference between a straggler sort of 10^9 rows
    and 64 sorts of 10^7.

    Output: input columns + ``rank_col`` (1-based position in the
    stratum's md5 order).  Ties (md5 collisions) break on the raw key.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(key).cast("string"))
    # independent hex range of the same digest spreads the salt buckets
    s = F.pmod(F.conv(F.substring(h, 25, 8), 16, 10).cast("long"), F.lit(salt))
    w1 = Window.partitionBy(strata_col, "__cap_s").orderBy("__cap_h", key)
    w2 = Window.partitionBy(strata_col).orderBy("__cap_h", key)
    return (
        df.withColumn("__cap_h", h)
        .withColumn("__cap_s", s)
        .withColumn("__cap_r1", F.row_number().over(w1))
        .filter(F.col("__cap_r1") <= k)
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("__cap_h", "__cap_s", "__cap_r1")
    )


def dsir_stats(
    docs: DataFrame,
    target_cond: Column,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance statistics (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by how target-like its hashed-unigram profile is,
    where the target is the in-corpus subset selected by ``target_cond``.

    Tokens hash into ``n_buckets`` md5 buckets; the operator emits per-doc
    EXACT integer sufficient statistics — ``sum_t`` / ``sum_r`` (the summed
    target / raw bucket counts over the doc's tokens) and the integer
    importance ratio ``w_ppm = sum_t * scale DIV sum_r`` — rather than the
    paper's float log-ratio, so results are engine-exact (the q_tfidf
    convention).  The float weight Σ log(p_t(b)/p_r(b)) is a map-side
    function of the same 2x``n_buckets`` table for callers that want it.

    Plan shape (100 TB posture): one token explode feeding two tiny
    ``n_buckets``-row aggregates (map-side partial combine), then the
    bucket table broadcast back onto the exploded tokens and re-aggregated
    per doc — the corpus shuffles only on compact (bucket|doc_id) keys,
    never on text.  ``sum_r >= 1`` always: every token of every doc is in
    the raw counts, so the DIV is total.
    """
    from ..operators.textanalysis import tokens

    toks = docs.select(
        F.col(key_col), F.explode(tokens(text_col)).alias("__tok")
    )
    tb = toks.withColumn("__b", hash_bucket(F.col("__tok"), n_buckets))
    raw = tb.groupBy("__b").agg(F.count("*").alias("cnt_r"))
    tgt = (
        docs.filter(target_cond)
        .select(F.explode(tokens(text_col)).alias("__tok"))
        .withColumn("__b", hash_bucket(F.col("__tok"), n_buckets))
        .groupBy("__b")
        .agg(F.count("*").alias("cnt_t"))
    )
    # both sides are n_buckets rows, but the planner can't know that at
    # compile time — hint, or this SMJ-shuffles two 64-row tables
    table = raw.join(F.broadcast(tgt), "__b", "left").fillna(0, subset=["cnt_t"])
    per_doc = (
        tb.join(F.broadcast(table), "__b")
        .groupBy(key_col)
        .agg(
            F.sum("cnt_t").alias("sum_t"),
            F.sum("cnt_r").alias("sum_r"),
        )
    )
    return per_doc.select(
        key_col,
        F.col("sum_t").cast("long").alias("sum_t"),
        F.col("sum_r").cast("long").alias("sum_r"),
        F.expr(f"CAST(sum_t * {scale} DIV sum_r AS BIGINT)").alias("w_ppm"),
    )


def split_leakage_report(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
) -> DataFrame:
    """Audit a train/val/test split for near-duplicate leakage: every
    near-duplicate pair (LSH prefilter + exact-Jaccard verify, the
    near_duplicate_pipeline machinery) whose two sides landed in
    DIFFERENT splits.  A val document with a train near-twin silently
    inflates eval scores — this is the check a 100 TB pipeline runs
    before freezing a split.

    Output: (id_a, id_b, split_a, split_b), one row per leaking pair.
    Cost is the near-dup candidate generation (banded LSH — no all-pairs)
    plus two broadcast-sized joins of the pair list against the split
    assignment; the split itself is the md5 hash_split, recomputed
    map-side, so no split table needs to exist beforehand.
    """
    from .dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(
        docs, id_col=id_col, text_col=text_col, threshold=threshold,
        num_perm=num_perm, bands=bands, k=k, sort=False,
    )
    splits = hash_split(
        docs.select(F.col(id_col)), id_col, weights
    ).select(F.col(id_col).alias("__sid"), F.col("split"))
    a = splits.withColumnRenamed("split", "split_a")
    b = splits.withColumnRenamed("split", "split_b")
    return (
        pairs.join(a, pairs["id_a"] == a["__sid"]).drop("__sid")
        .join(b, pairs["id_b"] == b["__sid"]).drop("__sid")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


def leakage_safe_split(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Constructive complement of ``split_leakage_report``: assign the
    train/val/test split by the near-duplicate COMPONENT representative
    instead of the row id, so every near-twin lands in the SAME split by
    construction — ``split_leakage_report`` over the result is empty.

    Pipeline: banded-LSH near-dup pairs (or caller-supplied ``pairs``) ->
    connected components (min-label propagation) -> split key =
    ``coalesce(component, id)`` -> the module's deterministic md5
    ``hash_split`` on that key.  Docs in no pair keep their own id as the
    key, so singleton assignment is identical to the plain ``hash_split``.

    Scale shape: the component table holds only ids that appear in a pair
    (bounded by the LSH candidate set, typically a small fraction of the
    corpus); joining it back is one key-equi join AQE converts to
    broadcast when small.  The split itself stays map-side.
    """
    from .dedup import connected_components, minhash_near_duplicates

    if pairs is None:
        pairs = minhash_near_duplicates(
            docs, id_col=id_col, text_col=text_col, threshold=threshold,
            num_perm=num_perm, bands=bands, k=k, sort=False,
        )
    comp = connected_components(pairs).select(
        F.col("node").alias("__cid"), F.col("component").alias("__comp")
    )
    keyed = docs.join(
        comp, docs[id_col] == comp["__cid"], "left"
    ).withColumn("__skey", F.coalesce(F.col("__comp"), F.col(id_col)))
    return hash_split(keyed, "__skey", weights, split_col).drop(
        "__cid", "__comp", "__skey"
    )


def grouped_topk(
    df: DataFrame,
    strata_col: str,
    order_cols: list[str],
    k: int,
    *,
    descending: bool = True,
    tiebreak: str | None = None,
    salt: int = 64,
    rank_col: str = "rk",
) -> DataFrame:
    """Top ``k`` rows per stratum by a MEASURE order (e.g. top-5 documents
    by quality score per source) — the by-measure sibling of
    stratified_cap's hash order, with the same salted two-phase plan: the
    heavy pass ranks within (stratum, salt-bucket), the final pass ranks
    the <= k*salt survivors.  Global top-k under a total order is always
    contained in the union of per-bucket top-k's.

    ``tiebreak`` (a unique column) makes ranks deterministic when
    measures collide; required for gate-stable output, optional
    otherwise.  Salt buckets come from md5 of the tiebreak (or the first
    order col), so bucketing never correlates with the measure.
    """
    from pyspark.sql import Window

    key = tiebreak or order_cols[0]
    s = F.pmod(
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 25, 8), 16, 10)
        .cast("long"),
        F.lit(salt),
    )
    order = [
        (F.col(c).desc() if descending else F.col(c).asc())
        for c in order_cols
    ]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w1 = Window.partitionBy(strata_col, "__tk_s").orderBy(*order)
    w2 = Window.partitionBy(strata_col).orderBy(*order)
    return (
        df.withColumn("__tk_s", s)
        .withColumn("__tk_r1", F.row_number().over(w1))
        .filter(F.col("__tk_r1") <= k)
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("__tk_s", "__tk_r1")
    )


def temperature_weights(
    docs: DataFrame,
    strata_col: str,
    alpha: float,
    *,
    target_multiple: float = 1.0,
) -> dict[str, float]:
    """Temperature-scaled domain weights (the multilingual-sampling
    formula, e.g. XLM-R's p_d ∝ (n_d/N)^alpha): returns the per-stratum
    effective-epoch multipliers to feed ``weighted_mix`` so the MIXED
    corpus follows the temperature distribution at ``target_multiple``
    times the original total volume.

    alpha=1 reproduces natural proportions (all weights ==
    target_multiple); alpha->0 approaches uniform over strata.  Driver
    math over one tiny per-stratum count aggregate (small-state pattern);
    the float weights land in weighted_mix's md5 thresholds, so the
    realized mixture stays deterministic.
    """
    rows = docs.groupBy(strata_col).count().collect()
    counts = {r[strata_col]: r["count"] for r in rows}
    total = sum(counts.values())
    if not total:
        return {}
    probs = {s: (n / total) ** alpha for s, n in counts.items()}
    z = sum(probs.values())
    return {
        s: target_multiple * total * (probs[s] / z) / counts[s]
        for s in counts
    }
