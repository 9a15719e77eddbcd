"""End-to-end training-corpus preparation: the composed pipeline a
100 TB pretraining data run actually executes, built from this package's
operators —

  exact dedup -> quality filter -> benchmark decontamination ->
  weighted domain mixing -> deterministic shuffle -> sequence packing

Every stage is deterministic (md5-keyed, no RNG state), so the whole
pipeline is reproducible across runs, engines, partitionings, and
cluster sizes, and the final pack assignment is externally checkable
(gate q_corpus_pipeline recomputes it in DuckDB).

Scale shape per stage (see SCALING.md):
- exact dedup: one keyed shuffle on the content digest
- quality filter: map-side column expressions in the scan stage
- decontamination: broadcast eval grams; corpus never shuffled
- mixing: map-side sequence+explode
- shuffle+pack: ONE range shuffle on the order hash + the two-phase
  distributed prefix sum (no single-partition window)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import exact_dedup_by_content
from .packing import pack_by_budget
from .sampling import weighted_mix
from .textanalysis import decontaminate, token_count


def shuffle_key(id_col: str = "doc_id", copy_col: str = "copy_id") -> F.Column:
    """60-bit integral order key from md5(id:copy) — the deterministic
    'random' order used for shuffling + packing.  At extreme row counts
    (>~1e9) birthday collisions appear; a tie only makes the intra-tie
    pack order engine-dependent, so gates keep row counts far below
    that."""
    h = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col(copy_col).cast("string"),
        )
    )
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def prepare_training_corpus(
    docs: DataFrame,
    eval_df: DataFrame,
    weights: dict[str, float],
    budget: int = 512,
    min_tokens: int = 20,
    contam_n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    shards: int = 256,
) -> DataFrame:
    """Run the full corpus-preparation pipeline; returns one row per
    packed document copy: (id, copy_id, n_tokens, pack_id, pack_off)."""
    deduped = exact_dedup_by_content(docs, id_col, text_col)
    quality = deduped.withColumn(
        "n_tokens", token_count(text_col)
    ).filter(F.col("n_tokens") >= min_tokens)
    clean = decontaminate(
        quality, eval_df, id_col=id_col, text_col=text_col, n=contam_n
    )
    mixed = weighted_mix(clean, id_col, source_col, weights)
    ordered = mixed.withColumn("_hkey", shuffle_key(id_col, "copy_id"))
    packed = pack_by_budget(
        ordered, "n_tokens", budget=budget, order_col="_hkey", shards=shards
    )
    return packed.select(
        id_col, "copy_id", "n_tokens", "pack_id", "pack_off"
    )


def incremental_corpus_update(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    band_index: DataFrame,
    *,
    min_tokens: int = 20,
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    method: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The composed NIGHTLY-SHARD lane: admit a new shard into a corpus
    whose text is never re-read, using only its persisted state — the
    100-TB shape every incremental piece in this repo builds toward.

    Stages (each individually gated; this operator pins the
    composition, gated as q_incr_corpus):
      1. quality prune (token_count >= min_tokens) — map-side, cheapest
         first so later stages hash less text;
      2. ``incremental_exact_dedup`` vs the persisted digest index
         (within-shard lowest-id, then digest anti-join);
      3. ``incremental_minhash_dedup`` vs the persisted band index
         (band-collision drop; no exact-verify by construction).

    Returns ``(survivors, digest_delta, band_delta)``: append the two
    deltas to the state tables (parquet / bucketed per
    persist_minhash_band_index) and the next shard repeats.  Survivor
    rows carry ``n_tokens`` so downstream mixing/packing reuses the
    count without re-tokenizing."""
    from .dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
        minhash_band_index,
    )
    from .textanalysis import token_count

    quality = new_docs.withColumn("n_tokens", token_count(text_col)).filter(
        F.col("n_tokens") >= min_tokens
    )
    exact = incremental_exact_dedup(
        quality, seen_digests, id_col=id_col, content_col=text_col
    )
    survivors = incremental_minhash_dedup(
        exact, band_index, id_col=id_col, text_col=text_col,
        num_perm=num_perm, bands=bands, k=k, method=method,
    )
    digest_delta = survivors.select(F.md5(text_col).alias("digest")).distinct()
    band_delta = minhash_band_index(
        survivors, id_col=id_col, text_col=text_col,
        num_perm=num_perm, bands=bands, k=k, method=method,
    )
    return survivors, digest_delta, band_delta


def corpus_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass corpus profile: the summary a pipeline operator reads
    before choosing filter thresholds — document/token/char volume,
    Gopher-rule pass count, and language mix — computed as a single scan
    with every signal a map-side Column expression feeding ONE aggregate
    (partial combine per partition, one tiny shuffle).  At 100 TB this is
    the difference between one pass and five.

    Output: one row, all exact BIGINT (hash-stable):
      n_docs, total_tokens, total_chars, n_keep_gopher, n_en, n_und.
    """
    from .textanalysis import gopher_rules, lang_id, token_count

    g = lang_id(gopher_rules(df, text_col, min_words=12), text_col)
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("total_tokens"),
        F.sum(F.length(text_col).cast("long")).alias("total_chars"),
        F.sum(F.col("keep").cast("long")).alias("n_keep_gopher"),
        F.sum((F.col("lang_pred") == "en").cast("long")).alias("n_en"),
        F.sum((F.col("lang_pred") == "und").cast("long")).alias("n_und"),
    )


def stream_corpus_admission(
    docs_stream: DataFrame,
    state_dir: str,
    *,
    min_tokens: int = 20,
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    method: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    bucketed_state: bool = False,
    n_buckets: int = 64,
    table_prefix: str | None = None,
):
    """The STREAMING face of the nightly-shard admission lane
    (``admission`` driver): a live document ingest feeds the SAME dedup
    state the batch lane (gate q_incr_corpus) keeps — ``digests/`` (seen
    content digests) and ``bands/`` (MinHash band rows), bucketed by
    ``digest`` and ``(band, bhash)`` under ``bucketed_state=True`` (the
    ``dedup.persist_minhash_band_index`` layout).  Earlier corpus text is
    never re-read.  ``survivors/`` holds admitted rows + n_tokens."""
    from . import admission
    from .dedup import minhash_band_index

    band_kw = dict(
        num_perm=num_perm, bands=bands, k=k, method=method,
        id_col=id_col, text_col=text_col,
    )
    return admission.run(
        docs_stream,
        state_dir,
        lambda batch, state: incremental_corpus_update(
            batch, state("digests"), state("bands"),
            min_tokens=min_tokens, **band_kw,
        )[0],
        [
            admission.State(
                "digests", "digest string",
                lambda batch, surv: surv.select(
                    F.md5(text_col).alias("digest")
                ).distinct(),
                ("digest",),
            ),
            admission.State(
                "bands", f"{id_col} long, band int, bhash string",
                lambda batch, surv: minhash_band_index(surv, **band_kw),
                ("band", "bhash"),
            ),
        ],
        bucketed_state=bucketed_state,
        n_buckets=n_buckets,
        table_prefix=table_prefix,
    )
