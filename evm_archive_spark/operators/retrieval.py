"""Keyword retrieval over the corpus: inverted postings + BM25 top-k.

A training-data pipeline needs corpus-scale keyword retrieval for
decontamination audits ("which documents contain this benchmark
prompt?"), targeted curation ("top documents for this domain query"),
and eval-set construction.  This is the classic inverted-index + BM25
stack (Robertson & Zaragoza 2009), Spark-first:

- postings build as ``explode -> groupBy(doc, term)`` — map-side
  partial aggregation, one shuffle on (doc, term);
- document-frequency and corpus stats as tiny aggregate DataFrames
  cross-joined back (never ``collect`` into the driver);
- the query side is exploded to distinct (query, term) rows and
  BROADCAST — queries are human-scale, postings are corpus-scale, so
  the probe is a map-side hash join that touches only postings whose
  term appears in some query (stopword skew never materializes: the
  semi-join filters before any aggregation);
- per-(query, doc) scores aggregate with map-side combine; top-k is a
  window over the scored pairs (query-scale, not corpus-scale).

Two scoring modes over the SAME plan:
- ``bm25``: the real thing — idf = ln(1 + (N - df + 0.5)/(df + 0.5))
  (the Lucene/ATIRE-positive variant that never goes negative), tf
  normalization ``tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``.  Float
  score; pytest-gated against an independent Python reference
  (test_retrieval.py) — floats never enter oracle hashes.
- ``intweight``: the exact-integer twin — per-term weight
  ``1_000_000 DIV df`` (log-free inverse document frequency), score
  ``SUM(tf * weight)`` as BIGINT.  Deterministic and replayable in
  DuckDB; the q_retrieval gate hash-checks the whole postings/join/
  top-k plumbing through it (the classify.py ppm pattern).

Tokenization is ``textanalysis.word_terms`` — the same lowercased
``[^a-z]+`` split the tf-idf lane replays in DuckDB (q_tfidf).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted postings: one row per (term, doc, tf) plus the document
    length ``dl`` (term count) carried on every row — the layout the
    scorer joins against without a second corpus pass."""
    from .textanalysis import word_terms

    # tokenize ONCE per row: the terms array binds through a lambda
    # variable (array-of-one + transform) so the dl (size) and the
    # explode read the same materialized array instead of a
    # CollapseProject-inlined second regexp split (the NOTES.md trap)
    bundle = F.explode(
        F.transform(
            F.array(word_terms(F.col(text_col))),
            lambda t: F.struct(
                t.alias("terms"), F.size(t).alias("dl")
            ),
        )
    ).alias("s")
    terms = docs.select(F.col(id_col).alias("doc_id"), bundle).select(
        "doc_id",
        F.col("s.dl").alias("dl"),
        F.explode("s.terms").alias("term"),
    )
    return terms.groupBy("doc_id", "term", "dl").agg(
        F.count("*").alias("tf")
    )


def persist_postings_index(
    spark,
    docs: DataFrame,
    table: str,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Persist the inverted postings hash-bucketed (and sorted) by
    ``term`` — the searchable-corpus layout: the index pays its one
    shuffle at WRITE time, and every subsequent query reads only the
    buckets its terms hash into (bucket pruning on the ``isin``
    filter ``keyword_topk_indexed`` pushes down).  Returns the
    catalog-backed DataFrame.

    Append pattern (nightly shard): ``append_postings_index`` writes
    the shard's postings through the same bucket spec — bucket layout
    is stable under append (same hash, same count), the
    ``persist_minhash_band_index`` contract (dedup.py:935)."""
    from .. import storage

    storage.write_bucketed(
        build_postings(docs, id_col, text_col),
        table,
        path,
        ["term"],
        n_buckets,
    )
    return spark.table(table)


def append_postings_index(
    docs_shard: DataFrame,
    table: str,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Append a shard's postings to a ``persist_postings_index`` table
    through the same bucket spec.  Touches only the shard — admitted
    corpus content is never re-read (the incremental-lane contract)."""
    (
        build_postings(docs_shard, id_col, text_col)
        .write.mode("append")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .saveAsTable(table)
    )


def stream_postings_admission(
    docs_stream: DataFrame,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The STREAMING face of the postings index (``admission`` driver):
    each micro-batch's postings go to ``postings/``, which declares no
    bucket keys and stays exactly once (duplicate postings would inflate
    tf/df).  ``keyword_topk_indexed`` probes the partitioned tree;
    ``compact_postings_index`` folds it into the bucketed table when the
    partition count grows, after which probes regain bucket pruning."""
    from . import admission

    return admission.run(
        docs_stream,
        state_dir,
        lambda batch, state: None,
        [
            admission.State(
                "postings", "doc_id long, term string, dl int, tf long",
                lambda batch, surv: build_postings(batch, id_col, text_col),
            )
        ],
    )


def compact_postings_index(
    spark,
    state_dir: str,
    table: str,
    path: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Fold a ``stream_postings_admission`` partition tree into the
    bucketed catalog layout (``persist_postings_index`` shape): one
    shuffle on ``term``, after which every probe is bucket-pruned
    again.  Re-aggregates (doc, term) in case a document was ever
    re-ingested across batches."""
    import os

    from .. import storage

    raw = spark.read.parquet(os.path.join(state_dir, "postings"))
    folded = raw.groupBy("doc_id", "term", "dl").agg(
        F.sum("tf").alias("tf")
    )
    storage.write_bucketed(folded, table, path, ["term"], n_buckets)
    return spark.table(table)


def keyword_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    query_col: str = "query",
    topk: int = 10,
) -> DataFrame:
    """Top-``k`` over a persisted postings index with the exact-integer
    weight (``1_000_000 DIV df``), df computed FROM THE INDEX — so a
    shard appended after the index was built raises df and lowers the
    weight exactly as a batch rebuild would (q_incr_retrieval pins
    batch == incremental).

    Scale shape: the distinct query terms are collected (human-scale —
    the probe-list collect the IVF lane also makes) and pushed down as
    an ``isin`` filter, so the scan reads only the matching term
    buckets; df aggregation and scoring then run over exactly those
    rows — never the whole index."""
    from .textanalysis import word_terms

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(word_terms(F.col(query_col)))).alias(
            "term"
        ),
    )
    terms = [r.term for r in qterms.select("term").distinct().collect()]
    hits = index.filter(F.col("term").isin(terms))
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        F.broadcast(qterms)
        .join(hits, "term")
        .join(F.broadcast(dfreq), "term")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("tf").cast("long")
                * F.expr("CAST(1000000 AS BIGINT) DIV df")
            ).alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "score",
        )
    )


def keyword_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    topk: int = 10,
    scoring: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query.  Output: (query_id, rank, doc_id,
    score) with rank 1-based, ties broken by ascending doc_id (fully
    deterministic).  ``scoring`` is ``"bm25"`` (float, the real
    ranking) or ``"intweight"`` (BIGINT, the oracle-portable twin) —
    see the module docstring."""
    from .textanalysis import word_terms

    if scoring not in ("bm25", "intweight"):
        raise ValueError(f"unknown scoring {scoring!r}")
    postings = build_postings(docs, id_col, text_col)
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    qterms = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                F.array_distinct(word_terms(F.col(query_col)))
            ).alias("term"),
        )
    )
    joined = qterms.join(postings, "term").join(
        F.broadcast(dfreq), "term"
    )
    if scoring == "bm25":
        # corpus stats from the postings themselves (one doc-level
        # dedup of compact (doc, dl) rows) — no third tokenize pass.
        # Zero-term documents have no postings and drop out of
        # n_docs/avgdl; they can never match a query, so the only
        # effect is an idf computed over the matchable corpus
        # (documented semantics)
        stats = F.broadcast(
            postings.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count("*").alias("n_docs"),
                F.avg("dl").alias("avgdl"),
            )
        )
        joined = joined.crossJoin(stats)
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") / F.col("avgdl")
            )
        )
        contrib = (idf * tfnorm).alias("contrib")
        score = F.sum(F.col("contrib")).alias("score")
    else:
        # exact integer: weight = 1_000_000 DIV df
        contrib = (
            F.col("tf").cast("long")
            * F.expr("CAST(1000000 AS BIGINT) DIV df")
        ).alias("contrib")
        score = F.sum(F.col("contrib")).cast("long").alias("score")
    scored = (
        joined.select("query_id", "doc_id", contrib)
        .groupBy("query_id", "doc_id")
        .agg(score)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "score",
        )
    )
