"""Operator-level tests: as-of join edges, MinHash/SimHash recall on
planted near-duplicates, similarity search, text analysis, multimodal
plumbing."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from evm_archive_spark import fixtures
from evm_archive_spark.operators import dedup, multimodal, similarity, textanalysis
from evm_archive_spark.operators.asof import asof_join


def test_asof_join_semantics(spark):
    left = fixtures.transfers_df(spark)
    right = fixtures.price_df(spark)
    out = asof_join(
        left, right, on="block_number", by_left="token", by_right="address",
        value_cols=["price"],
    ).collect()
    got = {(r["token"], r["block_number"]): r["price"] for r in out}
    # before any price sample -> NULL
    assert got[(fixtures.TOKEN_A, 99)] is None
    # exact-block sample counts (inclusive <=)
    assert got[(fixtures.TOKEN_B, 100)] == Decimal(99000000)
    # between samples -> latest earlier
    assert got[(fixtures.TOKEN_A, 110)] == Decimal(151000000000)  # block 105
    assert got[(fixtures.TOKEN_A, 150)] == Decimal(153000000000)  # block 142
    assert len(out) == len(fixtures.TRANSFER_ROWS)


def test_asof_join_strict(spark):
    left = fixtures.transfers_df(spark)
    right = fixtures.price_df(spark)
    out = asof_join(
        left, right, on="block_number", by_left="token", by_right="address",
        value_cols=["price"], strict=True,
    ).collect()
    got = {(r["token"], r["block_number"]): r["price"] for r in out}
    # strict (<): the sample AT block 100 no longer counts for block 100
    assert got[(fixtures.TOKEN_B, 100)] is None


def _docs_with_near_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat naps "
        "in the warm afternoon sun near the old farm house"
    )
    rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),  # near-dup of 1
        (3, base),  # exact dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pooled_asof_join_property(spark):
    """asof_join == per-row 'latest right value with block <= left block'
    over generated tables (hypothesis); covers empty right groups, exact
    block ties, and multi-key interleaving."""
    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.asof import asof_join

    keys = ["k0", "k1", "k2"]

    @settings(max_examples=6, deadline=None)
    @given(
        lefts=st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 50)),
            min_size=1, max_size=12,
        ),
        rights=st.lists(
            st.tuples(
                st.sampled_from(keys), st.integers(0, 50), st.integers(1, 999)
            ),
            min_size=0, max_size=12, unique_by=lambda r: (r[0], r[1]),
        ),
    )
    def check(lefts, rights):
        left = spark.createDataFrame(
            [(k, b, i) for i, (k, b) in enumerate(lefts)],
            "token string, block_number long, rid long",
        )
        right = spark.createDataFrame(
            rights or [("__none__", 0, 0)],
            "address string, block_number long, price long",
        )
        out = asof_join(
            left, right, on="block_number",
            by_left="token", by_right="address", value_cols=["price"],
        ).collect()
        expect = {}
        for i, (k, b) in enumerate(lefts):
            cands = [r for r in rights if r[0] == k and r[1] <= b]
            expect[i] = max(cands, key=lambda r: r[1])[2] if cands else None
        got = {r["rid"]: r["price"] for r in out}
        assert got == expect

    check()


def test_minhash_finds_planted_near_dups(spark):
    df = _docs_with_near_dups(spark)
    pairs = dedup.minhash_near_duplicates(
        df, id_col="doc_id", text_col="text", threshold=0.7
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 3) in found  # exact dup: jaccard 1.0
    assert (1, 2) in found and (2, 3) in found  # near-dups
    assert all({a, b} <= {1, 2, 3} for a, b in found)  # no false positives
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert jac[(1, 3)] == 1.0


def test_simhash_hamming_near_dups(spark):
    df = _docs_with_near_dups(spark)
    fps = dict(
        df.select("doc_id", dedup.simhash(F.col("text")).alias("fp")).collect()
    )
    assert fps[1] == fps[3]  # identical text -> identical fingerprint
    pairs = dedup.simhash_near_duplicates(
        df, id_col="doc_id", text_col="text", max_hamming=6
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 3) in found
    assert (1, 2) in found  # one-token change -> small hamming distance


def test_simhash_blocking_complete_above_three(spark):
    """ADVICE r6: the chunk count derives from max_hamming (pigeonhole
    needs max_hamming + 1 chunks), so thresholds >= 4 lose no pairs —
    pinned by comparing the banded join against a brute-force all-pairs
    Hamming scan at max_hamming=8 over a random corpus."""
    import random

    rng = random.Random(7)
    words = [f"tok{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choices(words, k=12))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_duplicates(
            df, max_hamming=8
        ).collect()
    }
    fps = df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fp")
    ).collect()
    brute = {
        (a["doc_id"], b["doc_id"])
        for a in fps
        for b in fps
        if a["doc_id"] < b["doc_id"]
        and bin((a["fp"] ^ b["fp"]) & ((1 << 64) - 1)).count("1") <= 8
    }
    assert brute, "corpus produced no pairs at hamming<=8; widen it"
    assert got == brute


def test_exact_dedup_by_content(spark):
    df = _docs_with_near_dups(spark)
    kept = dedup.exact_dedup_by_content(df, "doc_id", "text")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 2, 4, 5]  # 3 collapsed into 1


def test_ngram_jaccard_pairs(spark):
    df = _docs_with_near_dups(spark)
    pairs = dedup.ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", n=3, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert found[(1, 3)] == 1.0
    assert 0.7 < found[(1, 2)] < 1.0


def test_cosine_topk_self_similarity(spark):
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(emb, queries, k=4)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001
    # ranks are 1..4 per query, descending cosine
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cosine"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == [1, 2, 3, 4]
        assert all(rs[i][1] >= rs[i + 1][1] for i in range(3))


def _pooled_ivf_topk_exact_when_probing_all_lists(spark):
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    bf = [tuple(r) for r in similarity.quantized_dot_topk(emb, 5, 3).collect()]
    ivf = [
        tuple(r)
        for r in similarity.ivf_topk(
            emb, 5, 3, n_centroids=8, nprobe=8
        ).collect()
    ]
    assert ivf == bf


def test_cosine_near_duplicate_pairs_planted(spark):
    """Planted geometry: v1 == 2*v0 (cos 1), v2 nearly-parallel to v0,
    v3 orthogonal, v4 = -v0 (cos -1, must be excluded by qd > 0)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.05, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_duplicate_pairs(df).collect()
    }
    assert got == {(0, 1), (0, 2), (1, 2)}


def _pooled_ivf_bucketed_persist_prunes_partitions(spark):
    """SCALING.md §6 layout exercised end-to-end: corpus persisted
    hive-partitioned by centroid_id, probe scans only the nprobe lists
    (PartitionFilters pinned),
    and nprobe == n_centroids reproduces exact brute force.
    (r13: pooled — was a 5.9 s standalone item.)"""
    import contextlib
    import io
    import os
    import tempfile

    tmp_path = tempfile.mkdtemp(prefix="ivf_pool_")

    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = os.path.join(tmp_path, "ivf")
    similarity.ivf_persist(emb, path, n_centroids=8, iters=1)
    dirs = sorted(
        d for d in os.listdir(f"{path}/corpus") if d.startswith("centroid_id=")
    )
    assert 1 <= len(dirs) <= 8

    probe = similarity.ivf_probe_bucketed(
        spark, path, n_queries=5, k=3, nprobe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "centroid_id" in pf_line and "in" in pf_line.lower()

    # nprobe == n_centroids: identical to brute force over the same corpus
    bf = [tuple(r) for r in similarity.quantized_dot_topk(emb, 5, 3).collect()]
    full = [
        tuple(r)
        for r in similarity.ivf_probe_bucketed(
            spark, path, n_queries=5, k=3, nprobe=8
        ).collect()
    ]
    assert full == bf


def test_ivf_topk_partial_probe_recall(spark):
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.quantized_dot_topk(emb, 10, 5).collect()
    }
    appx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, 10, 5, n_centroids=16, nprobe=4
        ).collect()
    }
    # probing 4/16 lists must beat the random-probe floor (~0.25) by a
    # comfortable margin; measured 0.56 on the sf0.001 fixture
    assert len(appx & bf) / len(bf) >= 0.35
    # every returned neighbor must be a real corpus id, ranked 1..5
    assert all(q < 10 for q, _ in appx)


def test_lsh_buckets_deterministic_and_near_dup_recall(spark):
    # a vector and its tiny perturbation must share an LSH bucket and be
    # found by the near-duplicate pass
    base = [float((i * 37 % 97) - 48) / 48.0 for i in range(64)]
    pert = list(base)
    pert[0] += 1e-6
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(1, base), (2, pert), (3, far)], ["vec_id", "embedding"]
    )
    b = similarity.hyperplane_lsh_buckets(df, n_planes=8).collect()
    buckets = {r["vec_id"]: r["lsh_bucket"] for r in b}
    assert buckets[1] == buckets[2]
    assert buckets[1] != buckets[3]  # antipode flips every plane sign
    pairs = similarity.lsh_near_duplicates(df, threshold=0.99, n_planes=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_lang_id_on_documents(spark):
    from evm_archive_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pred = textanalysis.lang_id(docs)
    # the fixture's en/zh docs should mostly be recovered by the heuristic
    agree = pred.filter(
        (F.col("lang").isin("en", "zh")) & (F.col("lang_pred") == F.col("lang"))
    ).count()
    total = pred.filter(F.col("lang").isin("en", "zh")).count()
    assert total > 0 and agree / total > 0.5


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked at the dog for a while"),
            (2, "!!! ??? ###"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textanalysis.quality_score(df).collect()}
    assert 0.0 <= out[2]["q_score"] <= 1.0
    assert out[1]["q_score"] > out[2]["q_score"]
    assert out[3]["q_n_tokens"] in (0, 1)  # split('') edge
    assert out[1]["q_stop_ratio_en"] > 0.3


def test_gopher_rules(spark):
    good = "the cat sat on the mat and the dog lay down by the door today"
    df = spark.createDataFrame(
        [
            (1, good),  # passes everything
            (2, "short text here"),  # fails r_words (min 5 with default ok; use min_words below)
            (3, "### ### " + good),  # symbol words push r_symbol over 0.1
            (4, "1 2 3 4 5 6 7 8 9 10 11 12"),  # fails r_alpha and r_stop
            (5, "the of " + "a " * 3 + "to in is on"),  # mean word len < 2.0
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textanalysis.gopher_rules(df, min_words=5).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["r_words"] is False and out[2]["keep"] is False
    assert out[3]["r_symbol"] is False
    assert out[4]["r_alpha"] is False and out[4]["r_stop"] is False
    assert out[5]["r_mean_len"] is False
    # integer cross-multiplication: mean-len boundary is exact (10 words x
    # mean exactly 2.0 -> total_len*10 == 20*n_words passes the >= bound)
    bdf = spark.createDataFrame([(1, "ab " * 9 + "ab")], ["doc_id", "text"])
    brow = textanalysis.gopher_rules(bdf, min_words=5).collect()[0]
    assert brow["total_len"] == 20 and brow["n_words"] == 10
    assert brow["r_mean_len"] is True


def test_commonness_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "zz"),  # all terms < 3 chars -> no output row
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in textanalysis.commonness_stats(df).collect()
    }
    # vocab: apple=3, banana=1, cherry=1
    assert out[1]["n_terms"] == 3
    assert out[1]["sum_term_count"] == 3 + 1 + 3
    assert out[1]["min_term_count"] == 1
    assert out[2]["sum_term_count"] == 3 + 1
    assert out[2]["min_term_count"] == 1
    assert 3 not in out  # zero-term docs drop (inner join)
    # frozen-vocab path: score doc 2 against an external vocabulary
    vocab = spark.createDataFrame(
        [("apple", 100), ("cherry", 2)], ["term", "term_count"]
    )
    frozen = {
        r["doc_id"]: r
        for r in textanalysis.commonness_stats(
            df.filter(F.col("doc_id") == 2), vocab=vocab
        ).collect()
    }
    assert frozen[2]["sum_term_count"] == 102


def test_scalar_quantize_bounds_and_reconstruction(spark):
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    stats = similarity.quantize_stats(emb)
    mins, maxs = stats
    dim = len(mins)
    q = similarity.scalar_quantize(emb, stats=stats)
    recon = q.withColumn(
        "recon", similarity.dequantize_milli("codes", stats)
    ).withColumn(
        "milli",
        F.expr(
            "transform(embedding, x -> "
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ),
    )
    # one action: per-row max |recon - milli|, code range, dims
    agg = recon.select(
        F.size("codes").alias("d"),
        F.array_max("codes").alias("cmax"),
        F.array_min("codes").alias("cmin"),
        F.array_max(
            F.zip_with("recon", "milli", lambda a, b: F.abs(a - b))
        ).alias("err"),
        F.zip_with("recon", "milli", lambda a, b: F.abs(a - b)).alias(
            "errs"
        ),
    ).collect()
    cell = [max(mx - mn, 1) / 255 for mn, mx in zip(mins, maxs)]
    for r in agg:
        assert r["d"] == dim
        assert 0 <= r["cmin"] and r["cmax"] <= 255
        # per-dim reconstruction error bounded by the cell width (+1 for
        # the two floors)
        for j, e in enumerate(r["errs"]):
            assert e <= cell[j] + 1
    # frozen stats -> identical codes regardless of partitioning
    a = {
        r["vec_id"]: r["codes"]
        for r in similarity.scalar_quantize(emb, stats=stats).collect()
    }
    b = {
        r["vec_id"]: r["codes"]
        for r in similarity.scalar_quantize(
            emb.repartition(7), stats=stats
        ).collect()
    }
    assert a == b


def test_duplicate_span_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),     # shares gram "a b c d" with doc 2
            (2, "a b c d x y"),
            (3, "p q r s t u"),     # unique grams
            (4, "m m m m m m m"),   # self-repeating: all grams identical
            (5, "one two"),          # shorter than n -> 0 positions
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textanalysis.duplicate_span_stats(df, n=4).collect()
    }
    # doc1 grams: abcd bcde cdef; only abcd duplicated (in doc2)
    assert out[1]["n_positions"] == 3 and out[1]["n_dup_positions"] == 1
    assert out[2]["n_dup_positions"] == 1
    assert out[3]["n_dup_positions"] == 0 and out[3]["dup_frac_ppm"] == 0
    # doc4: 4 positions, all the same gram "m m m m" -> all duplicated
    assert out[4]["n_positions"] == 4 and out[4]["n_dup_positions"] == 4
    assert out[4]["dup_frac_ppm"] == 1_000_000
    assert out[5]["n_positions"] == 0 and out[5]["dup_frac_ppm"] == 0
    assert out[1]["dup_frac_ppm"] == 333_333  # floor(1e6/3)


def test_c4_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),            # clean
            (2, "the cat sat on the damn mat"),       # badword
            (3, "see our privacy policy for details and things"),  # boiler
            (4, 'var x = {"k": 1} and some more words here'),      # brace
            (5, "supercalifragilisticexpialidocious word pad pad pad pad"),
            (6, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textanalysis.c4_rules(
            df, badwords=("damn",), min_words=5, max_word_len=20
        ).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["r_badwords"] is False and out[2]["keep"] is False
    assert out[3]["r_boiler"] is False
    assert out[4]["r_brace"] is False
    assert out[5]["r_word_len"] is False
    assert out[6]["r_min_words"] is False
    # no badwords configured -> rule is constant-true, others unaffected
    out2 = {
        r["doc_id"]: r
        for r in textanalysis.c4_rules(df, min_words=5).collect()
    }
    assert out2[2]["r_badwords"] is True


def test_fingerprint_whitespace_sensitivity(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh" * 4), (2, "abcdefgh" * 4), (3, "zyxwvuts" * 4)],
        ["doc_id", "text"],
    )
    fp = dict(
        df.select(
            "doc_id", textanalysis.fingerprint(F.col("text")).alias("fp")
        ).collect()
    )
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_tfidf_topk_ranks_characteristic_terms(spark):
    from evm_archive_spark.operators.textanalysis import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine engine common"),
            (2, "duck duck pond common"),
            (3, "pond pond engine common"),
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_topk(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in rows if r["rnk"] == 1}
    # per-doc top term is the frequent rare one, never the ubiquitous one
    assert top == {1: "spark", 2: "duck", 3: "pond"}
    assert all(r["term"] != "common" or r["rnk"] > 1 for r in rows)


def test_reorg_resolution(spark):
    from evm_archive_spark.operators.reorg import resolve_removed

    df = spark.createDataFrame(
        [
            ("0xb1", "0xt1", 0, False),
            ("0xb1", "0xt1", 0, True),
            ("0xb2", "0xt2", 5, False),
        ],
        "block_hash string, transaction_hash string, log_index long, "
        "removed boolean",
    )
    out = resolve_removed(
        df, ["block_hash", "transaction_hash", "log_index"]
    ).collect()
    assert [(r["block_hash"], r["log_index"]) for r in out] == [("0xb2", 5)]


def test_multimodal_decode_plumbing(spark):
    from evm_archive_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = multimodal.synthetic_media(spark, docs)
    assert [(f.name, f.dataType.simpleString()) for f in media.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in multimodal.MEDIA_SCHEMA.fields
    ]

    feats = multimodal.decode_images(media, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["feature"]) == 8
        assert r["width"] >= 64 and r["height"] >= 64
    # deterministic: same payload -> same feature
    again = multimodal.decode_images(media, feature_dim=8).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_multimodal_strict_raises_without_codec(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    media = multimodal.synthetic_media(spark, docs)
    out = multimodal.decode_images(media, strict=True)
    try:
        import PIL  # noqa: F401

        out.collect()  # codec present: should work
    except ImportError:
        with pytest.raises(Exception, match="NotImplementedError|decode"):
            out.collect()


def test_frame_sample_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "frame-payload-" * 50), (2, "tiny")], ["doc_id", "text"]
    )
    media = multimodal.synthetic_media(spark, docs)
    frames = multimodal.frame_sample(media, every_n=5).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert len(by_id[1]) > 1  # long payload -> multiple sampled frames
    assert by_id[2] == [0]  # short payload -> single frame


def test_cosine_pairs_property_vs_python_reference(spark):
    """The operator's integer decision rule, replicated independently in
    Python, must agree exactly on an adversarial vector set (negatives,
    zeros, near-threshold geometry, quantization boundaries) — one Spark
    action over the combined set, not one job per example."""
    import math
    import random

    num, den = 3, 5

    def ref_pairs(vectors):
        q = [[math.floor(x * 1000) for x in v] for v in vectors]
        n2 = [sum(e * e for e in e_) for e_ in q]
        out = set()
        for i in range(len(q)):
            for j in range(i + 1, len(q)):
                qd = sum(a * b for a, b in zip(q[i], q[j]))
                if qd > 0 and qd * qd * den * den >= num * num * n2[i] * n2[j]:
                    out.add((i, j))
        return out

    rng = random.Random(0xC05)
    vectors = [
        [0.0, 0.0, 0.0, 0.0],                      # zero vector: no pairs
        [1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0],  # antipodal (dot<0)
        [0.6, 0.8, 0.0, 0.0], [0.6, 0.8, 0.001, 0.0],  # near-identical
        [1.0, 1.0, 0.0, 0.0], [1.0, 0.0, 1.0, 0.0],    # cos=0.5 < 3/5
        [0.6, 0.8, 0.0, 0.0], [0.8, 0.6, 0.0, 0.0],    # cos=0.96 >= 3/5
        [0.0005, 0.0015, -0.0005, 0.0],             # quantization boundary
        [2.0, -2.0, 2.0, -2.0],
    ] + [[rng.uniform(-2, 2) for _ in range(4)] for _ in range(30)]

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)], ["vec_id", "embedding"]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_duplicate_pairs(
            df, threshold_num=num, threshold_den=den
        ).collect()
    }
    assert got == ref_pairs(vectors)


def test_lsh_neardup_subset_of_exact(spark):
    """Bucketed-LSH near-dup pairs must be a subset of the exact all-pairs
    result at the same threshold (LSH can miss — recall < 1 — but a pair
    it emits passed the exact in-bucket cosine verify), and must recall
    something on this fixture at threshold 0.4."""
    import math

    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").filter(
        F.col("vec_id") < 300
    )
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    ids = sorted(vecs)
    exact = set()
    for i, a in enumerate(ids):
        va = vecs[a]
        na = math.sqrt(sum(x * x for x in va))
        for b in ids[i + 1 :]:
            vb = vecs[b]
            dot = sum(x * y for x, y in zip(va, vb))
            nb = math.sqrt(sum(x * x for x in vb))
            if dot / (na * nb) >= 0.4:
                exact.add((a, b))
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_near_duplicates(
            emb, threshold=0.4, n_planes=4, n_tables=8
        ).collect()
    }
    assert lsh <= exact
    assert exact and lsh  # fixture yields pairs; LSH recalls a nonzero set
    # multi-table recall dominates single-table at the same plane count
    one_table = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_near_duplicates(
            emb, threshold=0.4, n_planes=4, n_tables=1
        ).collect()
    }
    assert one_table <= lsh


def test_resize_images_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "payload-one"), (2, "payload-two")], ["doc_id", "text"]
    )
    media = multimodal.synthetic_media(spark, docs)
    resized = multimodal.resize_images(media, 128, 96).collect()
    assert len(resized) == 2
    for r in resized:
        assert r["meta"]["width"] == 128 and r["meta"]["height"] == 96
        assert r["meta"]["n_bytes"] == len(r["payload"]) == 128 * 96 // 64
        assert r["meta"]["mime"] == "image/x-stub"
    # deterministic and payload-dependent
    again = {r["media_id"]: bytes(r["payload"]) for r in
             multimodal.resize_images(media, 128, 96).collect()}
    first = {r["media_id"]: bytes(r["payload"]) for r in resized}
    assert again == first
    assert first[1] != first[2]


def test_connected_components_chains_and_islands(spark):
    from evm_archive_spark.operators.dedup import connected_components

    # chain 1-2-3-4, pair 10-11, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["id_a", "id_b"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_survivors_transitive(spark):
    from evm_archive_spark.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    # 0~1, 1~2 transitively => keep 0; 4~5 => keep 4; 3 untouched
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs).collect())
    assert kept == [0, 3, 4]


def test_dedup_survivors_no_forced_broadcast(spark):
    """Losers can be 30-50% of a dedup-heavy corpus: the anti-join must not
    carry a broadcast hint (VERDICT r1) — AQE may still choose broadcast at
    runtime for small sets, but a *forced* hint OOMs at scale."""
    from evm_archive_spark.operators.dedup import dedup_survivors

    n = 1000
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    # half the corpus loses: pair (2k, 2k+1) for every k
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, n, 2)], ["id_a", "id_b"]
    )
    out = dedup_survivors(docs, pairs)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no F.broadcast on the losers
    assert out.count() == n // 2


def test_hash_split_stable_and_partition_invariant(spark):
    from evm_archive_spark.operators.sampling import hash_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", w).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), "doc_id", w).collect()
    }
    assert a == b  # partitioning-invariant
    from collections import Counter

    c = Counter(a.values())
    assert 700 < c["train"] < 900 and c["val"] > 50 and c["test"] > 50
    assert set(a.values()) == {"train", "val", "test"}


def test_stratified_sample_per_stratum(spark):
    from evm_archive_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(1000)],
        ["doc_id", "lang"],
    )
    out = stratified_sample(df, "doc_id", "lang", {"en": 0.2, "de": 1.0})
    rows = out.collect()
    en = [r for r in rows if r["lang"] == "en"]
    de = [r for r in rows if r["lang"] == "de"]
    assert len(de) == 500          # kept whole
    assert 50 < len(en) < 200      # ~20% of 500
    # deterministic: same call, same rows
    again = stratified_sample(df, "doc_id", "lang", {"en": 0.2, "de": 1.0})
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in rows
    )


def test_pack_by_budget_matches_naive_cumsum(spark):
    """Two-phase distributed prefix sum must equal the naive global
    window, including across shard boundaries, sparse/empty shards, and
    docs larger than the budget."""
    import random

    from evm_archive_spark.operators.packing import pack_by_budget

    rng = random.Random(7)
    # sparse, non-contiguous ids -> some shards empty; token counts span
    # tiny to bigger-than-budget
    rows = [(i * 7 + rng.randrange(3), rng.choice([1, 5, 64, 130]))
            for i in range(200)]
    rows = list({r[0]: r for r in rows}.values())  # unique ids
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])

    got = {
        r["doc_id"]: (r["pack_id"], r["pack_off"])
        for r in pack_by_budget(
            df, "n_tokens", budget=100, shards=16
        ).collect()
    }

    run = 0
    for doc_id, n in sorted(rows):
        assert got[doc_id] == (run // 100, run % 100), doc_id
        run += n
    assert len(got) == len(rows)


def test_pack_plan_has_no_global_row_window(spark):
    """The per-row cumsum window must be partitioned (parallel); only the
    per-shard-totals window (shards rows) may be global."""
    from evm_archive_spark.operators.packing import pack_by_budget

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
    )
    plan = pack_by_budget(df, "n_tokens", budget=128)._jdf.queryExecution().executedPlan().toString()
    # the wide window runs partitioned by _shard; a global single-partition
    # Sort+Window over the full input would show windowing without a
    # preceding hashpartitioning on _shard
    assert "_shard" in plan


def test_repetition_features(spark):
    from evm_archive_spark.operators.textanalysis import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # 6 toks, 2 distinct, top bigram "a b" x3
            (2, "x y z w"),              # no repetition, each bigram once
            (3, "solo"),                 # single token: no bigrams
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_features(df).collect()}
    assert got[1]["n_tokens"] == 6
    assert got[1]["distinct_token_frac_ppm"] == 333_333
    assert got[1]["top_bigram_count"] == 3
    assert got[1]["top_bigram_frac_ppm"] == 1_000_000
    assert got[2]["top_bigram_count"] == 1
    assert got[3]["top_bigram_count"] == 0
    assert got[3]["distinct_token_frac_ppm"] == 1_000_000


def test_scrub_pii(spark):
    from evm_archive_spark.operators.textanalysis import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@ex-ample.co.uk today"),
            (2, "server 10.0.255.3 port 8080 id 12345678"),
            (3, "clean text 123"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", scrub_pii("text").alias("s")).collect()
    }
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "server <IP> port 8080 id <NUM>"
    assert got[3] == "clean text 123"


def test_weighted_mix(spark):
    from evm_archive_spark.operators.sampling import hash_bucket, weighted_mix

    df = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else "books") for i in range(400)],
        ["doc_id", "source"],
    )
    out = weighted_mix(df, "doc_id", "source", {"books": 2.5, "web": 0.25})
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(r["copy_id"])
    # copy ids are dense 0..n-1
    for doc, copies in per.items():
        assert sorted(copies) == list(range(len(copies)))
    # books rows appear 2 or 3 times; web rows 0 or 1 times
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", hash_bucket("doc_id").alias("b")
        ).collect()
    }
    for i in range(400):
        n = len(per.get(i, []))
        if i % 2 == 1:  # books
            assert n == (3 if buckets[i] < 5000 else 2)
        else:  # web
            assert n == (1 if buckets[i] < 2500 else 0)
    # determinism: second run identical
    again = {
        (r["doc_id"], r["copy_id"])
        for r in weighted_mix(
            df, "doc_id", "source", {"books": 2.5, "web": 0.25}
        ).collect()
    }
    assert again == {(r["doc_id"], r["copy_id"]) for r in rows}


def test_decontaminate_planted(spark):
    from evm_archive_spark.operators.textanalysis import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words then the secret benchmark answer is hidden here"),
            (2, "totally unrelated clean document about spark shuffles"),
            (3, "benchmark answer is forty"),  # only a 4-gram, below n=5
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, eval_df, n=5).collect()
    )
    assert kept == [2, 3]  # doc 1 shares a 5-gram, doc 3's overlap is 4 words
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(corpus, eval_df, n=5, keep=False).collect()
    }
    assert flags == {1: True, 2: False, 3: False}
    # at n=4 doc 3's overlap now counts
    kept4 = sorted(
        r["doc_id"] for r in decontaminate(corpus, eval_df, n=4).collect()
    )
    assert kept4 == [2]


def test_deterministic_shuffle_order_and_plan(spark):
    from evm_archive_spark.operators.sampling import deterministic_shuffle

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    out = deterministic_shuffle(df, "doc_id", partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()  # no single-partition sort
    got = [r["doc_id"] for r in out.collect()]
    import hashlib

    want = sorted(
        range(500), key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )
    assert got == want
    assert got != list(range(500))


def test_prepare_training_corpus_stages(spark):
    """Each pipeline stage visibly acts on a planted corpus: the exact
    dup collapses, the short doc is filtered, the contaminated doc drops,
    mixing replicates by source, and pack offsets tile the budget."""
    from evm_archive_spark.operators.corpus import prepare_training_corpus

    long_a = "alpha " + " ".join(f"w{i}" for i in range(30))
    long_b = "beta " + " ".join(f"x{i}" for i in range(40))
    leak = "the eval secret sequence is here " + " ".join(
        f"y{i}" for i in range(25)
    )
    docs = spark.createDataFrame(
        [
            (1, long_a, "src0"),
            (2, long_a, "src0"),           # exact dup of 1 -> dropped
            (3, "too short", "src0"),      # < 20 tokens -> dropped
            (4, long_b, "src1"),
            (5, leak, "src0"),             # shares 4-grams with eval -> dropped
        ],
        ["doc_id", "text", "source"],
    )
    eval_df = spark.createDataFrame(
        [(100, "the eval secret sequence is here and more")],
        ["doc_id", "text"],
    )
    out = prepare_training_corpus(
        docs, eval_df,
        weights={"src0": 2.0, "src1": 1.0},
        budget=40, min_tokens=20, contam_n=4, shards=4,
    ).collect()
    rows = {(r["doc_id"], r["copy_id"]): r for r in out}
    # survivors: doc 1 x2 copies (src0 w=2.0), doc 4 x1 (src1 w=1.0)
    assert set(rows) == {(1, 0), (1, 1), (4, 0)}
    # packing: total order over md5 keys, offsets consistent with budget
    by_start = sorted(out, key=lambda r: (r["pack_id"], r["pack_off"]))
    run = 0
    for r in by_start:
        assert r["pack_id"] == run // 40 and r["pack_off"] == run % 40
        run += r["n_tokens"]


def test_ivf_sample_trained_still_exact_at_full_probe(spark):
    """Mini-batch training (deterministic hash sample) changes centroid
    QUALITY, never probe correctness: at nprobe == n_centroids the result
    equals brute force regardless of where centroids landed."""
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    bf = [tuple(r) for r in similarity.quantized_dot_topk(emb, 5, 3).collect()]
    ivf = [
        tuple(r)
        for r in similarity.ivf_topk(
            emb, 5, 3, n_centroids=8, nprobe=8, sample_fraction=0.3
        ).collect()
    ]
    assert ivf == bf


def test_line_dedup_removes_repeated_lines_preserving_order(spark):
    from evm_archive_spark.operators.dedup import line_dedup

    boiler = "accept our cookie policy"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n{boiler}\nunique tail one"),
            (2, f"{boiler}\nbeta two"),
            (3, "gamma three\n\nunique tail three"),
            (4, "delta four\n"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, min_occurrences=2, min_line_chars=1)
        .collect()
    }
    # the boilerplate line occurs twice corpus-wide -> removed everywhere,
    # remaining lines keep their original order
    assert out[1]["text"] == "alpha one\nunique tail one"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text"] == "beta two"
    # blank lines repeat (docs 3 and 4) but fall under min_line_chars -> kept
    assert out[3]["text"] == "gamma three\n\nunique tail three"
    assert out[3]["n_removed"] == 0
    assert out[4]["text"] == "delta four\n"


def test_line_dedup_min_occurrences_threshold(spark):
    from evm_archive_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, "twice\nthrice") for i in (1, 2)] + [(3, "thrice\nsolo")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup(docs, min_occurrences=3).collect()
    }
    # 'thrice' appears 3x -> removed; 'twice' only 2x -> kept
    assert out[1] == "twice"
    assert out[3] == "solo"


def test_bloom_no_false_negatives_and_low_fp(spark):
    from evm_archive_spark.operators.bloom import (
        bloom_build, bloom_contains, bloom_dense,
    )
    import pyspark.sql.functions as F

    members = [(f"member-{i}",) for i in range(200)]
    others = [(f"absent-{i}",) for i in range(500)]
    mdf = spark.createDataFrame(members, "v string")
    bits, k = 1 << 13, 5
    dense = bloom_dense(
        bloom_build(mdf, "v", num_bits=bits, num_hashes=k), num_bits=bits
    )
    probe = spark.createDataFrame(members + others, "v string").select(
        "v",
        bloom_contains("v", dense, num_bits=bits, num_hashes=k).alias("hit"),
    )
    rows = {r["v"]: r["hit"] for r in probe.collect()}
    # guarantee: every member hits
    assert all(rows[v] for v, in members)
    # 8192 bits / 200 members at k=5 -> FP rate well under 5%
    fps = sum(rows[v] for v, in others)
    assert fps < 25, fps


def test_bloom_join_path_matches_dense_path(spark):
    from evm_archive_spark.operators.bloom import (
        bloom_build, bloom_contains, bloom_dense, bloom_might_contain_join,
    )
    import pyspark.sql.functions as F

    mdf = spark.createDataFrame([(f"m{i}",) for i in range(50)], "v string")
    bits, k = 1 << 10, 4
    bloom = bloom_build(mdf, "v", num_bits=bits, num_hashes=k)
    dense = bloom_dense(bloom, num_bits=bits)
    probe = spark.createDataFrame(
        [(i, f"m{i}") for i in range(40, 60)] + [(100 + i, f"x{i}") for i in range(30)],
        "id int, v string",
    )
    via_dense = {
        r["id"]: r["hit"]
        for r in probe.select(
            "id",
            bloom_contains("v", dense, num_bits=bits, num_hashes=k).alias("hit"),
        ).collect()
    }
    via_join = {
        r["id"]: r["maybe_member"]
        for r in bloom_might_contain_join(
            probe, "v", bloom, id_col="id", num_bits=bits, num_hashes=k
        ).collect()
    }
    assert via_dense == via_join


def test_semantic_dedup_planted_within_cluster_dup(spark):
    from evm_archive_spark.operators.similarity import semantic_dedup

    base = [0.0] * 8
    a = [1.0, 0.2, 0.0, 0.1, 0.0, 0.0, 0.3, 0.0]
    a_dup = [0.99, 0.21, 0.0, 0.1, 0.0, 0.01, 0.3, 0.0]
    b = [0.0, 0.1, 1.0, 0.0, 0.2, 0.0, 0.0, 0.4]
    rows = [(0, a), (1, b), (5, a_dup), (7, [-v for v in b])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, centroid_mod=1, threshold_num=19, threshold_den=20
        ).collect()
    }
    # centroid_mod=1 -> every row is a centroid; each assigns to itself
    # (max dot) except exact-duplicate directions
    # planted near-identical pair (0, 5): the higher id loses
    assert out[0]["keep"] is True
    assert out[5]["keep"] is False
    # dissimilar rows survive
    assert out[1]["keep"] is True and out[7]["keep"] is True
    # the duplicate pair lands in the same cluster
    assert out[0]["centroid_id"] == out[5]["centroid_id"]


def test_semantic_dedup_empty_centroid_set_raises(spark):
    """ADVICE r2: an empty centroid set must fail loudly, not silently
    return keep=true for every row."""
    import pytest

    from evm_archive_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # no vec_id satisfies id % 2 == 0
    with pytest.raises(ValueError, match="empty centroid set"):
        semantic_dedup(emb, centroid_mod=2)


def _pooled_pq_train_kmeans_deterministic_and_better_distortion(spark):
    """VERDICT r2 #6: Lloyd-refined sub-codebooks are (a) deterministic
    across invocations, (b) drop-in for pq_encode/pq_topk, and (c) at
    equal code budget achieve no worse total quantization distortion than
    the deterministic-sample codebook they initialize from."""
    import pyspark.sql.functions as F

    from evm_archive_spark.operators.similarity import (
        _QUANT, pq_encode, pq_train, pq_train_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, k = 4, 16
    trained = pq_train_kmeans(emb, m=m, k=k, iters=2)
    trained2 = pq_train_kmeans(emb, m=m, k=k, iters=2)
    assert trained == trained2  # deterministic end to end
    assert len(trained) == m and all(len(s) == k for s in trained)

    sampled = pq_train(emb, m=m, sample_mod=37)
    # equal code budget: truncate the sample book to k codewords/subspace
    sampled = [s[:k] for s in sampled]

    def distortion(book):
        # sum over vectors of ||x_s - c_code(x_s)||^2, exact integers
        cb = F.lit([[list(cw) for cw, _ in sub] for sub in book]).cast(
            "array<array<array<bigint>>>"
        )
        coded = pq_encode(emb, book, out_col="codes", impl="arrow")
        dsub = len(book[0][0][0])
        expr = (
            "aggregate(zip_with(codes, sequence(0, {mm}), (c, s) -> "
            "aggregate(zip_with(slice(__e, s * {dsub} + 1, {dsub}), "
            "element_at(element_at(CB, s + 1), CAST(c + 1 AS INT)), "
            "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
            "(a, v) -> a + v)), CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).format(mm=len(book) - 1, dsub=dsub)
        scored = coded.withColumn("__e", F.expr(_QUANT.format(v="embedding")))
        scored = scored.withColumn("CB", cb)
        return scored.select(F.sum(F.expr(expr)).alias("d")).first()["d"]

    d_trained = distortion(trained)
    d_sampled = distortion(sampled)
    assert d_trained <= d_sampled, (d_trained, d_sampled)


def _pooled_pq_train_kmeans_skips_null_embeddings(spark):
    """ADVICE r12: the TakeOrdered init (orderBy xxhash + limit) can
    select rows the old row_number window implicitly skipped — NULL
    and wrong-dimension embeddings.  They must be filtered before
    selection or book init raises TypeError on a None slice."""
    from evm_archive_spark.operators.similarity import (
        pq_encode, pq_train_kmeans,
    )

    rows = [(i, [float(i + s) for s in range(4)]) for i in range(4)]
    rows += [(10 + i, None) for i in range(12)]      # NULLs dominate
    rows.append((30, [1.0, 2.0]))                    # wrong dim
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    book = pq_train_kmeans(emb, m=2, k=4, iters=1)
    assert len(book) == 2 and all(len(s) == 4 for s in book)
    # the trained book round-trips through pq_encode on the clean rows
    clean = emb.filter("embedding is not null and size(embedding) = 4")
    assert pq_encode(clean, book).count() == 4
    # and an all-null frame fails typed, not with TypeError
    allnull = spark.createDataFrame(
        [(1, [0.0] * 4), (2, None)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="short"):
        pq_train_kmeans(allnull, m=2, k=2, iters=1)


def test_pq_topk_accepts_injected_book(spark):
    from evm_archive_spark.operators.similarity import (
        pq_topk, pq_train_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    book = pq_train_kmeans(emb, m=8, k=8, iters=1)
    out = pq_topk(emb, n_queries=3, k=2, book=book).collect()
    assert len(out) == 6
    assert {r["query_id"] for r in out} == {0, 1, 2}


def test_pq_training_members_encode_to_their_own_codeword(spark):
    from evm_archive_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    book = pq_train(emb, m=8, sample_mod=11)
    coded = {
        r["vec_id"]: r["pq_codes"]
        for r in pq_encode(emb, book).collect()
    }
    train_ids = sorted(i for i in coded if i % 11 == 0)
    for rank, vid in enumerate(train_ids):
        # a training member's nearest codeword in every subspace is itself
        # (dist = -|x|^2, the unique minimum unless another codeword ties)
        assert coded[vid] == [rank] * 8, (vid, coded[vid])


def test_pq_adc_topk_recall_vs_exact(spark):
    from evm_archive_spark.operators.similarity import (
        pq_topk, quantized_dot_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = quantized_dot_topk(emb, n_queries=5, k=10)
    approx = pq_topk(emb, n_queries=5, k=10, sample_mod=11)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # ADC through an 11-sample codebook over near-orthogonal synthetic
    # vectors is the PQ worst case: measured recall 0.24 vs a random
    # baseline of k/(n-1) ~= 0.02.  Pin "informative", not "good".
    assert recall >= 0.1, recall


def _pooled_pq_encode_arrow_matches_expr_bit_for_bit(spark):
    from evm_archive_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    book = pq_train(emb, sample_mod=11)
    a = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(emb, book, impl="arrow").collect()
    }
    e = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(emb, book, impl="expr").collect()
    }
    assert a == e


def test_cms_weighted_build_matches_stream_build(spark):
    """cms_build(weight_col=...) over a (value, count) frequency table
    must produce the identical sparse sketch as the per-instance build
    over the raw stream — the r13 single-tokenize q_cms shape relies on
    this cell-for-cell equality."""
    from evm_archive_spark.operators.sketches import cms_build

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    w, d = 64, 3
    stream = {
        (r["j"], r["p"]): r["c"]
        for r in cms_build(tok, "t", width=w, depth=d).collect()
    }
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    weighted = {
        (r["j"], r["p"]): r["c"]
        for r in cms_build(
            counts, "t", width=w, depth=d, weight_col="c"
        ).collect()
    }
    assert stream == weighted


def test_nb_train_class_totals_match_tokenize_pass(spark):
    """nb_train derives n_tokens from token_counts (r13: one tokenize
    pass); it must equal the direct per-document token-count sum,
    including a class whose documents tokenize to nothing."""
    from evm_archive_spark.operators.classify import nb_train

    rows = [
        (1, "a b c", "x"),
        (2, "b c", "x"),
        (3, "d", "y"),
        (4, "   ", "z"),  # whitespace-only: zero non-empty tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    ct, _tc = nb_train(df, label_col="label")
    got = {r["label"]: (r["n_docs"], r["n_tokens"]) for r in ct.collect()}
    assert got == {"x": (2, 5), "y": (1, 1), "z": (1, 0)}


def test_cms_never_underestimates_and_merges(spark):
    from evm_archive_spark.operators.sketches import (
        cms_build, cms_dense, cms_estimate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    w, d = 64, 3
    dense = cms_dense(cms_build(tok, "t", width=w, depth=d), width=w, depth=d)
    true = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    rows = true.select(
        "t", "c", cms_estimate("t", dense).alias("est")
    ).collect()
    assert rows
    for r in rows:
        assert r["est"] >= r["c"], (r["t"], r["est"], r["c"])
    # shard-merge property: sketches over two halves sum to the whole
    h1 = tok.limit(0)  # build from split by hash instead: deterministic
    a = tok.filter(F.crc32("t") % 2 == 0)
    b = tok.filter(F.crc32("t") % 2 == 1)
    from collections import Counter
    whole = Counter()
    for part in (a, b):
        cms = cms_build(part, "t", width=w, depth=d)
        for r in cms.collect():
            whole[(r["j"], r["p"])] += r["c"]
    full = {
        (r["j"], r["p"]): r["c"]
        for r in cms_build(tok, "t", width=w, depth=d).collect()
    }
    assert dict(whole) == full


def test_hll_estimate_within_tolerance(spark):
    from evm_archive_spark.operators.sketches import (
        hll_estimate, hll_registers,
    )

    vals = spark.range(0, 5000).selectExpr("CAST(id AS STRING) AS v")
    regs = hll_registers(vals, "v", b=8)
    est = hll_estimate(regs, b=8)
    # standard error ~1.04/sqrt(256) ~= 6.5%; allow 3 sigma
    assert abs(est - 5000) / 5000 < 0.2, est
    # registers merge by MAX across shards
    a = hll_registers(vals.filter("CAST(v AS INT) % 2 = 0"), "v", b=8)
    b_ = hll_registers(vals.filter("CAST(v AS INT) % 2 = 1"), "v", b=8)
    merged = (
        a.union(b_)
        .groupBy("bucket")
        .agg(F.max("maxrho").alias("maxrho"))
    )
    m1 = {(r["bucket"], r["maxrho"]) for r in merged.collect()}
    m2 = {(r["bucket"], r["maxrho"]) for r in regs.collect()}
    assert m1 == m2


def test_normalize_text_order_and_flags(spark):
    from evm_archive_spark.operators.textanalysis import normalize_text

    df = spark.createDataFrame([("  A\tb\x01c \x0b d  ",)], "t string")
    def run(**kw):
        return df.select(normalize_text("t", **kw).alias("n")).collect()[0]["n"]
    # control chars stripped BEFORE collapsing: \x01 splices 'b' and 'c'
    assert run() == "A bc d"
    assert run(lower=True) == "a bc d"
    # without control-strip the \x01 survives inside a token
    assert run(strip_control=False) == "A b\x01c d"
    # without collapse the original runs survive (control still stripped)
    assert run(collapse_whitespace=False) == "  A\tbc  d  "


def _bpe_python_reference(token_list, num_merges):
    from collections import Counter

    vocab = Counter(w for w in token_list if w)
    syms = {w: list(w) for w in vocab}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for w, n in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b))
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return merges


def test_bpe_train_matches_python_reference(spark):
    from evm_archive_spark.operators.textanalysis import bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = [
        w
        for r in docs.select("text").collect()
        for w in r["text"].strip().split()
    ]
    expect = _bpe_python_reference(toks, 10)
    got = bpe_train(docs, num_merges=10)
    assert got == expect


def test_bpe_segment_greedy_left_to_right(spark):
    from evm_archive_spark.operators.textanalysis import bpe_segment

    df = spark.createDataFrame([("abc abab banana",)], "text string")
    merges = [("a", "b"), ("ab", "c"), ("a", "n")]
    seg = df.select(bpe_segment("text", merges).alias("s")).collect()[0]["s"]
    assert [list(w) for w in seg] == [
        ["abc"],            # ab then ab+c
        ["ab", "ab"],       # adjacent pairs both merge
        ["b", "an", "an", "a"],  # greedy an,an; trailing a alone
    ]


def test_bind_once_matches_inline_expression(spark):
    """bind_once(expr, fn) must equal fn(expr) value-for-value — it only
    changes WHERE the expression is evaluated (once per row as a bound
    lambda variable vs per lambda element), never the result.  Guards the
    O(len^2)->O(len) rewrites of word_ngrams / chunk_documents /
    duplicate_span_stats / lm pairs."""
    from pyspark.sql import functions as F

    from evm_archive_spark.operators.textanalysis import tokens
    from evm_archive_spark.operators.util import bind_once

    df = spark.createDataFrame(
        [(1, "a b  c d"), (2, ""), (3, "  x  "), (4, None), (5, "q")],
        "doc_id int, text string",
    )

    def grams(t):
        # sequence(1, 0) DESCENDS in Spark, so guard <2-token arrays
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    got = df.select(
        "doc_id", bind_once(tokens("text"), grams).alias("g")
    ).orderBy("doc_id").collect()
    want = df.select(
        "doc_id", grams(tokens("text")).alias("g")
    ).orderBy("doc_id").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_salt_count_caps_replication_factor():
    """The set-similarity salt sets the b-side REPLICATION factor, so it
    must be sized to the skew, never the cluster (r14, VERDICT r13 #3):
    at thousands of cores an uncapped salt replicates the posting side
    thousands-fold and the salted join becomes the bug it fixed."""
    from evm_archive_spark.operators.dedup import (
        MAX_SET_SIM_SALT,
        _salt_count,
    )

    assert _salt_count(8) == 8
    assert _salt_count(64) == 64
    assert _salt_count(4096) == MAX_SET_SIM_SALT == 64
    assert _salt_count(0) == 1


def test_set_similarity_join_lazy_matches_materialized(spark):
    """materialize=False (ADVICE r13 #2) keeps lineage instead of the
    eager checkpoint — identical rows either way."""
    from evm_archive_spark.operators.dedup import set_similarity_join

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "a b c d"), (4, "x y z")],
        "doc_id BIGINT, text STRING",
    )
    want = [
        r.asDict()
        for r in set_similarity_join(
            docs, threshold_num=1, threshold_den=2
        ).collect()
    ]
    got = [
        r.asDict()
        for r in set_similarity_join(
            docs, threshold_num=1, threshold_den=2, materialize=False
        ).collect()
    ]
    assert got == want and len(want) == 3


def test_fan_out_and_ranged_by_scale_guards(spark):
    """fan_out/ranged_by probe ``.rdd`` (which under AQE materializes
    every upstream shuffle stage) ONLY on shuffle-free plans (r14,
    VERDICT r13 #9); fan_out no-ops behind a shuffle, and ranged_by
    never collapses an input already wider than defaultParallelism
    (ADVICE r13 #3 — the 100 TB collapse hazard)."""
    from pyspark.sql import functions as F

    from evm_archive_spark.operators.util import (
        _shuffle_free,
        fan_out,
        ranged_by,
    )

    n = spark.sparkContext.defaultParallelism
    scan = spark.range(1000).select(F.col("id").alias("doc_id"))
    assert _shuffle_free(scan)
    # a literal whose text looks like a plan node is not a node
    assert _shuffle_free(spark.range(10).withColumn("s", F.lit("x\nSort y")))
    shuffled = scan.groupBy("doc_id").count()
    assert not _shuffle_free(shuffled)
    # no-op on shuffled input: same object back, no repartition added
    assert fan_out(shuffled) is shuffled
    assert fan_out(scan).rdd.getNumPartitions() >= n
    # an input wider than the core count keeps its width through the
    # range partitioning instead of collapsing to defaultParallelism
    wide = spark.range(0, 100_000, 1, n * 2)
    assert ranged_by(wide, "id").rdd.getNumPartitions() >= n * 2


def test_chunk_documents_overlap_and_edges(spark):
    from evm_archive_spark.operators.textanalysis import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "   "), (4, "x")],
        "doc_id int, text string",
    )
    rows = chunk_documents(df, chunk_tokens=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["text"]) for r in rows}
    assert got[(1, 0)] == (4, "a b c d")
    assert got[(1, 1)] == (4, "d e f g")   # one-token overlap
    assert got[(1, 2)] == (1, "g")          # short tail window
    assert (2, 0) not in got and (3, 0) not in got  # empty/blank: no chunks
    assert got[(4, 0)] == (1, "x")
    assert len(rows) == 4


def test_bloom_decontaminate_arrow_matches_expr(spark):
    from evm_archive_spark.operators.bloom import bloom_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter("doc_id % 23 = 0")
    kw = dict(n=3, num_bits=1 << 13, num_hashes=4)
    a = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["maybe_contaminated"])
        for r in bloom_decontaminate(docs, ev, impl="arrow", **kw).collect()
    }
    e = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["maybe_contaminated"])
        for r in bloom_decontaminate(docs, ev, impl="expr", **kw).collect()
    }
    assert a == e


# whitespace-perturbed corpus (ADVICE r2): leading tab/newline (trim keeps
# them; split emits an empty first token), trailing newline, NBSP and
# U+3000 (NOT Java \s — must stay inside tokens), \x0b/\f/\r separators,
# and blank/empty documents
_DIRTY_TEXTS = [
    "\tthe quick brown fox",
    "jumps over\n",
    "a b c",
    "　lead c d",
    "a\x0bb c\fd e\rf",
    " plain words here ",
    "",
    "   ",
    "\t \t",
]


def test_tokens_py_matches_expr(spark):
    """tokens_py is the exact Python mirror of tokens() ==
    split(trim(x),'\\s+') — including empty-token and Unicode-whitespace
    semantics (ADVICE r2)."""
    import pyspark.sql.functions as F

    from evm_archive_spark.operators.textanalysis import tokens, tokens_py

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_DIRTY_TEXTS)] + [(99, None)],
        "i int, text string",
    )
    got = {
        r["i"]: r["tk"]
        for r in df.select("i", tokens("text").alias("tk")).collect()
    }
    for i, t in enumerate(_DIRTY_TEXTS):
        assert got[i] == tokens_py(t), (i, repr(t), got[i], tokens_py(t))
    # expr side on NULL text: split(trim(NULL)) is NULL; callers guard —
    # tokens_py maps None to [''], the same as ''
    assert got[99] is None and tokens_py(None) == [""]


def test_bloom_decontaminate_arrow_matches_expr_dirty_whitespace(spark):
    """The arrow/expr equivalence must survive non-clean whitespace
    (ADVICE r2: the r2 pin only covered clean synthetic text)."""
    from evm_archive_spark.operators.bloom import bloom_decontaminate

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_DIRTY_TEXTS)],
        "doc_id int, text string",
    )
    ev = docs.filter("doc_id IN (0, 2, 4)")
    kw = dict(n=2, num_bits=1 << 10, num_hashes=3)
    a = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["maybe_contaminated"])
        for r in bloom_decontaminate(docs, ev, impl="arrow", **kw).collect()
    }
    e = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["maybe_contaminated"])
        for r in bloom_decontaminate(docs, ev, impl="expr", **kw).collect()
    }
    assert a == e
    # self-probe of an eval doc with a leading tab must hit
    assert a[0][2]


def test_incremental_exact_dedup_paths(spark):
    from evm_archive_spark.operators.dedup import incremental_exact_dedup
    import pyspark.sql.functions as F

    seen_docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id int, text string"
    )
    seen = seen_docs.select(F.md5("text").alias("digest"))
    shard = spark.createDataFrame(
        [
            (10, "alpha"),   # dropped: digest already ingested
            (11, "gamma"),   # survives (lowest id of the gamma pair)
            (12, "gamma"),   # dropped: within-shard duplicate
            (13, "delta"),   # survives
        ],
        "doc_id int, text string",
    )
    out = incremental_exact_dedup(shard, seen)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [11, 13]
    # result carries the digest column, ready to append to the seen index
    assert "digest" in out.columns


def test_with_global_index_dense_and_partition_invariant(spark):
    from evm_archive_spark.operators.packing import with_global_index

    df = spark.range(0, 1000).selectExpr("id * 7 AS k")  # sparse keys
    for parts in (1, 7):
        out = (
            with_global_index(df.repartition(parts), "k", shards=13)
            .orderBy("k")
            .collect()
        )
        assert [r["row_index"] for r in out] == list(range(1000))


def _pooled_line_dedup_property_vs_python_reference(spark):
    """line_dedup == per-corpus python reference over generated corpora
    (hypothesis): random line inventories with planted repetitions,
    min_occurrences/min_line_chars interplay, all-removed documents."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.dedup import line_dedup

    lines_pool = ["alpha", "bb", "c", "", "delta delta", "ee ff", "x"]

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(lines_pool), min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ),
        min_occ=st.integers(2, 3),
        min_chars=st.integers(1, 3),
    )
    def check(docs, min_occ, min_chars):
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in line_dedup(
                df, min_occurrences=min_occ, min_line_chars=min_chars
            ).collect()
        }
        occ = Counter(l for ls in docs for l in ls)
        for i, ls in enumerate(docs):
            keep = [
                l
                for l in ls
                if not (occ[l] >= min_occ and len(l.strip()) >= min_chars)
            ]
            n_removed = len(ls) - len(keep)
            assert got[i] == ("\n".join(keep), len(ls), n_removed), (
                i, ls, got[i], (keep, len(ls), n_removed),
            )

    check()


def test_bpe_segment_arrow_matches_sql_chain(spark):
    from evm_archive_spark.operators.textanalysis import (
        bpe_segment, bpe_segment_arrow, bpe_train,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe_train(docs, num_merges=6)
    sql_side = {
        r["doc_id"]: [list(w) for w in r["s"]]
        for r in docs.select(
            "doc_id", bpe_segment("text", merges).alias("s")
        ).collect()
    }
    arrow_side = {
        r["doc_id"]: [list(w) for w in r["s"]]
        for r in docs.select(
            "doc_id", bpe_segment_arrow("text", merges).alias("s")
        ).collect()
    }
    assert sql_side == arrow_side


def test_bpe_segment_arrow_matches_sql_chain_dirty_whitespace(spark):
    """Equivalence on whitespace-perturbed inputs (ADVICE r2): empty
    tokens from leading/trailing Java-\\s runs must segment identically
    (empty symbol array on both paths); NBSP stays inside a token."""
    from evm_archive_spark.operators.textanalysis import (
        bpe_segment, bpe_segment_arrow,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_DIRTY_TEXTS)],
        "doc_id int, text string",
    )
    merges = [("t", "h"), ("th", "e"), ("a", "b")]
    sql_side = {
        r["doc_id"]: [list(w) for w in r["s"]]
        for r in df.select(
            "doc_id", bpe_segment("text", merges).alias("s")
        ).collect()
    }
    arrow_side = {
        r["doc_id"]: [list(w) for w in r["s"]]
        for r in df.select(
            "doc_id", bpe_segment_arrow("text", merges).alias("s")
        ).collect()
    }
    assert sql_side == arrow_side
    # leading tab -> first token '' -> empty symbol array, on both sides
    assert sql_side[0][0] == []


def _pooled_asof_join_directions_property(spark):
    """forward / nearest / tolerance vs a per-row python oracle (hypothesis):
    forward == earliest right with t >= left t (exclusive when strict),
    nearest == closer of the two candidates after per-side tolerance,
    ties preferring backward — the pandas merge_asof contract."""
    from hypothesis import given, settings, strategies as st

    keys = ["k0", "k1"]

    @settings(max_examples=3, deadline=None)
    @given(
        lefts=st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 40)),
            min_size=1, max_size=10,
        ),
        rights=st.lists(
            st.tuples(
                st.sampled_from(keys), st.integers(0, 40), st.integers(1, 999)
            ),
            min_size=0, max_size=10, unique_by=lambda r: (r[0], r[1]),
        ),
        tol=st.sampled_from([None, 0, 3, 10]),
    )
    def check(lefts, rights, tol):
        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lefts)],
            "token string, t long, rid long",
        )
        right = spark.createDataFrame(
            rights or [("__none__", 0, 0)],
            "address string, t long, price long",
        )

        def run(**kw):
            out = asof_join(
                left, right, on="t", by_left="token", by_right="address",
                value_cols=["price"], tolerance=tol, **kw,
            ).collect()
            return {r["rid"]: r["price"] for r in out}

        def expect(direction, strict=False):
            exp = {}
            for i, (k, t) in enumerate(lefts):
                back = [
                    r for r in rights
                    if r[0] == k and (r[1] < t if strict else r[1] <= t)
                    and (tol is None or t - r[1] <= tol)
                ]
                fwd = [
                    r for r in rights
                    if r[0] == k and (r[1] > t if strict else r[1] >= t)
                    and (tol is None or r[1] - t <= tol)
                ]
                b = max(back, key=lambda r: r[1]) if back else None
                f = min(fwd, key=lambda r: r[1]) if fwd else None
                if direction == "backward":
                    exp[i] = b[2] if b else None
                elif direction == "forward":
                    exp[i] = f[2] if f else None
                else:  # nearest: tie prefers backward
                    if b and f:
                        exp[i] = f[2] if (f[1] - t) < (t - b[1]) else b[2]
                    else:
                        exp[i] = (b or f)[2] if (b or f) else None
            return exp

        assert run(direction="backward") == expect("backward")
        assert run(direction="forward") == expect("forward")
        assert run(direction="forward", strict=True) == expect(
            "forward", strict=True
        )
        assert run(direction="nearest") == expect("nearest")

    check()


def test_asof_join_matched_on_column(spark):
    left = spark.createDataFrame([("a", 10, 0)], "k string, t long, rid long")
    right = spark.createDataFrame(
        [("a", 7, 70), ("a", 12, 120)], "k string, t long, v long"
    )
    row = asof_join(
        left, right, on="t", by_left="k", by_right="k", value_cols=["v"],
        direction="nearest", matched_on="mt",
    ).collect()[0]
    # nearest: forward at distance 2 beats backward at distance 3
    assert (row["v"], row["mt"]) == (120, 12)


def test_stratified_cap_matches_single_window_and_caps(spark):
    import hashlib

    from evm_archive_spark.operators.sampling import stratified_cap

    rows = [(f"s{i % 3}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, doc_id long")

    def reference(k):
        by = {}
        for s, d in rows:
            by.setdefault(s, []).append(d)
        out = {}
        for s, ds in by.items():
            order = sorted(
                ds, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
            )
            out.update({(s, d): i + 1 for i, d in enumerate(order[:k])})
        return out

    for salt in (1, 4, 64):
        got = {
            (r["source"], r["doc_id"]): r["rk"]
            for r in stratified_cap(
                df, "source", "doc_id", 10, salt=salt
            ).collect()
        }
        assert got == reference(10), f"salt={salt}"
    # cap larger than stratum: everything kept, ranks dense
    all_rows = stratified_cap(df, "source", "doc_id", 1000).collect()
    assert len(all_rows) == 200
    per = {}
    for r in all_rows:
        per.setdefault(r["source"], []).append(r["rk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())


def test_dsir_stats_manual(spark):
    import hashlib

    from evm_archive_spark.operators.sampling import dsir_stats

    rows = [
        (0, "a b a", "en"),
        (1, "b c", "en"),
        (2, "a c c", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["sum_t"], r["sum_r"], r["w_ppm"])
        for r in dsir_stats(
            df, F.col("lang") == "en", n_buckets=8
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 8

    toks = {d: t.split() for d, t, _ in rows}
    cnt_r, cnt_t = {}, {}
    for d, t, lang in rows:
        for tok in toks[d]:
            b = bucket(tok)
            cnt_r[b] = cnt_r.get(b, 0) + 1
            if lang == "en":
                cnt_t[b] = cnt_t.get(b, 0) + 1
    for d, t, _ in rows:
        st = sum(cnt_t.get(bucket(x), 0) for x in toks[d])
        sr = sum(cnt_r[bucket(x)] for x in toks[d])
        assert got[d] == (st, sr, st * 1_000_000 // sr)


def test_length_percentiles_exact(spark):
    from evm_archive_spark.operators.textanalysis import length_percentiles

    rows = [("en", i, i * 10) for i in range(1, 11)]  # n_chars 10..100
    rows += [("de", 100 + i, 7) for i in range(3)]  # constant
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_chars long")
    got = {
        r["lang"]: (r["p50"], r["p90"], r["p99"])
        for r in length_percentiles(df).collect()
    }
    # en: n=10 -> positions ceil(5)=5, ceil(9)=9, ceil(9.9)=10
    assert got["en"] == (50, 90, 100)
    assert got["de"] == (7, 7, 7)


def test_vocab_profile_manual(spark):
    from evm_archive_spark.operators.textanalysis import vocab_profile

    df = spark.createDataFrame(
        [("s0", "a b a"), ("s0", "b c"), ("s1", "x x x x")],
        "source string, text string",
    )
    got = {
        r["source"]: (r["total_tokens"], r["distinct_tokens"], r["ttr_ppm"])
        for r in vocab_profile(df).collect()
    }
    assert got["s0"] == (5, 3, 600_000)
    assert got["s1"] == (4, 1, 250_000)


def test_range_join_matches_naive_and_left_outer(spark):
    from evm_archive_spark.operators.rangejoin import range_join

    lefts = [(i, float(v)) for i, v in enumerate([0, 5, 9, 10, 25, 99, 150])]
    rights = [(0, 0.0, 10.0), (1, 8.0, 30.0), (2, 200.0, 300.0)]
    left = spark.createDataFrame(lefts, "lid long, p double")
    right = spark.createDataFrame(rights, "rid long, lo double, hi double")

    naive = {
        (i, r)
        for i, p in lefts
        for r, lo, hi in rights
        if lo <= p <= hi
    }
    for bucket in (1.0, 7.0, 100.0):
        got = {
            (r["lid"], r["rid"])
            for r in range_join(
                left, right, "p", "lo", "hi", bucket
            ).collect()
        }
        assert got == naive, f"bucket={bucket}"

    outer = range_join(
        left, right, "p", "lo", "hi", 10.0, how="left", left_key="lid"
    ).collect()
    matched_lids = {i for i, _ in naive}
    assert {r["lid"] for r in outer} == {i for i, _ in lefts}
    for r in outer:
        if r["lid"] not in matched_lids:
            assert r["rid"] is None and r["lo"] is None


def test_range_join_plan_has_no_nested_loop(spark):
    import contextlib
    import io

    from evm_archive_spark.operators.rangejoin import range_join

    left = spark.createDataFrame([(1, 5.0)], "lid long, p double")
    right = spark.createDataFrame([(1, 0.0, 10.0)], "rid long, lo double, hi double")
    out = range_join(left, right, "p", "lo", "hi", 10.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _pooled_rollup_update_incremental_equals_recompute(spark, tmp_path):
    from evm_archive_spark.operators.rollup import read_rollup, rollup_update

    rows = [(i, f"t{i % 3}", i // 4, i * 10) for i in range(40)]
    base = spark.createDataFrame(rows, "id long, typ string, b long, v long")
    path = str(tmp_path / "rollup")

    for part in range(4):
        rollup_update(
            spark,
            base.filter(F.pmod(F.col("id"), F.lit(4)) == part),
            path,
            F.col("b"),
            ["typ"],
            {"n": F.count(F.lit(1)), "sv": F.sum("v")},
        )

    got = {
        (r["bucket_id"], r["typ"]): (r["n"], r["sv"])
        for r in read_rollup(spark, path).collect()
    }
    expect = {}
    for i, typ, b, v in rows:
        k = (b, typ)
        n, sv = expect.get(k, (0, 0))
        expect[k] = (n + 1, sv + v)
    assert got == expect

    # a batch touching ONE bucket leaves other buckets' rows intact
    extra = spark.createDataFrame([(100, "t0", 0, 5)], "id long, typ string, b long, v long")
    rollup_update(
        spark, extra, path, F.col("b"), ["typ"],
        {"n": F.count(F.lit(1)), "sv": F.sum("v")},
    )
    got2 = {
        (r["bucket_id"], r["typ"]): (r["n"], r["sv"])
        for r in read_rollup(spark, path).collect()
    }
    expect[(0, "t0")] = (expect[(0, "t0")][0] + 1, expect[(0, "t0")][1] + 5)
    assert got2 == expect


def _pooled_streaming_rollup_maintenance_equals_batch(spark, tmp_path):
    """The continuous-aggregate loop: a file stream driven one file per
    micro-batch through foreachBatch(rollup_update) converges to exactly
    the batch recompute — the streaming face of the additive rollup."""
    from evm_archive_spark.operators.rollup import read_rollup, rollup_update

    src = tmp_path / "src"
    rows = [(i, f"t{i % 3}", i // 16, i * 3) for i in range(64)]
    base = spark.createDataFrame(rows, "id long, typ string, b long, v long")
    for part in range(2):
        base.filter(F.pmod(F.col("id"), F.lit(2)) == part).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    rollup_path = str(tmp_path / "rollup")

    def fold(batch_df, batch_id):
        rollup_update(
            batch_df.sparkSession, batch_df, rollup_path,
            F.col("b"), ["typ"],
            {"n": F.count(F.lit(1)), "sv": F.sum("v")},
        )

    sdf = spark.readStream.schema(base.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        sdf.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["bucket_id"], r["typ"]): (r["n"], r["sv"])
        for r in read_rollup(spark, rollup_path).collect()
    }
    expect = {
        (r["b"], r["typ"]): (r["n"], r["sv"])
        for r in base.groupBy("b", "typ")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert got == expect


def test_range_join_property(spark):
    """range_join == the naive BETWEEN join over generated intervals
    (hypothesis): empty rights, degenerate lo==hi intervals, negative
    values, and bucket sizes smaller/larger than the interval widths."""
    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.rangejoin import range_join

    @settings(max_examples=4, deadline=None)
    @given(
        points=st.lists(st.integers(-50, 50), min_size=1, max_size=12),
        ivals=st.lists(
            st.tuples(st.integers(-50, 50), st.integers(0, 30)),
            min_size=0, max_size=10,
        ),
        bucket=st.sampled_from([1.0, 3.0, 17.0, 100.0]),
    )
    def check(points, ivals, bucket):
        left = spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(points)],
            "lid long, p double",
        )
        right = spark.createDataFrame(
            [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(ivals)]
            or [(0, 1.0, 0.0)],  # empty-right placeholder (hi < lo: no match)
            "rid long, lo double, hi double",
        )
        got = {
            (r["lid"], r["rid"])
            for r in range_join(left, right, "p", "lo", "hi", bucket).collect()
        }
        expect = {
            (i, j)
            for i, p in enumerate(points)
            for j, (lo, w) in enumerate(ivals)
            if lo <= p <= lo + w
        }
        assert got == expect

    check()


def test_length_percentiles_approx_screening_path(spark):
    """The documented 100-TB screening path: approx_percentile with a
    tight accuracy budget brackets the exact discrete percentiles (the
    gate runs the exact path; this pins the scale substitute's error)."""
    from evm_archive_spark.operators.textanalysis import length_percentiles

    rows = [("en", i, (i * 37) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_chars long")
    exact = {
        r["lang"]: (r["p50"], r["p90"], r["p99"])
        for r in length_percentiles(df).collect()
    }
    approx = df.groupBy("lang").agg(
        F.expr(
            "approx_percentile(n_chars, array(0.5, 0.9, 0.99), 10000)"
        ).alias("ps")
    ).collect()[0]["ps"]
    for got, want in zip(approx, exact["en"]):
        # accuracy 10000 -> error <= n/10000 rank positions; with n=2000
        # the approx answer is rank-exact, value drift bounded by the
        # step between adjacent order statistics
        assert abs(got - want) <= 1, (approx, exact)


def _pooled_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """The streaming face of incremental_exact_dedup: micro-batches fold
    against a persisted digest index via foreachBatch; the accumulated
    survivor set equals one batch exact_dedup_by_content over everything
    (earlier-batch copy wins; within a batch, lowest id wins)."""
    from evm_archive_spark.operators.dedup import (
        exact_dedup_by_content,
        incremental_exact_dedup,
    )

    src = tmp_path / "src"
    texts = ["alpha", "beta", "gamma", "delta"]
    rows = [(i, texts[i % 4] if i % 3 else texts[0]) for i in range(20)]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    # file order == batch order == doc_id order (earliest file first)
    for part in range(2):
        base.filter(
            (F.col("doc_id") >= part * 10) & (F.col("doc_id") < (part + 1) * 10)
        ).coalesce(1).write.mode("append").parquet(str(src))

    idx = str(tmp_path / "digests")
    out = str(tmp_path / "survivors")

    def fold(batch_df, batch_id):
        s = batch_df.sparkSession
        import os

        if os.path.exists(idx):
            seen = s.read.parquet(idx)
        else:
            seen = s.createDataFrame([], "digest string")
        surv = incremental_exact_dedup(batch_df, seen).localCheckpoint()
        surv.select("doc_id", "text").write.mode("append").parquet(out)
        surv.select("digest").write.mode("append").parquet(idx)

    sdf = spark.readStream.schema(base.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        sdf.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    expect = sorted(
        (r["doc_id"], r["text"])
        for r in exact_dedup_by_content(base, "doc_id", "text").collect()
    )
    assert got == expect


def _pooled_split_leakage_report_finds_cross_split_neardups(spark):
    """The report equals (near-dup pairs) ⋈ (hash_split assignment)
    filtered to split-crossing pairs, and each reported pair really is a
    near-dup crossing the boundary."""
    from evm_archive_spark.operators.sampling import (
        hash_split,
        split_leakage_report,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat naps "
        "in the warm afternoon sun near the old farm house"
    )
    rows = [(i, base.replace("lazy", f"lazy{'x' * (i % 2)}")) for i in range(20)]
    rows += [(100 + i, f"unique document number {i} about spark internals and shuffles")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    weights = {"train": 0.5, "val": 0.5}

    got = {
        (r["id_a"], r["id_b"])
        for r in split_leakage_report(df, weights, threshold=0.7).collect()
    }

    from evm_archive_spark.operators.dedup import minhash_near_duplicates

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(df, threshold=0.7).collect()
    }
    split_of = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.select("doc_id"), "doc_id", weights).collect()
    }
    expect = {(a, b) for a, b in pairs if split_of[a] != split_of[b]}
    assert got == expect
    assert got, "fixture must produce at least one leaking pair"


def test_second_moment_matrix_manual(spark):
    from evm_archive_spark.operators.similarity import second_moment_matrix

    import math

    vecs = [[0.1, -0.2, 0.3], [0.5, 0.0, -0.1], [-0.4, 0.25, 0.05]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        (r["i"], r["j"]): r["s"]
        for r in second_moment_matrix(df, dims=3).collect()
    }
    import struct

    def f32(x):  # replicate float32 storage then double promotion
        return struct.unpack("f", struct.pack("f", x))[0]

    q = [[math.floor(f32(x) * 1000) for x in v] for v in vecs]
    for i in range(3):
        for j in range(3):
            expect = sum(row[i] * row[j] for row in q)
            assert got[(i + 1, j + 1)] == expect


def test_pca_train_matches_numpy_and_projects_map_side(spark):
    import numpy as np

    from evm_archive_spark.operators.similarity import (
        pca_project,
        pca_train,
        second_moment_matrix,
    )

    rng = np.random.RandomState(7)
    latent = rng.randn(200, 2)
    mix = np.array([[1.0, 0.2, -0.5, 0.1], [0.0, 1.5, 0.3, -0.2]])
    data = (latent @ mix).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )

    comps = pca_train(df, k=2, dims=4)

    # numpy reference over the SAME quantized moment matrix
    rows = second_moment_matrix(df, dims=4).collect()
    m = np.zeros((4, 4))
    for r in rows:
        m[r["i"] - 1, r["j"] - 1] = r["s"]
    vals, vecs = np.linalg.eigh(m)
    order = np.argsort(vals)[::-1][:2]
    for c, idx in zip(comps, order):
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        assert np.allclose(c, v, atol=1e-9)

    out = {
        r["vec_id"]: r["reduced"]
        for r in pca_project(df, comps).collect()
    }
    ref = data @ np.array(comps).T
    for i in range(len(data)):
        assert np.allclose(out[i], ref[i], atol=1e-5)


def test_materialize_packs_restores_order(spark):
    from evm_archive_spark.operators.packing import (
        materialize_packs,
        pack_by_budget,
    )

    rows = [(i, f"doc{i}", 3) for i in range(10)]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    counts = spark.createDataFrame(
        [(i, n) for i, _, n in rows], "doc_id long, n_tokens long"
    )
    assignment = pack_by_budget(counts, "n_tokens", budget=9, shards=4)
    packs = {
        r["pack_id"]: (r["n_docs"], r["n_tokens"], r["text"])
        for r in materialize_packs(docs, assignment).collect()
    }
    # budget 9 / 3 tokens per doc -> 3 docs per pack, id order preserved
    assert packs[0] == (3, 9, "doc0\ndoc1\ndoc2")
    assert packs[1] == (3, 9, "doc3\ndoc4\ndoc5")
    assert packs[3] == (1, 3, "doc9")


def test_contamination_report_counts(spark):
    from evm_archive_spark.operators.textanalysis import contamination_report

    eval_df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "unseen words only here")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "x alpha beta gamma delta y"),   # hits eval 0 (2 grams)
            (11, "alpha beta gamma delta"),        # hits eval 0 (1 gram)
            (12, "totally unrelated text body z"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["eval_id"]: (r["n_grams"], r["n_grams_hit"], r["n_corpus_docs"])
        for r in contamination_report(corpus, eval_df, n=4).collect()
    }
    # eval 0 has 1 distinct 4-gram; it appears in docs 10 and 11
    assert got[0] == (1, 1, 2)
    assert got[1] == (1, 0, 0)


def test_resample_carry_forward_semantics(spark):
    from evm_archive_spark.operators.asof import resample_carry_forward

    rows = [("a", 103, 1), ("a", 225, 2), ("a", 451, 3), ("b", 95, 9)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    got = {
        (r["k"], r["t"]): r["v"]
        for r in resample_carry_forward(df, "k", "t", ["v"], 100).collect()
    }
    # a spans [103,451] -> ticks 200,300,400; carry = latest obs <= tick
    assert got == {("a", 200): 1, ("a", 300): 2, ("a", 400): 2}
    # tolerance caps staleness
    tol = {
        (r["k"], r["t"]): r["v"]
        for r in resample_carry_forward(
            df, "k", "t", ["v"], 100, tolerance=80
        ).collect()
    }
    # staleness: 200-103=97 > 80 -> NULL; 300-225=75 ok; 400-225=175 -> NULL
    assert tol == {("a", 200): None, ("a", 300): 2, ("a", 400): None}


def test_find_gaps_islands(spark):
    from evm_archive_spark.operators.gaps import find_gaps

    vals = [1, 2, 3, 7, 8, 15, 16, 17, 20]
    df = spark.createDataFrame([(v,) for v in vals], "block long")
    got = sorted(
        (r["gap_start"], r["gap_end"])
        for r in find_gaps(df, "block", shards=4).collect()
    )
    assert got == [(4, 6), (9, 14), (18, 19)]
    # dense input -> no gaps
    dense = spark.createDataFrame([(v,) for v in range(50)], "block long")
    assert find_gaps(dense, "block", shards=4).count() == 0


def test_funnel_strict_ordering(spark):
    from evm_archive_spark.operators.events import funnel

    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes in order
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2 clicks BEFORE viewing: click must not count
        (2, t(1), "click"), (2, t(2), "view"),
        # u3 views only
        (3, t(0), "view"),
        # u4 never views: excluded entirely despite purchasing
        (4, t(0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["step"]: r["n_users"]
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_cohort_retention_offsets(spark):
    from evm_archive_spark.operators.events import cohort_retention

    import datetime as dt

    # weeks: 2024-01-01 (Mon) and 2024-01-08
    rows = [
        (1, dt.datetime(2024, 1, 2)), (1, dt.datetime(2024, 1, 9)),
        (2, dt.datetime(2024, 1, 3)),
        (3, dt.datetime(2024, 1, 10)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort"]), r["offset_w"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,   # u1, u2 first week
        ("2024-01-01", 1): 1,   # u1 returns
        ("2024-01-08", 0): 1,   # u3 cohort
    }


def test_grouped_topk_matches_single_window(spark):
    from evm_archive_spark.operators.sampling import grouped_topk

    rows = [(f"g{i % 3}", i, (i * 37) % 100) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, id long, m long")

    def reference(k):
        by = {}
        for g, i, m in rows:
            by.setdefault(g, []).append((m, i))
        out = {}
        for g, ms in by.items():
            order = sorted(ms, key=lambda t: (-t[0], t[1]))[:k]
            out.update({(g, i): r + 1 for r, (m, i) in enumerate(order)})
        return out

    for salt in (1, 4, 32):
        got = {
            (r["g"], r["id"]): r["rk"]
            for r in grouped_topk(
                df, "g", ["m"], 7, tiebreak="id", salt=salt
            ).collect()
        }
        assert got == reference(7), f"salt={salt}"


def test_jsonl_roundtrip_escaping(spark, tmp_path):
    """Newlines, quotes, unicode, and NULLs survive the JSONL round trip;
    malformed input fails loudly under FAILFAST."""
    import pytest

    from evm_archive_spark.sources.jsonl import read_jsonl, write_jsonl

    rows = [
        (0, 'line1\nline2\t"quoted" \\ back', "en", "s", 10),
        (1, "unicode: naïve café 中文 🚀", "zh", "s", 5),
        (2, None, None, "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    p = str(tmp_path / "docs")
    write_jsonl(df, p)
    back = sorted(tuple(r) for r in read_jsonl(spark, p).collect())
    assert back == sorted(rows)

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.json").write_text('{"doc_id": 1, "text": "ok"}\n{broken\n')
    with pytest.raises(Exception):
        read_jsonl(spark, str(bad)).collect()


def test_quality_profile_and_constraints(spark):
    from evm_archive_spark.operators.quality import (
        check_foreign_key,
        check_primary_key,
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5), (2, "b", 6), (3, None, 7)],
        "id long, s string, v long",
    )
    prof = {r["col_name"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 4
    assert prof["id"]["n_distinct"] == 3
    assert prof["s"]["n_nulls"] == 1
    assert (prof["v"]["min_s"], prof["v"]["max_s"]) == ("5", "7")
    # approx path shares schema
    assert profile_table(df, approx=True).columns == prof["id"].__fields__

    dups = check_primary_key(df, ["id"]).collect()
    assert [(r["id"], r["n_rows"]) for r in dups] == [(2, 2)]

    parent = spark.createDataFrame([(1,), (3,)], "pid long")
    orphans = {
        r["id"]: r["n_rows"]
        for r in check_foreign_key(df, parent, [("id", "pid")]).collect()
    }
    assert orphans == {2: 2}


def test_scd2_fold_and_as_of(spark):
    import datetime as dt

    from evm_archive_spark.operators.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_init,
    )

    t1, t2, t3 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    h = scd2_init(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, attr string"
        ),
        ["k"], ["attr"], t1,
    )
    # batch 2: k=1 changes, k=3 is new, k=2 re-sent unchanged (no-op)
    h = scd2_apply(
        h,
        spark.createDataFrame(
            [(1, "a2"), (2, "b"), (3, "c")], "k long, attr string"
        ),
        ["k"], ["attr"], t2,
    )
    # batch 3: exact replay of batch 2 -> idempotent
    h = scd2_apply(
        h,
        spark.createDataFrame(
            [(1, "a2"), (2, "b"), (3, "c")], "k long, attr string"
        ),
        ["k"], ["attr"], t3,
    ).cache()

    rows = {
        (r["k"], r["attr"]): (r["valid_from"], r["valid_to"])
        for r in h.collect()
    }
    assert rows == {
        (1, "a"): (t1, t2),
        (1, "a2"): (t2, None),
        (2, "b"): (t1, None),
        (3, "c"): (t2, None),
    }
    asof1 = {r["k"]: r["attr"] for r in scd2_as_of(h, t1).collect()}
    assert asof1 == {1: "a", 2: "b"}
    asof3 = {r["k"]: r["attr"] for r in scd2_as_of(h, t3).collect()}
    assert asof3 == {1: "a2", 2: "b", 3: "c"}
    h.unpersist()


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from evm_archive_spark.operators.events import sessionize

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, t(0)), (1, t(10)), (1, t(40)),   # gap 30 > 20 -> new session
        (2, t(5)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["ts"].second): r["session_seq"]
        for r in sessionize(df, 20).collect()
    }
    assert got == {(1, 0): 1, (1, 10): 1, (1, 40): 2, (2, 5): 1}


def test_rolling_active_users_window(spark):
    import datetime as dt

    from evm_archive_spark.operators.events import rolling_active_users

    rows = [
        (1, dt.datetime(2024, 1, 1)),
        (2, dt.datetime(2024, 1, 1)),
        (1, dt.datetime(2024, 1, 3)),
        (3, dt.datetime(2024, 1, 5)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        str(r["report_day"]): r["n_users"]
        for r in rolling_active_users(df, 3).collect()
    }
    # 3-day trailing window: day d counts users active in [d-2, d]
    assert got["2024-01-01"] == 2          # u1, u2
    assert got["2024-01-03"] == 2          # u1 (1st or 3rd), u2 (1st)
    assert got["2024-01-05"] == 2          # u1 (3rd), u3
    assert got["2024-01-07"] == 1          # u3 only
    assert "2024-01-08" not in got


def test_plan_backfill_windows(spark):
    from evm_archive_spark.operators.gaps import plan_backfill

    ingested = spark.createDataFrame(
        [(v,) for v in [100, 101, 102, 110, 111, 130]], "block long"
    )
    wins = plan_backfill(
        ingested, "block", step=5, expected_lo=95, expected_hi=134, shards=4
    )
    got = [(w.start, w.end) for w in wins]
    # leading hole 95-99, inner holes 103-109 and 112-129, trailing 131-134
    assert got == [
        (95, 99),
        (103, 107), (108, 109),
        (112, 116), (117, 121), (122, 126), (127, 129),
        (131, 134),
    ]
    # empty archive: the whole expected span, windowed
    empty = spark.createDataFrame([], "block long")
    wins2 = plan_backfill(
        empty, "block", step=10, expected_lo=0, expected_hi=25, shards=4
    )
    assert [(w.start, w.end) for w in wins2] == [(0, 9), (10, 19), (20, 25)]


def _pooled_scd2_property_vs_python_fold(spark):
    """scd2_apply over random batch sequences == a python reference fold
    (hypothesis): open/close/no-op transitions, new keys mid-stream,
    histories stay non-overlapping and exactly one current row per key."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.scd import scd2_apply, scd2_init

    keys = [1, 2, 3]
    vals = ["a", "b", "c"]

    @settings(max_examples=5, deadline=None)
    @given(
        batches=st.lists(
            st.dictionaries(
                st.sampled_from(keys), st.sampled_from(vals),
                min_size=0, max_size=3,
            ),
            min_size=1, max_size=4,
        )
    )
    def check(batches):
        t0 = dt.datetime(2024, 1, 1)
        ts = [t0 + dt.timedelta(days=i) for i in range(len(batches) + 1)]
        init = {1: "a"}
        h = scd2_init(
            spark.createDataFrame(list(init.items()), "k long, attr string"),
            ["k"], ["attr"], ts[0],
        )
        # python reference: list of (k, attr, from, to)
        ref = [[1, "a", ts[0], None]]
        for i, b in enumerate(batches):
            bt = ts[i + 1]
            if b:
                h = scd2_apply(
                    h,
                    spark.createDataFrame(
                        list(b.items()), "k long, attr string"
                    ),
                    ["k"], ["attr"], bt,
                )
            cur = {r[0]: r for r in ref if r[3] is None}
            for k, v in b.items():
                if k in cur:
                    if cur[k][1] != v:
                        cur[k][3] = bt
                        ref.append([k, v, bt, None])
                else:
                    ref.append([k, v, bt, None])
        got = sorted(tuple(r) for r in h.collect())
        expect = sorted((k, a, f, t) for k, a, f, t in ref)
        assert got == expect

    check()


def test_temperature_weights_limits(spark):
    from evm_archive_spark.operators.sampling import (
        temperature_weights,
        weighted_mix,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # alpha=1: natural proportions, every weight == target multiple
    w1 = temperature_weights(df, "source", 1.0)
    assert all(abs(v - 1.0) < 1e-9 for v in w1.values())

    # alpha->0: uniform over strata -> small domain upsampled,
    # big downsampled, expected total preserved
    w0 = temperature_weights(df, "source", 0.01)
    assert w0["small"] > 1.0 > w0["big"]
    assert abs(90 * w0["big"] + 10 * w0["small"] - 100) < 1e-6

    # realized deterministic mix lands near the expected volume
    mixed = weighted_mix(df, "doc_id", "source", w0)
    n = mixed.count()
    assert abs(n - 100) <= 10  # hash-threshold granularity


def _pooled_lm_train_and_score_manual(spark):
    from evm_archive_spark.operators.lm import lm_score, lm_train

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),
            (2, "a b c"),
            (3, "c c"),
        ],
        "doc_id BIGINT, text STRING",
    )
    uni, bi = lm_train(docs, "text")
    u = {r.tok: r.cnt for r in uni.collect()}
    assert u == {"a": 3, "b": 3, "c": 3}
    b = {(r.w1, r.w2): r.cnt for r in bi.collect()}
    assert b == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1, ("c", "c"): 1}

    scored = {
        r.doc_id: r.asDict() for r in lm_score(docs, uni, bi).collect()
    }
    # doc 1 pairs: (a,b)x2 hits (bcnt 3, prefix a=3), (b,a) hit (1, b=3)
    assert scored[1]["n_pairs"] == 3
    assert scored[1]["n_hits"] == 3
    assert scored[1]["hit_num"] == 3 + 3 + 1
    assert scored[1]["hit_den"] == 3 + 3 + 3
    assert scored[1]["bo_num"] == 0
    # unseen-pair backoff: a doc with an OOV continuation
    probe = spark.createDataFrame(
        [(9, "b b")], "doc_id BIGINT, text STRING"
    )
    p = lm_score(probe, uni, bi).collect()[0]
    assert p.n_pairs == 1 and p.n_hits == 0
    assert p.bo_num == 3  # backoff to unigram count of 'b'


def test_pagerank_manual_two_node_cycle(spark):
    from evm_archive_spark.operators.graph import pagerank

    # a <-> b symmetric cycle: ranks must stay equal at scale//2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src STRING, dst STRING"
    )
    r = {x.node: x.rank for x in pagerank(edges, iters=4).collect()}
    assert r["a"] == r["b"]
    # conservation (no dangling nodes): total stays at initial total
    assert r["a"] + r["b"] == 2 * (1_000_000_000 // 2)


def test_pagerank_sink_gains_source_decays(spark):
    from evm_archive_spark.operators.graph import pagerank

    # a -> b only: b accumulates, a decays toward base
    edges = spark.createDataFrame(
        [("a", "b")], "src STRING, dst STRING"
    )
    r = {x.node: x.rank for x in pagerank(edges, iters=5).collect()}
    assert r["b"] > r["a"]
    base = ((1_000_000 - 850_000) * (1_000_000_000 // 2)) // 1_000_000
    assert r["a"] == base  # nothing points at a after iter 1


def test_pagerank_weighted_split(spark):
    from evm_archive_spark.operators.graph import pagerank

    # c splits 3:1 between a and b — after one iteration from uniform,
    # a's inflow is 3x b's
    edges = spark.createDataFrame(
        [("c", "a", 3), ("c", "b", 1)],
        "src STRING, dst STRING, w INT",
    )
    r = {
        x.node: x.rank
        for x in pagerank(edges, weight="w", iters=1).collect()
    }
    r0 = 1_000_000_000 // 3
    base = (150_000 * r0) // 1_000_000
    assert r["a"] == base + (850_000 * ((r0 * 3) // 4)) // 1_000_000
    assert r["b"] == base + (850_000 * ((r0 * 1) // 4)) // 1_000_000


def test_snapshot_diff_labels(spark):
    from evm_archive_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "id BIGINT, name STRING, val INT",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 30), (4, "D", 40), (5, "e", 50)],
        "id BIGINT, name STRING, val INT",
    )
    out = {
        r.id: r.change
        for r in snapshot_diff(old, new, ["id"], ["name", "val"]).collect()
    }
    # 1 removed, 2 unchanged (absent), 3 null->30 changed, 4 changed, 5 added
    assert out == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    full = {
        r.id: r.change
        for r in snapshot_diff(
            old, new, ["id"], ["name", "val"], include_unchanged=True
        ).collect()
    }
    assert full[2] == "unchanged" and len(full) == 5


def test_hard_negatives_excludes_same_label(spark):
    from evm_archive_spark.operators.similarity import hard_negatives
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = hard_negatives(emb, n_queries=5, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert len(out) > 0
    for r in out:
        assert labels[r.neg_id] != labels[r.query_id]
        assert 1 <= r.rnk <= 3
    # per query: dots non-increasing by rank
    from collections import defaultdict

    by_q = defaultdict(list)
    for r in sorted(out, key=lambda r: (r.query_id, r.rnk)):
        by_q[r.query_id].append(r.dot)
    for dots in by_q.values():
        assert dots == sorted(dots, reverse=True)


def test_kcenter_sample_greedy_maximin(spark):
    from evm_archive_spark.operators.similarity import kcenter_sample

    # 1-d embeddings at 0, 1, 10, 21 — float32-exact integers, so the
    # milli-quantization is exactly 0, 1000, 10000, 21000
    emb = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0]), (3, [10.0]), (4, [21.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    rows = kcenter_sample(emb, 3).collect()
    got = [(r.rnk, r.center_id, r.d2) for r in rows]
    # seed = id 1 (x=0); farthest = id 4 (x=21000, d2=21000^2); then id 3
    # (x=10000: min(10000^2, 11000^2)) beats id 2 (min(1000^2, 20000^2))
    assert got == [
        (1, 1, 0),
        (2, 4, 21000 * 21000),
        (3, 3, 10000 * 10000),
    ]


def test_csv_roundtrip_escaping(spark, tmp_path):
    from evm_archive_spark.sources.interchange import read_csv, write_csv

    nasty = [
        (1, 'line1\nline2', "en", "web", 11),
        (2, 'has "quotes" and, commas', "en", "web", 24),
        (3, None, None, "s3", 0),
        (4, "", "fr", "web", 0),
        (5, "unicode éü中文", "zh", "web", 11),
    ]
    df = spark.createDataFrame(
        nasty, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    path = str(tmp_path / "csv")
    write_csv(df, path, n_files=2)
    back = read_csv(spark, path)
    got = sorted([tuple(r) for r in back.collect()])
    assert got == sorted(nasty)  # NULL vs '' both survive
    # pinned limitation: content equal to the NULL sentinel reads as NULL
    # (Spark applies nullValue after unquoting; see interchange.py doc)
    df2 = spark.createDataFrame(
        [(9, "\\N")], "doc_id long, text string"
    )
    p2 = str(tmp_path / "csv2")
    write_csv(df2, p2)
    back2 = read_csv(spark, p2, "doc_id long, text string").collect()
    assert back2[0].text is None


def test_orc_roundtrip(spark, tmp_path):
    from evm_archive_spark.sources.interchange import read_orc, write_orc
    from evm_archive_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "orc")
    write_orc(docs, path, n_files=2)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_fuzzy_join_blocking_and_distance(spark):
    from evm_archive_spark.operators.linkage import fuzzy_join

    left = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "smithe"), (4, "jones")],
        "id BIGINT, name STRING",
    )
    right = spark.createDataFrame(
        [(10, "smith"), (11, "smite"), (12, "stone"), (13, "jonas")],
        "id BIGINT, name STRING",
    )
    out = {
        (r.l_id, r.r_id): r.dist
        for r in fuzzy_join(
            left, right,
            left_id="id", right_id="id",
            left_text="name", right_text="name",
            max_dist=2, block_len=2,
        ).collect()
    }
    # block 'sm': smith~smith 0, smith~smite 1, smyth~smith 1 (y/i),
    # smyth~smite 2, smithe~smith 1, smithe~smite 1 (drop h); stone is
    # block 'st'
    assert out[(1, 10)] == 0 and out[(1, 11)] == 1
    assert out[(2, 10)] == 1 and out[(2, 11)] == 2
    assert out[(3, 10)] == 1 and out[(3, 11)] == 1
    assert (4, 13) in out and out[(4, 13)] == 1  # block 'jo'
    assert all(rid != 12 for (_, rid) in out)  # different block never compared


def test_bfs_levels_min_hop_and_early_exit(spark):
    from evm_archive_spark.operators.graph import bfs_levels

    # a -> b -> c -> d, plus shortcut a -> c: c at level 1, d at 2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],
        "src STRING, dst STRING",
    )
    seeds = spark.createDataFrame([("a",)], "node STRING")
    out = {
        r.node: r.level
        for r in bfs_levels(edges, seeds, max_iters=6).collect()
    }
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_triangle_count_known_graph(spark):
    from evm_archive_spark.operators.graph import triangle_count

    # K4 minus one edge = 2 triangles; edges given in mixed orientation
    # with a duplicate to exercise canonicalization
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 2), (2, 1)],
        "src BIGINT, dst BIGINT",
    )
    assert triangle_count(edges).collect()[0].n_triangles == 2


def _pooled_pagerank_property_vs_python_reference(spark):
    """The fixed-point recurrence, replicated independently in Python
    integer arithmetic, must agree exactly on generated weighted graphs
    (hypothesis: multi-edges collapse upstream, dangling nodes, cycles,
    self-loops)."""
    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.graph import pagerank

    nodes = ["a", "b", "c", "d", "e"]

    @settings(max_examples=3, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from(nodes),
                st.sampled_from(nodes),
                st.integers(1, 9),
            ),
            min_size=1,
            max_size=12,
            unique_by=lambda e: (e[0], e[1]),
        ),
        iters=st.integers(1, 2),
    )
    def check(edges, iters):
        def ref(edges, iters, d_ppm=850_000, scale=1_000_000_000):
            ns = sorted({e[0] for e in edges} | {e[1] for e in edges})
            wd = {}
            for s, _, w in edges:
                wd[s] = wd.get(s, 0) + w
            n = len(ns)
            r = {v: scale // n for v in ns}
            base = ((1_000_000 - d_ppm) * (scale // n)) // 1_000_000
            for _ in range(iters):
                inc = {v: 0 for v in ns}
                for s, t, w in edges:
                    inc[t] += (r[s] * w) // wd[s]
                r = {
                    v: base + (d_ppm * inc[v]) // 1_000_000 for v in ns
                }
            return r

        df = spark.createDataFrame(
            edges, "src STRING, dst STRING, w INT"
        )
        got = {
            r.node: r.rank
            for r in pagerank(df, weight="w", iters=iters).collect()
        }
        assert got == ref(edges, iters)

    check()


def _pooled_lm_score_property_vs_python_reference(spark):
    """lm_train + lm_score sufficient statistics replicated in plain
    Python over generated corpora (repeated tokens, single-token and
    empty docs, OOV probes)."""
    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.lm import lm_score, lm_train

    vocab = ["a", "bb", "c", "dd", "e"]

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=8),
            min_size=1,
            max_size=6,
        )
    )
    def check(docs):
        texts = [(i, " ".join(ws)) for i, ws in enumerate(docs)]

        def ref(docs):
            uni, bi = {}, {}
            for ws in docs:
                for w in ws:
                    uni[w] = uni.get(w, 0) + 1
                for x, y in zip(ws, ws[1:]):
                    bi[(x, y)] = bi.get((x, y), 0) + 1
            out = {}
            for i, ws in enumerate(docs):
                prs = list(zip(ws, ws[1:]))
                if not prs:
                    continue
                nh = hn = hd = bo = 0
                for x, y in prs:
                    if (x, y) in bi:
                        nh += 1
                        hn += bi[(x, y)]
                        hd += uni[x]
                    else:
                        bo += uni.get(y, 0)
                out[i] = (len(prs), nh, hn, hd, bo)
            return out

        df = spark.createDataFrame(texts, "doc_id BIGINT, text STRING")
        uni, bi = lm_train(df)
        got = {
            r.doc_id: (r.n_pairs, r.n_hits, r.hit_num, r.hit_den, r.bo_num)
            for r in lm_score(df, uni, bi).collect()
        }
        assert got == ref(docs)

    check()


def test_mmr_rerank_diversity_beats_pure_relevance(spark):
    from evm_archive_spark.operators.similarity import mmr_rerank

    # one query; candidates: two near-identical high-rel docs and one
    # orthogonal medium-rel doc.  Pure relevance ranks (10, 11, 12);
    # MMR must pick the orthogonal doc second.
    rows = [
        (1, 10, 100, [1000, 0]),
        (1, 11, 99, [1000, 1]),   # near-clone of 10
        (1, 12, 60, [0, 1000]),   # orthogonal
    ]
    cand = spark.createDataFrame(
        rows, "query_id BIGINT, doc_id BIGINT, rel BIGINT, "
        "qvec ARRAY<BIGINT>"
    )
    got = [
        (r.rnk, r.doc_id)
        for r in mmr_rerank(
            cand, 3, vec_col="qvec", lam_num=1, lam_den=2000
        ).collect()
    ]
    assert got == [(1, 10), (2, 12), (3, 11)]
    # with lambda == 1 (no diversity term) MMR == pure relevance order
    pure = [
        (r.rnk, r.doc_id)
        for r in mmr_rerank(
            cand, 3, vec_col="qvec", lam_num=1, lam_den=1
        ).collect()
    ]
    assert pure == [(1, 10), (2, 11), (3, 12)]


def test_mmr_rerank_per_query_independent(spark):
    from evm_archive_spark.operators.similarity import mmr_rerank

    rows = [
        (1, 10, 50, [1, 0]),
        (1, 11, 40, [0, 1]),
        (2, 20, 10, [1, 1]),
        (2, 21, 90, [1, 0]),
    ]
    cand = spark.createDataFrame(
        rows, "query_id BIGINT, doc_id BIGINT, rel BIGINT, "
        "qvec ARRAY<BIGINT>"
    )
    got = {
        (r.query_id, r.rnk): r.doc_id
        for r in mmr_rerank(cand, 2, vec_col="qvec").collect()
    }
    assert got == {(1, 1): 10, (1, 2): 11, (2, 1): 21, (2, 2): 20}


def test_deterministic_shuffle_epoch_salt(spark):
    from evm_archive_spark.operators.sampling import deterministic_shuffle
    from evm_archive_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e0 = [r.doc_id for r in
          deterministic_shuffle(docs, "doc_id", 4, epoch=0).collect()]
    e0b = [r.doc_id for r in
           deterministic_shuffle(docs, "doc_id", 4, epoch=0).collect()]
    e1 = [r.doc_id for r in
          deterministic_shuffle(docs, "doc_id", 4, epoch=1).collect()]
    base = [r.doc_id for r in
            deterministic_shuffle(docs, "doc_id", 4).collect()]
    assert e0 == e0b            # same epoch: identical order
    assert e0 != e1             # different epoch: different order
    assert sorted(e0) == sorted(e1) == sorted(base)  # same rows


def test_evolve_schema_rename_cast_add_drop(spark):
    import pytest as _pytest

    from evm_archive_spark.operators.evolve import evolve_schema

    df = spark.createDataFrame(
        [(1, "en", 10, "x")],
        "doc_id INT, lang STRING, n_chars INT, legacy STRING",
    )
    target = (
        "doc_id BIGINT, language STRING, n_chars BIGINT, quality DOUBLE"
    )
    with _pytest.raises(ValueError, match="legacy"):
        evolve_schema(df, target, renames={"lang": "language"})
    out = evolve_schema(
        df, target, renames={"lang": "language"}, allow_drop=True
    )
    assert [f.simpleString() for f in out.schema.fields] == [
        "doc_id:bigint", "language:string", "n_chars:bigint",
        "quality:double",
    ]
    r = out.collect()[0]
    assert (r.doc_id, r.language, r.n_chars, r.quality) == (1, "en", 10, None)


def test_set_similarity_join_manual(spark):
    from evm_archive_spark.operators.dedup import set_similarity_join

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),   # J(1,2) = 3/5
            (3, "a b c d"),   # J(1,3) = 1
            (4, "x y z"),
            (5, "a"),         # tiny set, J(5,1) = 1/4
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {
        (r.id_a, r.id_b): (r.inter, r.sa, r.sb)
        for r in set_similarity_join(
            docs, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert out == {(1, 2): (3, 4, 4), (1, 3): (4, 4, 4), (2, 3): (3, 4, 4)}


def _pooled_set_similarity_join_property_vs_naive(spark):
    """Prefix filtering must be LOSSLESS: result equals the naive
    quadratic Jaccard join on generated corpora (hypothesis — skewed
    token frequencies, subset/superset sets, singletons)."""
    from hypothesis import given, settings, strategies as st

    from evm_archive_spark.operators.dedup import set_similarity_join

    vocab = ["a", "b", "c", "d", "e", "f", "g"]

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.sets(st.sampled_from(vocab), min_size=1, max_size=6),
            min_size=2,
            max_size=8,
        ),
        t=st.sampled_from([(1, 2), (2, 3), (9, 10)]),
    )
    def check(docs, t):
        num, den = t

        def naive(docs):
            out = {}
            for i, a in enumerate(docs):
                for j in range(i + 1, len(docs)):
                    b = docs[j]
                    inter = len(a & b)
                    if inter * den >= num * len(a | b):
                        out[(i, j)] = (inter, len(a), len(b))
            return out

        df = spark.createDataFrame(
            [(i, " ".join(sorted(ws))) for i, ws in enumerate(docs)],
            "doc_id BIGINT, text STRING",
        )
        got = {
            (r.id_a, r.id_b): (r.inter, r.sa, r.sb)
            for r in set_similarity_join(
                df, threshold_num=num, threshold_den=den
            ).collect()
        }
        assert got == naive(docs)

    check()


def test_resolve_entities_transitive_closure(spark):
    from evm_archive_spark.operators.linkage import resolve_entities

    # chain: smith ~ smyth ~ smythe (smith!~smythe at dist<=1) must still
    # collapse to ONE entity; stone stands alone
    df = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "smythe"), (4, "stone")],
        "id BIGINT, name STRING",
    )
    out = {
        r.id: r.entity_id
        for r in resolve_entities(
            df, id_col="id", text_col="name", max_dist=1, block_len=2
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4}


def _pooled_shortest_paths_weighted_relaxation(spark):
    from evm_archive_spark.operators.graph import shortest_paths

    # a-1->b-1->c cheaper than the direct a-5->c; d unreachable within
    # bound only via the 3-hop tail a->b->c->d
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("a", "c", 5), ("c", "d", 2)],
        "src STRING, dst STRING, w INT",
    )
    seeds = spark.createDataFrame([("a",)], "node STRING")
    out = {
        r.node: r.dist
        for r in shortest_paths(
            edges, seeds, weight="w", max_iters=6
        ).collect()
    }
    assert out == {"a": 0, "b": 1, "c": 2, "d": 4}
    # hop bound of 1 cannot take the cheap 2-edge path to c
    out1 = {
        r.node: r.dist
        for r in shortest_paths(
            edges, seeds, weight="w", max_iters=1
        ).collect()
    }
    assert out1 == {"a": 0, "b": 1, "c": 5}


def test_triangle_count_wheel_hub(spark):
    from evm_archive_spark.operators.graph import triangle_count

    # wheel graph: hub 0 joined to an 8-cycle -> exactly 8 triangles;
    # the hub's degree (8) dwarfs the rim's (3): the degree-orientation
    # case where naive id-ordered wedges would fan out quadratically
    n = 8
    rim = [(i, i % n + 1) for i in range(1, n + 1)]
    spokes = [(0, i) for i in range(1, n + 1)]
    edges = spark.createDataFrame(
        rim + spokes, "src BIGINT, dst BIGINT"
    )
    assert triangle_count(edges).collect()[0].n_triangles == n


def test_ewma_by_key_recurrence(spark):
    from evm_archive_spark.operators.events import ewma_by_key

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0), (2, 1, 5.0)],
        "k BIGINT, t BIGINT, value DOUBLE",
    )
    out = {
        r.k: (r.n_obs, r.ewma_q)
        for r in ewma_by_key(
            df, "k", ["t"], "value", alpha_ppm=500_000
        ).collect()
    }
    # alpha=0.5 on [1000, 2000, 3000]: r1=1000, r2=1500, r3=2250
    assert out[1] == (3, 2250)
    assert out[2] == (1, 5000)  # single observation: identity


def test_operators_package_exports_resolve():
    import evm_archive_spark.operators as ops

    for name in ops.__all__:
        assert callable(getattr(ops, name)), name


def test_lm_score_empty_token_pairs_excluded(spark):
    # leading tab: split keeps a boundary empty token; pairs touching it
    # must not count (the review-confirmed hit_den corruption)
    from evm_archive_spark.operators.lm import lm_score, lm_train

    docs = spark.createDataFrame(
        [(1, "\ta b")], "doc_id BIGINT, text STRING"
    )
    uni, bi = lm_train(docs)
    assert {(r.w1, r.w2) for r in bi.collect()} == {("a", "b")}
    r = lm_score(docs, uni, bi).collect()[0]
    assert (r.n_pairs, r.n_hits, r.hit_num, r.hit_den) == (1, 1, 1, 1)


def test_snapshot_diff_null_key_rows(spark):
    from evm_archive_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(None, "x"), (1, "a")], "id INT, v STRING"
    )
    new = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    out = [
        (r.id, r.change)
        for r in snapshot_diff(old, new, ["id"], ["v"]).collect()
    ]
    # the NULL-keyed OLD row vanished: it must be 'removed', not 'added'
    assert out == [(None, "removed")]


def test_kcenter_sample_k_exceeds_points(spark):
    from evm_archive_spark.operators.similarity import kcenter_sample

    emb = spark.createDataFrame(
        [(1, [0.0]), (2, [9.0])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    rows = kcenter_sample(emb, 5).collect()
    assert [r.center_id for r in rows] == [1, 2]  # no duplicate centers


def test_read_csv_rejects_reordered_header(spark, tmp_path):
    import pytest as _pytest

    from evm_archive_spark.sources.interchange import read_csv

    p = tmp_path / "alien"
    p.mkdir()
    (p / "part-0.csv").write_text(
        "doc_id,lang,text\n1,en,hello\n"
    )
    with _pytest.raises(Exception):
        read_csv(
            spark, str(p), "doc_id long, text string, lang string"
        ).collect()


def test_ewma_by_key_drops_null_observations(spark):
    from evm_archive_spark.operators.events import ewma_by_key

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, None), (1, 3, 3.0)],
        "k BIGINT, t BIGINT, value DOUBLE",
    )
    r = ewma_by_key(df, "k", ["t"], "value", alpha_ppm=500_000).collect()[0]
    assert (r.n_obs, r.ewma_q) == (2, 2000)  # fold over [1000, 3000]


def test_length_bucket_batches_matches_single_window(spark):
    from pyspark.sql import Window, functions as F

    from evm_archive_spark.operators.packing import length_bucket_batches

    # ids deliberately non-contiguous; token counts straddle bucket edges
    rows = [(i * 7 + 3, t) for i, t in enumerate(
        [1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 31, 32, 33, 100, 1000, 1023,
         1024, 5, 6, 10, 12, 20, 40, 64, 63]
    )]
    df = spark.createDataFrame(rows, "doc_id BIGINT, tokens BIGINT")
    got = {
        r.doc_id: (r.bucket, r.batch_idx)
        for r in length_bucket_batches(
            df, "tokens", batch_size=3, shards=4
        ).collect()
    }
    # naive reference: single-window row_number per bucket
    ref = {
        r.doc_id: (r.bucket, r.batch_idx)
        for r in df.withColumn(
            "bucket",
            (F.length(F.bin(F.greatest("tokens", F.lit(1)))) - 1)
            .cast("long"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("bucket").orderBy("doc_id")
            ),
        )
        .withColumn("batch_idx", F.expr("CAST((rn - 1) DIV 3 AS BIGINT)"))
        .collect()
    }
    assert got == ref
    # power-of-two bucket edges: 15->3, 16->4, 1023->9, 1024->10
    by_tok = {t: got[i * 7 + 3][0] for i, t in enumerate(
        [1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 31, 32, 33, 100, 1000, 1023,
         1024, 5, 6, 10, 12, 20, 40, 64, 63]
    )}
    assert (by_tok[15], by_tok[16]) == (3, 4)
    assert (by_tok[1023], by_tok[1024]) == (9, 10)


def _pooled_leakage_safe_split_components_share_split(spark):
    from pyspark.sql import functions as F

    from evm_archive_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
        split_leakage_report,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),                      # near-dup cluster {1,2,3}
        (2, base + "tail one"),
        (3, base + "tail two"),
        (10, "completely different text about spark catalyst " * 8),
        (11, "another unrelated document on parquet row groups " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = leakage_safe_split(
        docs, {"train": 0.5, "test": 0.5}, threshold=0.7,
        num_perm=16, bands=4, k=5,
    )
    splits = {r.doc_id: r.split for r in out.collect()}
    # the whole near-dup component gets one split — and it is the
    # component representative's (min id) own hash assignment
    assert splits[1] == splits[2] == splits[3]
    solo = {
        r.doc_id: r.split
        for r in hash_split(docs, "doc_id", {"train": 0.5, "test": 0.5})
        .collect()
    }
    assert splits[1] == solo[1]
    # singletons keep their plain hash_split assignment
    assert splits[10] == solo[10] and splits[11] == solo[11]
    # constructive guarantee: the leakage audit over the same pair
    # detector comes back empty... on ANY split the audit of raw
    # hash_split may or may not leak, but component-keyed never does
    leaks = split_leakage_report(
        docs, {"train": 0.5, "test": 0.5}, threshold=0.7,
        num_perm=16, bands=4, k=5,
    )
    # audit uses id-keyed split; rebuild it with the component-keyed one
    pairs = leaks.select("id_a", "id_b")
    joined = (
        pairs.join(
            out.select(F.col("doc_id").alias("id_a"),
                       F.col("split").alias("sa")), "id_a")
        .join(out.select(F.col("doc_id").alias("id_b"),
                         F.col("split").alias("sb")), "id_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    assert joined.count() == 0


def test_padding_waste_manual(spark):
    from evm_archive_spark.operators.packing import (
        length_bucket_batches,
        padding_waste,
    )

    # bucket 2 = tokens in [4,7]: rows 4,5,6,7 -> two batches of 2
    df = spark.createDataFrame(
        [(1, 4), (2, 5), (3, 6), (4, 7), (5, 100)],
        "doc_id BIGINT, tokens BIGINT",
    )
    batched = length_bucket_batches(df, "tokens", batch_size=2, shards=2)
    out = {r.bucket: r for r in padding_waste(batched, "tokens").collect()}
    b2 = out[2]
    # batch0={4,5} padded 2*5=10 used 9; batch1={6,7} padded 14 used 13
    assert (b2.n_batches, b2.n_rows, b2.sum_tokens, b2.padded_tokens) == (
        2, 4, 22, 24,
    )
    assert b2.waste_ppm == (24 - 22) * 1_000_000 // 24
    b6 = out[6]  # singleton batch: zero waste
    assert (b6.n_rows, b6.waste_ppm) == (1, 0)


def _pooled_incremental_minhash_dedup_drops_near_twin_keeps_novel(spark):
    from evm_archive_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
    )

    base = "spark structured streaming micro batch planner offsets " * 6
    old = spark.createDataFrame(
        [(100, base), (101, "parquet row group statistics pruning " * 6)],
        "doc_id BIGINT, text STRING",
    )
    new = spark.createDataFrame(
        [
            (1, base + " tail"),                       # near-twin of 100
            (2, "completely novel text about duckdb vectorized joins " * 6),
        ],
        "doc_id BIGINT, text STRING",
    )
    for method in ("xxhash64", "md5"):
        index = minhash_band_index(
            old, num_perm=8, bands=4, k=5, method=method
        )
        kept = incremental_minhash_dedup(
            new, index, num_perm=8, bands=4, k=5, method=method
        )
        assert [r.doc_id for r in kept.collect()] == [2], method
        # idempotence of the index decision: survivors re-checked against
        # the same index still survive
        again = incremental_minhash_dedup(
            kept, index, num_perm=8, bands=4, k=5, method=method
        )
        assert [r.doc_id for r in again.collect()] == [2], method


def _pooled_ivf_append_exact_at_full_probe_and_touches_only_landed_lists(
    spark, tmp_path
):
    """Incremental IVF (r4): persist on the even half, append the odd
    half — full-probe results equal brute force over the union (centroid
    independence of exactness), appended rows land inside the existing
    hive layout, and a partial probe can return appended vectors."""
    import os

    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_app")
    similarity.ivf_persist(
        emb.filter("vec_id % 2 = 0"), path, n_centroids=8, iters=1
    )
    n_before = (
        spark.read.parquet(f"{path}/corpus").count()
    )
    appended = similarity.ivf_append(spark, emb.filter("vec_id % 2 = 1"), path)
    corpus = spark.read.parquet(f"{path}/corpus")
    assert appended == emb.filter("vec_id % 2 = 1").count()
    assert corpus.count() == n_before + appended
    # layout invariant: append created no partitions outside the trained
    # centroid set (every dir is one of the 8 centroid ids)
    cent_ids = {
        r[0]
        for r in spark.read.parquet(f"{path}/centroids")
        .select("centroid_id")
        .collect()
    }
    dirs = {
        int(d.split("=")[1])
        for d in os.listdir(f"{path}/corpus")
        if d.startswith("centroid_id=")
    }
    assert dirs and dirs <= cent_ids
    # exactness at nprobe=all over the UNION
    bf = [tuple(r) for r in similarity.quantized_dot_topk(emb, 5, 3).collect()]
    full = [
        tuple(r)
        for r in similarity.ivf_probe_bucketed(
            spark, path, n_queries=5, k=3, nprobe=8
        ).collect()
    ]
    assert bf == full
    # appended (odd) vectors are reachable as neighbors
    assert any(r[1] % 2 == 1 for r in full)


def _pooled_bloom_merge_equals_rebuild_bit_for_bit(spark):
    """Incremental decontam state (r4): per-shard sparse filters merged
    with bloom_merge must equal a from-scratch build over the union of
    members — word-for-word, bit-for-bit (OR-composition is lossless)."""
    from evm_archive_spark.operators.bloom import bloom_build, bloom_merge

    bits, k = 1 << 12, 4
    shard_a = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(40)], ["v"]
    )
    shard_b = spark.createDataFrame(
        [(f"gram-{i}",) for i in range(30, 70)], ["v"]  # overlaps A
    )
    merged = sorted(
        tuple(r)
        for r in bloom_merge(
            bloom_build(shard_a, "v", num_bits=bits, num_hashes=k),
            bloom_build(shard_b, "v", num_bits=bits, num_hashes=k),
        ).collect()
    )
    rebuilt = sorted(
        tuple(r)
        for r in bloom_build(
            shard_a.union(shard_b), "v", num_bits=bits, num_hashes=k
        ).collect()
    )
    assert merged == rebuilt and len(merged) > 0


def _pooled_streaming_incremental_minhash_equals_sequential_replay(
    spark, tmp_path
):
    """The streaming face of the MinHash nightly-shard lane (r4): each
    micro-batch dedups against the persisted band index, then appends its
    survivors' band rows — the accumulated survivor set equals a
    sequential batch replay of (dedup shard_i vs index_i; index_{i+1} =
    index_i + bands(survivors_i)).  Corpus text of earlier batches is
    never re-read, in streaming or in the replay."""
    from evm_archive_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
    )

    kw = dict(num_perm=8, bands=4, k=5, method="md5")
    base_text = "spark structured streaming micro batch planner offsets "
    rows = [
        (i, base_text * 4 + (f" twin tail" if i % 5 == 0 else f" novel {i} body {i * 13}"))
        for i in range(12)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "src"
    for part in range(3):
        base.filter(
            (F.col("doc_id") >= part * 4) & (F.col("doc_id") < (part + 1) * 4)
        ).coalesce(1).write.mode("append").parquet(str(src))

    idx = str(tmp_path / "bands")
    out = str(tmp_path / "survivors")

    def fold(batch_df, batch_id):
        s = batch_df.sparkSession
        import os

        if os.path.exists(idx):
            seen = s.read.parquet(idx)
        else:
            seen = s.createDataFrame([], "doc_id long, band int, bhash string")
        surv = incremental_minhash_dedup(batch_df, seen, **kw).localCheckpoint()
        surv.select("doc_id", "text").write.mode("append").parquet(out)
        minhash_band_index(surv, **kw).write.mode("append").parquet(idx)

    sdf = spark.readStream.schema(base.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = (
        sdf.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    # sequential replay in plain batch code over the same 3 shards
    index = spark.createDataFrame([], "doc_id long, band int, bhash string")
    expect = []
    for part in range(3):
        shard = base.filter(
            (F.col("doc_id") >= part * 4) & (F.col("doc_id") < (part + 1) * 4)
        )
        surv = incremental_minhash_dedup(shard, index, **kw).localCheckpoint()
        expect += [r["doc_id"] for r in surv.collect()]
        index = index.union(minhash_band_index(surv, **kw)).localCheckpoint()
    assert got == sorted(expect)
    # the twin family (doc_id % 5 == 0) collapsed to its first member
    assert 0 in got and all(d not in got for d in (5, 10))


def _pooled_incremental_corpus_update_state_round_trip(spark):
    """The composed nightly-shard lane (r4): admitting shard 1 and then
    shard 2 against the UPDATED state equals admitting both against a
    rebuilt state — and the deltas returned are exactly the survivors'
    digests and band rows (append-only state contract)."""
    from evm_archive_spark.operators.corpus import incremental_corpus_update
    from evm_archive_spark.operators.dedup import minhash_band_index

    kw = dict(min_tokens=3, num_perm=8, bands=4, k=5, method="md5")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    old = mk([(100, "seed corpus text about spark catalyst optimizer " * 3)])
    seen = old.selectExpr("md5(text) AS digest").distinct()
    bands0 = minhash_band_index(old, num_perm=8, bands=4, k=5, method="md5")

    s1 = mk([
        (1, "seed corpus text about spark catalyst optimizer " * 3 + "x"),  # near-twin of 100
        (2, "a genuinely new document describing parquet row groups " * 2),
        (3, "too short"),                                                    # quality-pruned
    ])
    surv1, dig1, band1 = incremental_corpus_update(s1, seen, bands0, **kw)
    ids1 = sorted(r.doc_id for r in surv1.collect())
    assert ids1 == [2]
    assert sorted(r.digest for r in dig1.collect()) == sorted(
        r[0] for r in surv1.selectExpr("md5(text)").collect()
    )
    # append the deltas; shard 2 contains a twin of shard-1's survivor —
    # it must be dropped by the UPDATED state without re-reading shard 1
    seen2 = seen.union(dig1)
    bands2 = bands0.unionByName(band1)
    s2 = mk([
        (11, "a genuinely new document describing parquet row groups " * 2 + "y"),
        (12, "another completely different text on shuffle partitions " * 2),
    ])
    surv2, _, _ = incremental_corpus_update(s2, seen2, bands2, **kw)
    assert sorted(r.doc_id for r in surv2.collect()) == [12]


def test_bloom_merge_rejects_mismatched_params(spark):
    """ADVICE r4: merging filters built with different (num_bits,
    num_hashes) silently loses the no-false-negative guarantee —
    bloom_build stamps the parameters in the bits column metadata and
    bloom_merge raises on disagreement; metadata-free inputs (hand-built
    word/bits rows) stay accepted."""
    import pytest as _pytest

    from evm_archive_spark.operators.bloom import bloom_build, bloom_merge

    shard = spark.createDataFrame([(f"g{i}",) for i in range(20)], ["v"])
    a = bloom_build(shard, "v", num_bits=1 << 12, num_hashes=4)
    b = bloom_build(shard, "v", num_bits=1 << 13, num_hashes=4)
    c = bloom_build(shard, "v", num_bits=1 << 12, num_hashes=5)
    with _pytest.raises(ValueError, match="incompatible"):
        bloom_merge(a, b)
    with _pytest.raises(ValueError, match="incompatible"):
        bloom_merge(a, c)
    # compatible inputs merge, and the output carries the params onward
    m = bloom_merge(a, bloom_build(shard, "v", num_bits=1 << 12, num_hashes=4))
    md = dict(m.schema["bits"].metadata)
    assert (md["num_bits"], md["num_hashes"]) == (1 << 12, 4)
    # a second-generation merge still checks (params survived)
    with _pytest.raises(ValueError, match="incompatible"):
        bloom_merge(m, b)
    # metadata-free input: unchecked, merges fine
    plain = a.select("word", F.col("bits").alias("bits"))
    assert bloom_merge(a, plain).count() == a.count()


def _pooled_ivf_append_scans_shard_once(spark, tmp_path):
    """VERDICT r4 #2: ivf_append persists the assignment around its two
    actions (count + write) so the shard source is scanned ONCE — pinned
    with an accumulator on a pass-through mapInPandas wrapper: the old
    double-evaluation shape would count every row twice."""
    from evm_archive_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_once")
    similarity.ivf_persist(
        emb.filter("vec_id % 2 = 0"), path, n_centroids=4, iters=1
    )
    shard = emb.filter("vec_id % 2 = 1")
    n_shard = shard.count()
    acc = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    wrapped = shard.mapInPandas(counted, shard.schema)
    appended = similarity.ivf_append(spark, wrapped, path)
    assert appended == n_shard
    assert acc.value == n_shard, (
        f"shard scanned {acc.value / n_shard:.1f}x, expected once"
    )


def _pooled_graph_operators_evaluate_edges_once(spark):
    """r13: triangle_count / bfs_levels / shortest_paths materialize
    their edge frames eagerly, so an expensive upstream edge derivation
    is evaluated exactly ONCE (triangle_count referenced it 3x — 15
    plan copies of the q_triangles pair join; the iterative kernels
    re-ran it once per round) — pinned with an accumulator on a
    pass-through mapInPandas wrapper, the ivf_append scan-once idiom."""
    from evm_archive_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)] + [(0, 2), (1, 3)],
        "src int, dst int",
    )
    n_edges = edges.count()

    def counted_edges():
        acc = spark.sparkContext.accumulator(0)

        def counted(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        return acc, edges.mapInPandas(counted, edges.schema)

    acc, e = counted_edges()
    assert graph.triangle_count(e).collect()[0].n_triangles == 2
    assert acc.value == n_edges, (
        f"triangle_count scanned edges {acc.value / n_edges:.1f}x"
    )

    seeds = spark.createDataFrame([(0,)], "node int")
    acc, e = counted_edges()
    graph.bfs_levels(e, seeds, max_iters=3).collect()
    assert acc.value == n_edges, (
        f"bfs_levels scanned edges {acc.value / n_edges:.1f}x"
    )

    acc, e = counted_edges()
    graph.shortest_paths(e, seeds, max_iters=3).collect()
    assert acc.value == n_edges, (
        f"shortest_paths scanned edges {acc.value / n_edges:.1f}x"
    )


def _pooled_stream_corpus_admission_equals_sequential_replay(spark, tmp_path):
    """VERDICT r4 #7: the composed nightly-shard admission lane run from
    foreachBatch — two micro-batches through stream_corpus_admission
    produce exactly the survivors of the sequential batch-mode
    admission of the same shards against the same persisted state
    (quality -> exact-incr -> minhash-incr), with a cross-batch exact
    dup AND a cross-batch near-dup dropped by the persisted state."""
    from evm_archive_spark.operators.corpus import (
        incremental_corpus_update,
        stream_corpus_admission,
    )

    kw = dict(min_tokens=4, num_perm=8, bands=4, k=5, method="md5")
    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 3
    rows1 = [
        (0, long_a + "first anchor document body"),
        (1, "short"),                                  # quality-pruned
        (2, long_a + "first anchor document body"),    # exact dup of 0
        (3, "completely different content about storage engines and "
            "columnar formats for analytical workloads"),
    ]
    rows2 = [
        (10, long_a + "first anchor document body"),   # exact dup of b1
        (11, long_a + "first anchor document bodY"),   # NEAR dup of b1
        (12, "novel second shard document with enough tokens to pass "
             "the quality gate easily and no shared shingles at all"),
    ]
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "state")
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = stream_corpus_admission(stream, state, **kw)
    q.awaitTermination()

    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{state}/survivors").collect()
    )

    # sequential batch replay over the same shards and fresh state
    seen = spark.createDataFrame([], "digest string")
    idx = spark.createDataFrame([], "doc_id long, band int, bhash string")
    expect = []
    for shard in (b1, b2):
        surv, ddelta, bdelta = incremental_corpus_update(
            shard, seen, idx, **kw
        )
        expect += [r["doc_id"] for r in surv.collect()]
        seen = seen.union(ddelta).localCheckpoint()
        idx = idx.union(bdelta).localCheckpoint()
    assert got == sorted(expect)
    # the state actually fed forward: batch-2's exact dup AND near dup
    # of batch-1 content were dropped, the novel doc admitted
    assert 12 in got and 10 not in got and 11 not in got
    assert 0 in got and 2 not in got and 1 not in got
    # state tables carry exactly the survivors' rows
    n_dig = (
        spark.read.parquet(f"{state}/digests")
        .select("digest").distinct().count()
    )
    assert n_dig == len(got)
    # replay-idempotence layout: every lane is partitioned by batch_id,
    # so a foreachBatch replay overwrites its own partition instead of
    # appending duplicates (ADVICE r5)
    import os as _os

    assert any(
        d.startswith("batch_id=")
        for d in _os.listdir(f"{state}/survivors")
    )


def _pooled_prepare_audio_video_corpus_scan_counts(spark):
    """The composed audio/video admission lanes read each payload the
    minimum number of passes — audio: metadata + VAD + fingerprint
    (3 scans), video: metadata + frame sampling (2 scans).  The floor
    frames are localCheckpointed, so their second reference (the final
    join-back) re-runs nothing; before r7 the vad_ok re-evaluation was
    a full sample-decode VAD pass over the admitted corpus."""
    from evm_archive_spark.operators.multimodal import (
        prepare_audio_corpus,
        prepare_video_corpus,
    )

    rows = [(i, bytearray(f"a{i // 2}".encode())) for i in range(8)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    def wrap():
        acc = spark.sparkContext.accumulator(0)

        def counted(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(counted, df.schema), acc

    wrapped, acc = wrap()
    out = prepare_audio_corpus(wrapped, strict=False).collect()
    assert len(out) == 4  # one survivor per identical-payload pair
    assert acc.value == 3 * 8, (
        f"audio lane scanned {acc.value}, expected 24 (meta+VAD+fp)"
    )
    wrapped, acc = wrap()
    out = prepare_video_corpus(
        wrapped, every_n=1, min_shared=1, strict=False
    ).collect()
    assert len(out) == 4
    assert acc.value == 2 * 8, (
        f"video lane scanned {acc.value}, expected 16 (meta+frames)"
    )


def _pooled_stream_corpus_admission_bucketed_state_one_sided(
    spark, tmp_path
):
    """VERDICT r5 #4: the streaming admission lane with
    ``bucketed_state=True`` — survivors equal the plain-state run, the
    digest/band state lives in hash-bucketed catalog tables, and the
    per-batch probe reads the band state with ZERO Exchange above its
    scan (only the incoming batch's keys shuffle)."""
    import contextlib
    import io
    import re

    from evm_archive_spark.operators.corpus import stream_corpus_admission
    from evm_archive_spark.operators.dedup import incremental_minhash_dedup

    kw = dict(min_tokens=4, num_perm=8, bands=4, k=5, method="md5")
    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 3
    rows1 = [
        (0, long_a + "first anchor document body"),
        (3, "completely different content about storage engines and "
            "columnar formats for analytical workloads"),
    ]
    rows2 = [
        (10, long_a + "first anchor document body"),   # cross-batch dup
        (12, "novel second shard document with enough tokens to pass "
             "the quality gate easily and no shared shingles at all"),
    ]
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    src = tmp_path / "src"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))
    # pin mtimes so micro-batch order is deterministic (NOTES gotcha)
    import os
    import time

    now = time.time()
    for f in os.listdir(str(src)):
        if not f.endswith(".parquet"):
            continue
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(str(src / f)).collect()
        }
        t = now - 100 if 0 in ids else now - 50
        os.utime(str(src / f), (t, t))

    state = str(tmp_path / "state")
    table_prefix = "t_adm_bucketed_pin"
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    try:
        q = stream_corpus_admission(
            stream, state, bucketed_state=True, n_buckets=4,
            table_prefix=table_prefix, **kw
        )
        q.awaitTermination()
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{state}/survivors").collect()
        )
        assert got == [0, 3, 12]  # cross-batch dup dropped via state

        # the band state is a bucketed catalog table; the probe that the
        # NEXT batch would run plans zero Exchange above its scan
        band_table = f"{table_prefix}_bands"
        assert spark.catalog.tableExists(band_table)
        idx = spark.table(band_table)
        # bucketed state rows carry batch_id, and the replay-safe read
        # as-of batch 1 sees ONLY batch-0 rows (ADVICE r6 high)
        from evm_archive_spark.operators.admission import read_admission_state

        assert "batch_id" in idx.columns
        as_of_1 = read_admission_state(
            spark, batch_id=1, cols=["doc_id", "band", "bhash"],
            empty_schema="doc_id long, band int, bhash string",
            table=band_table,
        )
        assert {
            r["doc_id"]
            for r in as_of_1.select("doc_id").distinct().collect()
        } == {0, 3}
        shard3 = spark.createDataFrame(
            [(20, "a totally fresh probe shard document")], schema
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = incremental_minhash_dedup(
                shard3, idx, num_perm=8, bands=4, k=5, method="md5"
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                probe.explain("formatted")
            plan = buf.getvalue()
            assert re.search(r"Bucketed: true", plan), plan
            tree = [
                ln for ln in plan.splitlines()
                if re.search(r"[+:]- \(?\w|^\w", ln)
            ]
            scan_i = next(
                i for i, ln in enumerate(tree) if band_table in ln
            )
            depth = tree[scan_i].index("- ")
            ancestors = []
            for ln in reversed(tree[:scan_i]):
                d = ln.index("- ") if "- " in ln else -1
                if d < depth:
                    ancestors.append(ln)
                    depth = d
                    if "SortMergeJoin" in ln:
                        break
            assert any("SortMergeJoin" in ln for ln in ancestors), plan
            assert not any("Exchange" in ln for ln in ancestors), (
                f"Exchange above the bucketed state scan:\n{plan}"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_digests")


# --------------------------------------------------------------------------
# pooled heavyweight integrations (VERDICT r4 #8 suite-headroom lever)
# --------------------------------------------------------------------------

from test_api import (  # noqa: E402 — pooled heavy checks (see below)
    _pooled_thrift_endpoint_serves_views,
)
from test_decode import (  # noqa: E402
    _pooled_decode_encode_property,
    _pooled_reference_lpad_defect_reproduction,
)
from test_gif import (  # noqa: E402
    _pooled_gif_through_spark_operators,
)
from test_jpeg import (  # noqa: E402
    _pooled_frame_sample_strict_real_avi,
    _pooled_jpeg_through_decode_images_and_ahash,
    _pooled_out_of_scope_jpeg_nonstrict_fallback,
    _pooled_progressive_through_spark_strict_paths,
)
from test_png import (  # noqa: E402
    _pooled_image_dedup_pipeline_end_to_end_and_scan_once,
    _pooled_incremental_image_dedup_against_persisted_index,
    _pooled_nonstrict_fallback_on_out_of_scope_png,
    _pooled_stream_image_admission_equals_sequential_replay,
)
from test_bmp import (  # noqa: E402
    _pooled_bmp_through_spark_strict_paths,
)
from test_cdc import (  # noqa: E402
    _pooled_stream_cdc_admission_equals_sequential_replay,
)
from test_classify import (  # noqa: E402
    _pooled_classify_vs_python_reference,
    _pooled_quality_classifier_filter_seed_vs_rest,
)
from test_textanalysis_scripts import (  # noqa: E402
    _pooled_script_profile_cross_engine,
)
from test_wav import (  # noqa: E402
    _pooled_g711_through_audio_features_strict,
    _pooled_resample_audio_strict_real,
    _pooled_spectral_features_known_signals,
)
from test_weburl import (  # noqa: E402
    _pooled_html_cross_engine_fuzz,
    _pooled_stream_url_admission_equals_sequential_replay,
    _pooled_url_cross_engine_fuzz,
    _pooled_web_corpus_pipeline_composition,
)
from test_flac import (  # noqa: E402
    _pooled_flac_through_spark_strict_paths,
)
from test_mp4 import (  # noqa: E402
    _pooled_mp4_through_spark_strict_paths,
)
from test_robots import (  # noqa: E402
    _pooled_robots_spark_matches_reference_fuzz,
)
from test_warc import (  # noqa: E402
    _pooled_warc_digest_dedup_before_parse,
    _pooled_warc_mixed_corpus_html_and_pdf,
    _pooled_warc_through_spark_pipeline,
)
from test_tiff import (  # noqa: E402
    _pooled_tiff_through_spark_strict_paths,
)
from test_spandedup import (  # noqa: E402 — r13: module pools merged
    _pooled_spandedup_module,
)
from test_retrieval import _pooled_retrieval_module  # noqa: E402
from test_videolane import _pooled_videolane_module  # noqa: E402
from test_phash import _pooled_phash_module  # noqa: E402
from test_chatformat import _pooled_chatformat_module  # noqa: E402

_POOLED_HEAVY = [
    _pooled_thrift_endpoint_serves_views,
    _pooled_asof_join_property,
    _pooled_ivf_topk_exact_when_probing_all_lists,
    _pooled_line_dedup_property_vs_python_reference,
    _pooled_asof_join_directions_property,
    _pooled_pagerank_property_vs_python_reference,
    _pooled_lm_score_property_vs_python_reference,
    _pooled_set_similarity_join_property_vs_naive,
    _pooled_decode_encode_property,
    _pooled_reference_lpad_defect_reproduction,
    _pooled_image_dedup_pipeline_end_to_end_and_scan_once,
    _pooled_incremental_image_dedup_against_persisted_index,
    _pooled_stream_image_admission_equals_sequential_replay,
    _pooled_gif_through_spark_operators,
    _pooled_jpeg_through_decode_images_and_ahash,
    _pooled_out_of_scope_jpeg_nonstrict_fallback,
    _pooled_frame_sample_strict_real_avi,
    _pooled_progressive_through_spark_strict_paths,
    _pooled_nonstrict_fallback_on_out_of_scope_png,
    _pooled_tiff_through_spark_strict_paths,
    _pooled_flac_through_spark_strict_paths,
    _pooled_mp4_through_spark_strict_paths,
    _pooled_warc_through_spark_pipeline,
    _pooled_warc_digest_dedup_before_parse,
    _pooled_warc_mixed_corpus_html_and_pdf,
    _pooled_robots_spark_matches_reference_fuzz,
    _pooled_bmp_through_spark_strict_paths,
    _pooled_classify_vs_python_reference,
    _pooled_quality_classifier_filter_seed_vs_rest,
    _pooled_script_profile_cross_engine,
    _pooled_g711_through_audio_features_strict,
    _pooled_resample_audio_strict_real,
    _pooled_spectral_features_known_signals,
    _pooled_url_cross_engine_fuzz,
    _pooled_html_cross_engine_fuzz,
    _pooled_web_corpus_pipeline_composition,
    _pooled_stream_url_admission_equals_sequential_replay,
    _pooled_streaming_incremental_minhash_equals_sequential_replay,
    _pooled_stream_cdc_admission_equals_sequential_replay,
    _pooled_stream_corpus_admission_equals_sequential_replay,
    _pooled_prepare_audio_video_corpus_scan_counts,
    _pooled_stream_corpus_admission_bucketed_state_one_sided,
    _pooled_streaming_rollup_maintenance_equals_batch,
    _pooled_streaming_incremental_dedup_equals_batch,
    _pooled_incremental_corpus_update_state_round_trip,
    _pooled_pq_train_kmeans_deterministic_and_better_distortion,
    _pooled_pq_train_kmeans_skips_null_embeddings,
    _pooled_ivf_bucketed_persist_prunes_partitions,
    _pooled_split_leakage_report_finds_cross_split_neardups,
    _pooled_scd2_property_vs_python_fold,
    _pooled_lm_train_and_score_manual,
    _pooled_shortest_paths_weighted_relaxation,
    _pooled_rollup_update_incremental_equals_recompute,
    _pooled_incremental_minhash_dedup_drops_near_twin_keeps_novel,
    _pooled_pq_encode_arrow_matches_expr_bit_for_bit,
    _pooled_leakage_safe_split_components_share_split,
    _pooled_ivf_append_exact_at_full_probe_and_touches_only_landed_lists,
    _pooled_ivf_append_scans_shard_once,
    _pooled_graph_operators_evaluate_edges_once,
    _pooled_bloom_merge_equals_rebuild_bit_for_bit,
    # r13: whole-module pools folded in — their serial walls (5-11 s
    # each) now overlap the big pool instead of queueing after it
    _pooled_spandedup_module,
    _pooled_retrieval_module,
    _pooled_videolane_module,
    _pooled_phash_module,
    _pooled_chatformat_module,
]


def test_operators_pooled_heavy(spark):
    """The heavyweight independent integration checks above, run through
    an 8-thread pool — the test_parity_pooled restructure applied to
    operators (VERDICT r3 #4 / r4 #8): one pytest item, identical
    coverage (each check body is unchanged, failures aggregated by
    name).  Hypothesis-based property tests and anything mutating
    session conf stay serial as their own items."""
    import inspect
    import pathlib
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    def run(fn):
        try:
            kwargs = {}
            if "tmp_path" in inspect.signature(fn).parameters:
                kwargs["tmp_path"] = pathlib.Path(tempfile.mkdtemp())
            fn(spark, **kwargs)
            return fn.__name__, None
        except Exception as e:  # noqa: BLE001 — aggregated below
            return fn.__name__, f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=16) as ex:
        results = list(ex.map(run, _POOLED_HEAVY))
    assert len(results) == len(_POOLED_HEAVY) >= 13
    fails = [(n, m) for n, m in results if m]
    assert not fails, "\n".join(f"{n}: {m}" for n, m in fails)


def test_semantic_dedup_centroid_paths_equivalent(spark):
    """r11 scale fix: the explicit-centroids path must reproduce the
    default corpus-member rule exactly when given the same set, and
    centroid_mod=None auto-sizes to ~sqrt(n) (one count job)."""
    import math

    from pyspark.sql import functions as F

    from evm_archive_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    base = semantic_dedup(
        emb, threshold_num=2, threshold_den=5).orderBy("vec_id")
    cents = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    exp = semantic_dedup(
        emb, threshold_num=2, threshold_den=5,
        centroids=cents).orderBy("vec_id")
    assert base.collect() == exp.collect()
    n = emb.count()
    auto = semantic_dedup(
        emb, centroid_mod=None, threshold_num=2,
        threshold_den=5).orderBy("vec_id")
    manual = semantic_dedup(
        emb, centroid_mod=max(1, math.isqrt(n)), threshold_num=2,
        threshold_den=5).orderBy("vec_id")
    assert auto.collect() == manual.collect()


def test_dedup_null_handling_and_band_validation(spark):
    """Review r12 regressions: NULL-content rows survive exact dedup
    (grouped with the empty string, the cross_doc_span_dedup
    convention); NULL-text documents pass through line_dedup; a
    bands/num_perm mismatch raises instead of silently reshaping the
    S-curve."""
    import pytest as _pt

    from evm_archive_spark.operators.dedup import (
        exact_dedup_by_content,
        line_dedup,
        minhash_band_index,
        minhash_lsh_candidates,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None), (4, "")],
        "doc_id long, text string")
    out = exact_dedup_by_content(df, "doc_id", "text")
    # one survivor for the NULL/'' group (lowest id), one for 'x'
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    ld = line_dedup(df, min_occurrences=2)
    assert ld.count() == 4                     # no document vanishes
    assert ld.filter("doc_id = 1").count() == 1
    with _pt.raises(ValueError, match="divide"):
        minhash_lsh_candidates(df, "doc_id", "text",
                               num_perm=32, bands=5)
    with _pt.raises(ValueError, match="divide"):
        minhash_band_index(df, num_perm=32, bands=64)


def test_semantic_dedup_accepts_ivf_train_output(spark):
    """Review r12: the docstring's own example — passing ivf_train's
    (centroid_id, centroid) frame — must work without renaming."""
    from evm_archive_spark.operators.similarity import (
        ivf_train,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_train(emb, n_centroids=4)
    out = semantic_dedup(emb, centroids=cents)
    assert out.count() == emb.count()
    assert set(out.columns) >= {"vec_id", "keep"}
