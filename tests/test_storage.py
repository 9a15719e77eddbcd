"""Bucketed-layout tests: ``storage.write_bucketed`` tables join without
an Exchange on the bucketed side."""

from __future__ import annotations


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key by write_bucketed join with
    ZERO Exchange (and, with matching sortBy, zero per-task Sort above
    the scans): the pay-the-shuffle-once-at-write-time contract."""
    import contextlib
    import io
    import re

    from evm_archive_spark.storage import write_bucketed

    logs = spark.range(0, 1000).selectExpr(
        "id AS block_number", "id % 7 AS address_id", "id * 2 AS v"
    )
    prices = spark.range(0, 500).selectExpr(
        "id AS block_number", "id * 10 AS price"
    )
    write_bucketed(
        logs, "t_logs_b", str(tmp_path / "logs_b"), ["block_number"], 4
    )
    write_bucketed(
        prices, "t_prices_b", str(tmp_path / "prices_b"), ["block_number"], 4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must pick SMJ — the layout claim
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_logs_b").join(
            spark.table("t_prices_b"), "block_number"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        assert "SortMergeJoin" in plan
        # values survive the layout round-trip
        assert joined.count() == 500
        row = joined.filter("block_number = 42").collect()[0]
        assert (row["v"], row["price"]) == (84, 420)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_logs_b")
        spark.sql("DROP TABLE IF EXISTS t_prices_b")


def test_incremental_minhash_bucketed_index_one_sided(spark, tmp_path):
    """VERDICT r3 #5: the persisted MinHash band index, written bucketed
    by (band, bhash), joins the incoming shard with a ONE-SIDED shuffle —
    exactly one Exchange in the dedup plan (the shard's band rows), zero
    above the bucketed index scan.  Results are pinned equal to the
    unbucketed path."""
    import contextlib
    import io
    import re

    from evm_archive_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
        persist_minhash_band_index,
    )

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN concat('shared text body number ', id % 10) "
        "ELSE concat('unique document payload ', id, ' tail ', id * 7) END AS text",
    )
    corpus = docs.filter("doc_id >= 100")
    shard = docs.filter("doc_id < 100")

    idx = minhash_band_index(corpus, num_perm=8, bands=4)
    bucketed = persist_minhash_band_index(
        spark, idx, "t_mh_band_idx", str(tmp_path / "mh_idx"), n_buckets=4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        survivors = incremental_minhash_dedup(
            shard, bucketed, num_perm=8, bands=4
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            survivors.explain("formatted")
        plan = buf.getvalue()
        # one-sided: every Exchange sits under the shard side (band rows
        # into the semi join, distinct hits, anti-join back); the bucketed
        # index scan must feed its join with NO Exchange above it.  Walk
        # the tree from the scan line upward by indentation: every
        # ancestor until the join must be Exchange-free.
        assert "SortMergeJoin" in plan, plan
        assert re.search(r"Bucketed: true", plan), plan
        tree = [
            ln for ln in plan.splitlines() if re.search(r"[+:]- \(?\w|^\w", ln)
        ]
        scan_i = next(
            i for i, ln in enumerate(tree) if "t_mh_band_idx" in ln
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
            f"Exchange above the bucketed index scan:\n{plan}"
        )
        got = sorted(r["doc_id"] for r in survivors.collect())
        want = sorted(
            r["doc_id"]
            for r in incremental_minhash_dedup(
                shard, idx, num_perm=8, bands=4
            ).collect()
        )
        assert got == want and len(got) < 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_mh_band_idx")


def test_incremental_image_index_bucketed_one_sided(spark, tmp_path):
    """The image mirror of the MinHash one-sided pin (VERDICT r4 #6): a
    persisted image_hash_index bucketed by (bi, bv) joins the incoming
    shard's band rows with ZERO Exchange above the bucketed index scan,
    and the bucketed probe's admissions equal the unbucketed path's."""
    import contextlib
    import io
    import re

    import numpy as np
    import pandas as pd

    from evm_archive_spark.operators import multimodal
    from evm_archive_spark.operators.png import encode_png

    rng = np.random.default_rng(41)

    def img_bytes(seed):
        im = rng.integers(0, 256, size=(16, 16, 4), dtype=np.uint8)
        im[:, :, 3] = 255
        return encode_png(im)

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": range(20), "payload": [img_bytes(i) for i in range(20)]}
        )
    )
    shard = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": range(100, 110),
             "payload": [img_bytes(i) for i in range(10)]}
        )
    )
    admitted = multimodal.image_dedup_pipeline(corpus, strict=True)
    idx = multimodal.image_hash_index(admitted)
    spark.sql("DROP TABLE IF EXISTS t_img_band_idx")
    bucketed = multimodal.persist_image_hash_index(
        spark, idx, "t_img_band_idx", str(tmp_path / "img_idx"), n_buckets=4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        survivors = multimodal.incremental_image_dedup(
            shard, bucketed, strict=True
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            survivors.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert re.search(r"Bucketed: true", plan), plan
        tree = [
            ln for ln in plan.splitlines() if re.search(r"[+:]- \(?\w|^\w", ln)
        ]
        scan_i = next(
            i for i, ln in enumerate(tree) if "t_img_band_idx" in ln
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
            f"Exchange above the bucketed index scan:\n{plan}"
        )
        got = sorted(r["media_id"] for r in survivors.collect())
        want = sorted(
            r["media_id"]
            for r in multimodal.incremental_image_dedup(
                shard, idx, strict=True
            ).collect()
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_img_band_idx")
