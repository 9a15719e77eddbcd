"""End-to-end pipeline runner tests against the deterministic mock chain:
same env surface as the reference (main.go:18-91), idempotent re-run."""

from __future__ import annotations

from evm_archive_spark.pipeline import env_config, run_batch


def _cfg(tmp_path, **over):
    env = {
        "EVM_ARCHIVE_ENDPOINT": "mock://head=19,logs_per_block=2",
        "EVM_ARCHIVE_FROM_BLOCK": "0",
        "EVM_ARCHIVE_TO_BLOCK": "19",
        "EVM_ARCHIVE_BLOCK_STEP": "5",
        "EVM_ARCHIVE_TOKENS": "0xtokenA",
        "EVM_ARCHIVE_ORACLES": "0xoracleA",
        "EVM_ARCHIVE_OUT": str(tmp_path / "out"),
        **over,
    }
    return env_config(env)


def test_batch_backfill_and_idempotent_rerun(spark, tmp_path):
    cfg = _cfg(tmp_path)
    counts = run_batch(spark, cfg)
    assert counts["logs"] == 40  # 20 blocks x 2 logs
    assert counts["price"] == 4  # 20 blocks / step 5 windows

    # re-run: resume cursor starts past TO_BLOCK -> no new rows (A10/A11)
    counts2 = run_batch(spark, cfg)
    assert counts2["logs"] == 40


def test_batch_with_timestamp_enrichment(spark, tmp_path):
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENRICH_TIMESTAMPS="1")
    run_batch(spark, cfg)
    df = spark.read.parquet(str(tmp_path / "out" / "logs"))
    rows = df.select("block_number", "block_timestamp").collect()
    assert all(r["block_timestamp"] is not None for r in rows)
    ts = {r["block_number"]: r["block_timestamp"] for r in rows}
    assert (ts[1] - ts[0]).total_seconds() == 12.0


def test_stream_captures_logs_and_prices(spark, tmp_path):
    from evm_archive_spark.pipeline import run_stream

    cfg = _cfg(tmp_path)
    published = []
    q = run_stream(spark, cfg, available_now=True, publish=published.append)
    q.awaitTermination()
    logs = spark.read.parquet(str(tmp_path / "out" / "logs"))
    price = spark.read.parquet(str(tmp_path / "out" / "price"))
    assert logs.count() == 40
    # one price row per (token, window-start) touched by the stream
    rows = price.collect()
    assert len(rows) >= 1
    assert all(r["address"] == "0xtokenA" and r["price"] > 0 for r in rows)
    # the subscription hook fired after each sink commit (NOTIFY analogue)
    assert "logs" in published and "price" in published


def test_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the logs and price
    writes replays the whole micro-batch.  Replaying the same batch_id
    must leave both sinks unchanged (deterministic-partition overwrite,
    the parquet analog of ON CONFLICT DO NOTHING)."""
    from evm_archive_spark.pipeline import _stream_batch_writer, read_sink
    from evm_archive_spark.schemas import LOGS_PK
    from evm_archive_spark.sources import rpc

    cfg = _cfg(tmp_path)
    rpc.register(spark)
    batch = (
        spark.read.format("evm_logs")
        .option("endpoint", cfg["endpoint"])
        .option("fromBlock", "0")
        .option("toBlock", "9")
        .option("blockStep", "5")
        .load()
    )
    logs_path = str(tmp_path / "out" / "logs")
    price_path = str(tmp_path / "out" / "price")
    write_batch = _stream_batch_writer(cfg, logs_path, price_path)

    write_batch(batch, 7)
    logs_once = read_sink(spark, logs_path, LOGS_PK).count()
    price_once = read_sink(spark, price_path).count()
    assert logs_once == 20 and price_once >= 1

    write_batch(batch, 7)  # crash-replay of the same micro-batch
    assert read_sink(spark, logs_path, LOGS_PK).count() == logs_once
    assert read_sink(spark, price_path).count() == price_once
    # and the raw sink itself carries no duplicate PKs (not just the view)
    raw = spark.read.parquet(logs_path)
    assert raw.count() == raw.dropDuplicates(LOGS_PK).count()


def test_stream_with_enrichment(spark, tmp_path):
    from evm_archive_spark.pipeline import run_stream

    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENRICH_TIMESTAMPS="1")
    q = run_stream(spark, cfg, available_now=True)
    q.awaitTermination()
    logs = spark.read.parquet(str(tmp_path / "out" / "logs"))
    assert logs.count() == 40
    assert logs.filter("block_timestamp IS NULL").count() == 0


def test_corpus_cli_profile_and_pack(spark, tmp_path, capsys):
    """The corpus_cli surface: --profile-only prints the one-pass profile
    JSON; a full run writes the deterministic pack assignment table."""
    import json

    from evm_archive_spark.corpus_cli import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "packs")

    assert main(["--input", src, "--profile-only"]) == 0
    prof = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert prof["n_docs"] > 0 and prof["total_tokens"] > 0

    assert main(["--input", src, "--out", out, "--budget", "256"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows"] > 0 and stats["packs"] > 0
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "copy_id", "n_tokens", "pack_id", "pack_off"}
    # concat-and-chunk semantics: every start offset lies inside its pack
    assert got.filter("pack_off < 0 OR pack_off >= 256").count() == 0


def test_stream_reorg_tombstone_reverts_prior_row(spark, tmp_path):
    """VERDICT r5 #7: reorg resolution wired end-to-end through the
    streaming pipeline.  Batch 1 lands block 5's logs normally; batch 2
    (a later poll window) re-delivers the same PKs with removed=true —
    the tombstones are STORED (sink stays append-only + idempotent, the
    reference's get_logs.go:52 contract) and the current-state view
    (read_sink -> reorg.resolve_removed) no longer surfaces block 5,
    completing the reference's acknowledged TODO (get_logs.go:107)."""
    from evm_archive_spark.pipeline import read_sink, run_stream
    from evm_archive_spark.schemas import LOGS_PK

    endpoint = (
        "mock://head=19,logs_per_block=2,reorg_block=5,reorg_seen_from=10"
    )
    # run 1: bounded tail-follow over [0,9] — block 5 lands normally
    cfg = _cfg(
        tmp_path,
        EVM_ARCHIVE_ENDPOINT=endpoint,
        EVM_ARCHIVE_TO_BLOCK="9",
        EVM_ARCHIVE_TOKENS="",
        EVM_ARCHIVE_ORACLES="",
    )
    q = run_stream(spark, cfg, available_now=True)
    q.awaitTermination()
    # run 2: the next poll window [10,19] resumes from the checkpoint
    # and re-delivers block 5's PKs as removed=true
    cfg = _cfg(
        tmp_path,
        EVM_ARCHIVE_ENDPOINT=endpoint,
        EVM_ARCHIVE_TO_BLOCK="19",
        EVM_ARCHIVE_TOKENS="",
        EVM_ARCHIVE_ORACLES="",
    )
    q = run_stream(spark, cfg, available_now=True)
    q.awaitTermination()

    logs_path = str(tmp_path / "out" / "logs")
    raw = spark.read.parquet(logs_path)
    # two micro-batches landed (the tombstones arrived AFTER their
    # victim rows, in a different ingest batch)
    batches = {r["ingest_batch"] for r in raw.select("ingest_batch").collect()}
    assert len(batches) >= 2
    tomb = raw.filter("removed")
    assert tomb.count() == 2  # stored verbatim, logs_per_block rows
    assert {r["block_number"] for r in tomb.collect()} == {5}
    victim_batch = raw.filter(
        "block_number = 5 AND NOT removed"
    ).select("ingest_batch").distinct().collect()
    tomb_batch = tomb.select("ingest_batch").distinct().collect()
    assert victim_batch[0][0] != tomb_batch[0][0]

    # current-state view: block 5 reverted, everything else intact
    view = read_sink(spark, logs_path, LOGS_PK)
    assert view.filter("block_number = 5").count() == 0
    assert view.count() == 19 * 2
    # raw history still carries the reorged rows for audit
    assert raw.filter("block_number = 5").count() == 4  # 2 rows + 2 tombs

    # replay idempotence survives the tombstone path: re-running the
    # bounded stream from the same checkpoint adds nothing
    q2 = run_stream(spark, cfg, available_now=True)
    q2.awaitTermination()
    raw2 = spark.read.parquet(logs_path)
    assert raw2.count() == raw.count()
    assert read_sink(spark, logs_path, LOGS_PK).count() == 19 * 2


_REORG = "mock://head=19,logs_per_block=2,reorg_block=5,reorg_seen_from=10"


def test_batch_keeps_reorg_tombstones(spark, tmp_path):
    """run_batch dedups on PK + removed, like every ingest unit: a range
    holding both a log and its removed=true re-delivery stores both, and
    the view hides the reorged-out block."""
    from evm_archive_spark.pipeline import read_sink
    from evm_archive_spark.schemas import LOGS_PK

    cfg = _cfg(
        tmp_path, EVM_ARCHIVE_ENDPOINT=_REORG, EVM_ARCHIVE_TOKENS="", EVM_ARCHIVE_ORACLES=""
    )
    run_batch(spark, cfg)
    logs_path = str(tmp_path / "out" / "logs")
    raw = spark.read.parquet(logs_path).filter("block_number = 5")
    assert raw.count() == 4  # 2 logs + 2 tombstones
    assert raw.filter("removed").count() == 2
    view = read_sink(spark, logs_path, LOGS_PK)
    assert view.filter("block_number = 5").count() == 0
    assert view.count() == 19 * 2


def test_batch_then_stream_keeps_backfill(spark, tmp_path):
    """A stream started over a run_batch backfill resumes after it and
    writes partitions whose keys cannot meet the backfill's."""
    from evm_archive_spark.pipeline import read_sink, run_stream
    from evm_archive_spark.schemas import LOGS_PK

    run_batch(spark, _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9"))
    q = run_stream(spark, _cfg(tmp_path), available_now=True)
    q.awaitTermination()
    view = read_sink(spark, str(tmp_path / "out" / "logs"), LOGS_PK)
    assert view.count() == 40
    assert view.agg({"block_number": "min"}).collect()[0][0] == 0
    # the price sink keeps the backfill's window probes too
    price = read_sink(spark, str(tmp_path / "out" / "price"))
    assert {r["block_number"] for r in price.collect()} == {0, 5, 10, 15}


def test_publish_failure_is_logged_and_unit_lands(spark, tmp_path, caplog):
    """Listeners never fail ingest, but each failed publish call leaves
    one warning with its traceback."""
    import logging

    from evm_archive_spark.pipeline import _stream_batch_writer, read_sink
    from evm_archive_spark.sources import rpc

    cfg = _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9")
    calls = []

    def publish(topic):
        calls.append(topic)
        raise RuntimeError(f"listener down: {topic}")

    logs_path = str(tmp_path / "out" / "logs")
    price_path = str(tmp_path / "out" / "price")
    rpc.register(spark)
    batch = (
        spark.read.format("evm_logs")
        .option("endpoint", cfg["endpoint"])
        .option("fromBlock", "0")
        .option("toBlock", "9")
        .option("blockStep", "5")
        .load()
    )
    with caplog.at_level(logging.WARNING, logger="evm_archive_spark.pipeline"):
        _stream_batch_writer(cfg, logs_path, price_path, publish)(batch, 0)
    assert calls == ["logs", "price"]
    assert read_sink(spark, logs_path).count() == 20
    assert read_sink(spark, price_path).count() == 2
    warned = [r for r in caplog.records if r.name == "evm_archive_spark.pipeline"]
    assert len(warned) == 2
    assert all(r.levelno == logging.WARNING and r.exc_info for r in warned)
