"""End-to-end pipeline runner tests against the deterministic mock chain:
same env surface as the reference (main.go:18-91), idempotent re-run."""

from __future__ import annotations

import contextlib

import pytest

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


@contextlib.contextmanager
def _serve(answer):
    """A live JSON-RPC node on localhost whose ``answer(method, params)``
    gives each result, and which counts the calls per method:
    ``(endpoint, Counter)``."""
    import http.server
    import json
    import threading
    from collections import Counter

    from evm_archive_spark.sources.rpc import SkipWindow

    calls: Counter = Counter()
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            with lock:
                calls[body["method"]] += 1
            try:
                reply = {"result": answer(body["method"], body["params"])}
            except SkipWindow as e:
                reply = {"error": {"code": -32602, "message": str(e)}}
            out = json.dumps({"jsonrpc": "2.0", "id": body["id"], **reply}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", calls
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture
def node():
    """A node that answers from MockTransport: ``(endpoint, Counter)``."""
    from evm_archive_spark.sources.rpc import MockTransport

    with _serve(MockTransport("mock://head=19,logs_per_block=2").call) as served:
        yield served


def _logs_batch(spark, endpoint, lo, hi, step=5, **opts):
    from evm_archive_spark.sources import rpc

    rpc.register(spark)
    return (
        spark.read.format("evm_logs")
        .options(endpoint=endpoint, fromBlock=str(lo), toBlock=str(hi), blockStep=str(step), **opts)
        .load()
    )


def _raw(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _assert_counts_exact(spark, tmp_path, counts):
    out = tmp_path / "out"
    assert counts == {t: spark.read.parquet(str(out / t)).count() for t in counts}


def test_batch_backfill_and_idempotent_rerun(spark, tmp_path, node):
    endpoint, calls = node
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint)
    counts = run_batch(spark, cfg)
    assert counts["logs"] == 40  # 20 blocks x 2 logs
    assert counts["price"] == 4  # 20 blocks / step 5 windows
    assert calls["eth_getLogs"] == 4  # one per window

    # re-run: resume cursor starts past TO_BLOCK -> no new rows (A10/A11)
    counts2 = run_batch(spark, cfg)
    assert counts2 == {"logs": 40, "price": 4}
    _assert_counts_exact(spark, tmp_path, counts2)


def test_batch_with_timestamp_enrichment(spark, tmp_path, node):
    endpoint, calls = node
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint, EVM_ARCHIVE_ENRICH_TIMESTAMPS="1")
    run_batch(spark, cfg)
    assert calls["eth_getLogs"] == 4  # still one per window
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


def test_stream_replay_is_idempotent(spark, tmp_path, node):
    """foreachBatch is at-least-once: a crash between the logs and price
    writes replays the whole micro-batch.  Replaying the same batch_id
    must leave both sinks unchanged (deterministic-partition overwrite,
    the parquet analog of ON CONFLICT DO NOTHING).  Each run of the unit
    reads each window of the node once."""
    from evm_archive_spark.pipeline import _stream_batch_writer, read_sink
    from evm_archive_spark.schemas import LOGS_PK

    endpoint, calls = node
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint)
    batch = _logs_batch(spark, endpoint, 0, 9)
    logs_path = str(tmp_path / "out" / "logs")
    price_path = str(tmp_path / "out" / "price")
    write_batch = _stream_batch_writer(cfg, logs_path, price_path)

    write_batch(batch, 7)
    assert calls["eth_getLogs"] == 2  # blocks 0-9 in windows of 5
    logs_once = read_sink(spark, logs_path, LOGS_PK).count()
    price_once = read_sink(spark, price_path).count()
    assert logs_once == 20 and price_once >= 1

    write_batch(batch, 7)  # crash-replay of the same micro-batch
    assert calls["eth_getLogs"] == 4
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


def test_enriched_stream_unit_reads_each_window_once(spark, tmp_path, node):
    """With enrichment a micro-batch needs its bounds before the write; it
    still reads each window of the node once, and a replay leaves both
    sinks as they were."""
    from evm_archive_spark.pipeline import _stream_batch_writer

    endpoint, calls = node
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint, EVM_ARCHIVE_ENRICH_TIMESTAMPS="1")
    logs_path, price_path = str(tmp_path / "out" / "logs"), str(tmp_path / "out" / "price")
    write_batch = _stream_batch_writer(cfg, logs_path, price_path)
    batch = _logs_batch(spark, endpoint, 0, 9)

    write_batch(batch, 7)
    assert calls["eth_getLogs"] == 2
    once = _raw(spark, logs_path), _raw(spark, price_path)
    assert len(once[0]) == 20 and len(once[1]) == 2
    assert spark.read.parquet(logs_path).filter("block_timestamp IS NULL").count() == 0

    write_batch(batch, 7)
    assert calls["eth_getLogs"] == 4
    assert (_raw(spark, logs_path), _raw(spark, price_path)) == once


def test_batch_counts_match_the_sink(spark, tmp_path):
    """run_batch's counts are the sink's row counts without reading it
    back: on a first run, on a re-run that adds nothing, and over a sink
    that already holds run_stream partitions."""
    from evm_archive_spark.pipeline import run_stream

    cfg = _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9")
    _assert_counts_exact(spark, tmp_path, run_batch(spark, cfg))
    _assert_counts_exact(spark, tmp_path, run_batch(spark, cfg))

    run_stream(spark, _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="14"), available_now=True).awaitTermination()
    counts = run_batch(spark, _cfg(tmp_path))
    assert counts["logs"] == 40
    _assert_counts_exact(spark, tmp_path, counts)


@pytest.mark.parametrize("contracts", ["", "0x" + "de" * 20])
def test_batch_counts_when_its_partition_exists(spark, tmp_path, contracts):
    """The last batch partition holds only tombstones of older blocks, and
    fromBlock points at it: the run overwrites it when it writes rows, and
    leaves it when it writes none (a contract the mock never emits)."""
    from pyspark.sql import functions as F

    from evm_archive_spark.pipeline import _write_idempotent

    run_batch(spark, _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9"))
    out = tmp_path / "out"
    for t in ("logs", "price"):
        old = spark.read.parquet(str(out / t)).drop("ingest_batch")
        if t == "logs":
            old = old.withColumn("removed", F.lit(True))
        _write_idempotent(old.localCheckpoint(), str(out / t), 10)

    counts = run_batch(spark, _cfg(tmp_path, EVM_ARCHIVE_FROM_BLOCK="10",
                                   EVM_ARCHIVE_CONTRACTS=contracts))
    _assert_counts_exact(spark, tmp_path, counts)
    assert counts == {"logs": 40, "price": 4}
    tombstones = spark.read.parquet(str(out / "logs")).filter("removed").count()
    assert tombstones == (20 if contracts else 0)


@pytest.mark.parametrize("enrich", ["", "1"])
def test_empty_micro_batch_lands_nothing(spark, tmp_path, node, enrich):
    """A micro-batch that carries no rows writes no ingest_batch partition,
    calls no publish and probes no price."""
    import os

    from evm_archive_spark.pipeline import _stream_batch_writer

    endpoint, calls = node
    never = "0x" + "de" * 20  # an address the mock never emits
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint, EVM_ARCHIVE_CONTRACTS=never,
               EVM_ARCHIVE_ENRICH_TIMESTAMPS=enrich)
    out = tmp_path / "out"
    published = []
    _stream_batch_writer(cfg, str(out / "logs"), str(out / "price"), published.append)(
        _logs_batch(spark, endpoint, 0, 9, contracts=never), 3)
    assert calls["eth_getLogs"] >= 1
    assert published == []
    assert calls["eth_call"] == 0 and calls["eth_getBlockByNumber"] == 0
    for t in ("logs", "price"):
        parts = os.listdir(out / t) if (out / t).exists() else []
        assert not [p for p in parts if p.startswith("ingest_batch=")]


def test_packed_batch_reads_each_window_once(spark, tmp_path, node):
    """More windows than defaultParallelism: run_batch packs them into one
    wave of partitions, still with one eth_getLogs per window, and lands
    the rows of the unpacked layout and one price per window start."""
    from evm_archive_spark.pipeline import _source

    endpoint, calls = node
    cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint, EVM_ARCHIVE_BLOCK_STEP="2")
    counts = run_batch(spark, cfg)
    assert calls["eth_getLogs"] == 10  # 20 blocks / blockStep 2
    assert counts == {"logs": 40, "price": 10}
    parallelism = spark.sparkContext.defaultParallelism
    assert parallelism < 10
    assert _source(spark, "evm_logs", cfg, 0, 19).rdd.getNumPartitions() == parallelism
    out = tmp_path / "out"
    sink = spark.read.parquet(str(out / "logs")).drop("ingest_batch")
    unpacked = _logs_batch(spark, endpoint, 0, 19, step=2)
    assert unpacked.rdd.getNumPartitions() == 10
    assert sorted(map(tuple, sink.collect())) == sorted(map(tuple, unpacked.collect()))
    prices = spark.read.parquet(str(out / "price")).select("block_number").collect()
    assert sorted(r[0] for r in prices) == list(range(0, 20, 2))


def test_resume_from_a_missing_sink_reads_nothing(spark, tmp_path, monkeypatch):
    """A catch-up into a new output plans no parquet read and starts no
    Spark job: it starts at FROM_BLOCK.  One into a sink directory that
    holds no data files starts no job either."""
    from pyspark.sql import DataFrameReader

    from evm_archive_spark.pipeline import _resume_from

    reads = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *paths, **kw: reads.append(paths) or parquet(self, *paths, **kw))
    sc = spark.sparkContext
    (tmp_path / "empty").mkdir()  # a sink with no data files
    try:
        sc.setJobGroup("resume-missing", "resume from a missing sink")
        assert _resume_from(spark, str(tmp_path / "nowhere"), 7) == (7, {})
        assert sc.statusTracker().getJobIdsForGroup("resume-missing") == []
        assert reads == []

        sc.setJobGroup("resume-empty", "resume from an empty sink")
        assert _resume_from(spark, str(tmp_path / "empty"), 7) == (7, {})
        assert sc.statusTracker().getJobIdsForGroup("resume-empty") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_sink_without_block_number_fails_the_catch_up(spark, tmp_path):
    """Parquet files that carry no block_number are not an empty sink: the
    catch-up raises instead of restarting ingest at FROM_BLOCK."""
    cfg = _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9")
    part = tmp_path / "out" / "logs" / "ingest_batch=0"
    spark.range(3).withColumnRenamed("id", "log_index").write.parquet(str(part))
    with pytest.raises(Exception, match="block_number"):
        run_batch(spark, cfg)
    assert [p.name for p in part.parent.iterdir()] == ["ingest_batch=0"]


def test_corrupt_sink_fails_the_catch_up(spark, tmp_path):
    """A sink that cannot be read is an error, not an empty sink: the
    catch-up raises instead of restarting ingest at FROM_BLOCK."""
    cfg = _cfg(tmp_path, EVM_ARCHIVE_TO_BLOCK="9")
    run_batch(spark, cfg)
    bad = tmp_path / "out" / "logs" / "ingest_batch=0" / "part-99999-corrupt.parquet"
    bad.write_bytes(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="(?i)parquet"):
        run_batch(spark, _cfg(tmp_path))
    assert bad.exists()


def test_reader_dedups_within_its_partition(spark, tmp_path):
    """The node answers window [5, 9] twice over, and that window holds
    block 6's logs and their removed=true re-delivery.  run_batch and a
    micro-batch each land one row per LOGS_PK + removed, the log and its
    tombstone both, with one eth_getLogs per window; a token listed twice
    gets one price row per window start, its first oracle's."""
    from evm_archive_spark.pipeline import _stream_batch_writer
    from evm_archive_spark.schemas import LOGS_PK
    from evm_archive_spark.sources.rpc import MockTransport

    mock = MockTransport("mock://head=19,logs_per_block=2,reorg_block=6,reorg_seen_from=6")

    def twice(method, params):
        res = mock.call(method, params)
        return res * 2 if method == "eth_getLogs" and params[0]["fromBlock"] == "0x5" else res

    def assert_unit(out, blocks, starts):
        raw = spark.read.parquet(str(out / "logs"))
        assert raw.count() == raw.dropDuplicates(LOGS_PK + ["removed"]).count() == 2 * blocks + 2
        assert raw.filter("block_number = 6 AND removed").count() == 2
        assert raw.filter("block_number = 6 AND NOT removed").count() == 2
        prices = spark.read.parquet(str(out / "price")).collect()
        assert sorted(r["block_number"] for r in prices) == starts
        assert all(r["address"] == "A" and r["price"] == int(
            mock.call("eth_call", [{"to": "0xoracleA"}, hex(r["block_number"])]), 16)
            for r in prices)

    with _serve(twice) as (endpoint, calls):
        cfg = _cfg(tmp_path, EVM_ARCHIVE_ENDPOINT=endpoint, EVM_ARCHIVE_TOKENS="A,A",
                   EVM_ARCHIVE_ORACLES="0xoracleA,0xoracleB")
        assert run_batch(spark, cfg) == {"logs": 42, "price": 4}
        assert calls["eth_getLogs"] == 4
        assert_unit(tmp_path / "out", 20, [0, 5, 10, 15])

        mb = tmp_path / "mb"
        _stream_batch_writer(cfg, str(mb / "logs"), str(mb / "price"))(
            _logs_batch(spark, endpoint, 0, 9), 0)
        assert calls["eth_getLogs"] == 6
        assert_unit(mb, 10, [0, 5])


def test_ingest_unit_is_one_job(spark, tmp_path):
    """A catch-up of 10 windows into a new sink, and a micro-batch without
    enrichment, each run one Spark job: the fetch and the write share its
    tasks, with no dedup shuffle between them."""
    from evm_archive_spark.pipeline import _stream_batch_writer

    cfg = _cfg(tmp_path, EVM_ARCHIVE_BLOCK_STEP="2", EVM_ARCHIVE_TOKENS="", EVM_ARCHIVE_ORACLES="")
    batch = _logs_batch(spark, cfg["endpoint"], 0, 9)
    mb = tmp_path / "mb"
    sc = spark.sparkContext
    try:
        sc.setJobGroup("unit-batch", "one catch-up")
        assert run_batch(spark, cfg) == {"logs": 40}
        assert len(sc.statusTracker().getJobIdsForGroup("unit-batch")) == 1

        sc.setJobGroup("unit-stream", "one micro-batch")
        _stream_batch_writer(cfg, str(mb / "logs"), str(mb / "price"))(batch, 0)
        assert len(sc.statusTracker().getJobIdsForGroup("unit-stream")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark.read.parquet(str(mb / "logs")).count() == 20
