"""JSON-RPC source tests against the deterministic mock chain — covers
A1-A4 (fetch + retry taxonomy), A12 (window planning), batch + streaming
paths, and the E2E ingest -> idempotent sink pipeline."""

from __future__ import annotations

import duckdb
import pytest

from evm_archive_spark.schemas import LOGS_PK
from evm_archive_spark.sinks import upsert
from evm_archive_spark.sources import rpc


@pytest.fixture(scope="module")
def registered(spark):
    rpc.register(spark)
    return spark


def test_plan_ranges_window_math():
    # A12: toBlock = fromBlock + step - 1, clamped (main.go:228-233)
    r = rpc.plan_ranges(0, 250, 100)
    assert [(x.start, x.end) for x in r] == [(0, 99), (100, 199), (200, 250)]
    assert [(x.start, x.end) for x in rpc.plan_ranges(5, 5, 100)] == [(5, 5)]


@pytest.mark.parametrize("lo,hi,step,n", [
    (0, 499, 100, 4), (7, 1006, 100, 4), (0, 19, 2, 4), (0, 19, 5, 4),
    (3, 3, 10, 4), (0, 250, 100, 8), (10, 9999, 7, 3), (0, 99, 10, 1),
])
def test_plan_packs_windows(lo, hi, step, n):
    """maxPartitions packs the blockStep windows: contiguous, covering
    [lo, hi] exactly, at most n partitions, and read() splits them back
    into the unpacked windows, each starting on the same grid."""
    opts = {"endpoint": "mock://head=99", "blockstep": str(step)}
    windows = [(w.start, w.end) for w in rpc.EvmLogsBatchReader(opts)._plan(lo, hi)]
    assert windows == [(w.start, w.end) for w in rpc.plan_ranges(lo, hi, step)]

    r = rpc.EvmLogsBatchReader({**opts, "maxpartitions": str(n)})
    parts = r._plan(lo, hi)
    assert len(parts) == min(n, len(windows))
    assert parts[0].start == lo and parts[-1].end == hi
    assert all(b.start == a.end + 1 for a, b in zip(parts, parts[1:]))
    sizes = [len(rpc.plan_ranges(p.start, p.end, step)) for p in parts]
    assert max(sizes) - min(sizes) <= 1
    assert [(w.start, w.end) for p in parts
            for w in rpc.plan_ranges(p.start, p.end, step)] == windows


@pytest.mark.parametrize("n", ["", "4"])
def test_plan_caught_up_is_one_empty_placeholder(n):
    r = rpc.EvmLogsBatchReader({"endpoint": "mock://head=99", "blockstep": "10",
                                "maxpartitions": n or "0"})
    parts = r._plan(50, 49)
    assert [(p.start, p.end) for p in parts] == [(50, 49)]
    assert list(r.read(parts[0])) == []


def test_mock_transport_deterministic():
    t = rpc.make_transport("mock://head=50,logs_per_block=2")
    logs1 = t.call("eth_getLogs", [{"fromBlock": "0x0", "toBlock": "0x4"}])
    logs2 = t.call("eth_getLogs", [{"fromBlock": "0x0", "toBlock": "0x4"}])
    assert logs1 == logs2 and len(logs1) == 10
    assert t.call("eth_blockNumber", []) == "0x32"


def test_batch_read_full_range(registered):
    df = (
        registered.read.format("evm_logs")
        .option("endpoint", "mock://head=99,logs_per_block=2")
        .option("fromBlock", "0")
        .option("blockStep", "25")
        .load()
    )
    assert df.count() == 200  # 100 blocks x 2 logs
    row = df.filter("block_number = 7 AND log_index = 1").collect()[0]
    assert row["topic0"].startswith("0x") and row["removed"] is False
    assert row["block_timestamp"] is None  # parity: never populated


def test_batch_read_bounded_and_poison_window(registered):
    # poison window (RPC -32602 analog) is skipped, not fatal (A4)
    df = (
        registered.read.format("evm_logs")
        .option("endpoint", "mock://head=99,logs_per_block=1,skip_from=10,skip_to=19")
        .option("fromBlock", "0")
        .option("toBlock", "49")
        .option("blockStep", "10")
        .load()
    )
    assert df.count() == 40  # 50 blocks minus the 10-block poison window


def test_stream_reader_admission_cap_unit():
    """A12/A13 planning math at the reader level: offsets, cap after the
    first observed batch, blockStep partition split."""
    r = rpc.EvmLogsStreamReader(
        {
            "endpoint": "mock://head=99",
            "fromblock": "0",
            "blockstep": "10",
            "maxblocksperbatch": "25",
        }
    )
    assert r.initialOffset() == {"next_block": 0}
    first = r.latestOffset()
    assert first == {"next_block": 100}  # first batch uncapped
    parts = r.partitions({"next_block": 0}, {"next_block": 30})
    assert [(p.start, p.end) for p in parts] == [(0, 9), (10, 19), (20, 29)]
    # cap engages once a batch start is known: 30 + 25 = 55
    assert r.latestOffset() == {"next_block": 55}


def test_streaming_tail_and_sink(registered, tmp_path):
    db = str(tmp_path / "ingest.duckdb")
    con = duckdb.connect(db)
    con.execute(upsert.LOGS_DDL_GENERIC)
    con.close()

    sdf = (
        registered.readStream.format("evm_logs")
        .option("endpoint", "mock://head=59,logs_per_block=2")
        .option("fromBlock", "0")
        .option("toBlock", "59")
        .option("blockStep", "20")
        .load()
    )
    writer = upsert.foreach_batch_upsert(
        "logs", LOGS_PK, lambda: duckdb.connect(db), parallel=False
    )
    q = (
        sdf.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    con = duckdb.connect(db)
    n, max_b = con.execute(
        "SELECT COUNT(*), MAX(block_number) FROM logs"
    ).fetchone()
    con.close()
    assert n == 120  # 60 blocks x 2 logs, exactly once
    assert max_b == 59

    # re-run with a fresh checkpoint: replay -> 0 new rows (idempotence)
    q2 = (
        sdf.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM logs").fetchone()[0] == 120
    con.close()


_RANGE_SOURCES = {
    # format: (reader class, extra options, row block numbers over [2, 5]
    # in steps of 2)
    "evm_logs": (rpc.EvmLogsBatchReader, {}, [2, 2, 3, 3, 4, 4, 5, 5]),
    "evm_blocks": (rpc.EvmBlocksBatchReader, {}, [2, 3, 4, 5]),
    "evm_price": (
        rpc.EvmPriceBatchReader, {"tokens": "0xtokenA", "oracles": "0xoracleA"}, [2, 4]
    ),
}


@pytest.mark.parametrize("fmt", sorted(_RANGE_SOURCES))
def test_blocks_source_and_head_clamp(registered, fmt):
    """Every block-range source shares one planner: without toBlock it
    clamps at the chain head; caught up (fromBlock > toBlock) it plans one
    empty placeholder partition and yields no rows."""
    spark = registered
    cls, extra, blocks = _RANGE_SOURCES[fmt]

    def load(**opts):
        reader = spark.read.format(fmt).option("endpoint", "mock://head=5")
        for k, v in {**extra, **opts}.items():
            reader = reader.option(k, v)
        return reader.load()

    def plan(**opts):
        # Spark hands a reader its options with lower-cased keys
        lower = {k.lower(): v for k, v in opts.items()}
        reader = cls({"endpoint": "mock://head=5", **extra, **lower})
        return [(p.start, p.end) for p in reader.partitions()]

    assert plan(fromBlock="2", blockStep="2") == [(2, 3), (4, 5)]  # clamped at head
    rows = load(fromBlock="2", blockStep="2").collect()
    assert sorted(r["block_number"] for r in rows) == blocks
    if fmt == "evm_blocks":
        # deterministic 12s cadence from the mock genesis
        ts = sorted((r["block_number"], r["block_timestamp"]) for r in rows)
        assert (ts[1][1] - ts[0][1]).total_seconds() == 12.0

    assert plan(fromBlock="7", toBlock="6") == [(7, 6)]  # caught up
    caught_up = load(fromBlock="7", toBlock="6")
    assert caught_up.rdd.getNumPartitions() == 1
    assert caught_up.count() == 0


def test_price_source(registered):
    df = (
        registered.read.format("evm_price")
        .option("endpoint", "mock://head=100")
        .option("tokens", "0xtokenA,0xtokenB")
        .option("oracles", "0xoracleA,0xoracleB")
        .option("fromBlock", "0")
        .option("toBlock", "99")
        .option("blockStep", "50")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4  # 2 windows x 2 pairs
    assert {r["block_number"] for r in rows} == {0, 50}
    assert all(r["price"] > 0 for r in rows)


def test_price_source_unequal_lists_fail_fast(registered):
    df = (
        registered.read.format("evm_price")
        .option("endpoint", "mock://head=10")
        .option("tokens", "0xa,0xb")
        .option("oracles", "0xo")
        .option("fromBlock", "0")
        .option("toBlock", "9")
        .load()
    )
    with pytest.raises(Exception, match="equal-length"):
        df.collect()


def test_retry_classification():
    """A4 taxonomy unit-level: skip vs raise."""
    t = rpc.make_transport("mock://head=10,skip_from=0,skip_to=5")
    with pytest.raises(rpc.SkipWindow):
        t.call("eth_getLogs", [{"fromBlock": "0x0", "toBlock": "0x2"}])
    with pytest.raises(rpc.RpcError):
        t.call("eth_unknownMethod", [])


def _start_scripted_server(fail_first: int):
    """Tiny live JSON-RPC server: first N requests get HTTP 503, then real
    responses from a MockTransport — exercises HttpTransport's retry path
    (A4, main.go:119-136) over an actual socket."""
    import http.server
    import json as _json
    import threading

    from evm_archive_spark.sources.rpc import MockTransport

    mock = MockTransport("mock://head=9,logs_per_block=1")
    state = {"calls": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            state["calls"] += 1
            if state["calls"] <= fail_first:
                self.send_response(503)
                self.end_headers()
                return
            body = _json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            result = mock.call(body["method"], body["params"])
            out = _json.dumps({"jsonrpc": "2.0", "id": body["id"], "result": result}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, state


def test_http_transport_retries_503_then_succeeds():
    from evm_archive_spark.sources.rpc import HttpTransport

    srv, state = _start_scripted_server(fail_first=2)
    try:
        t = HttpTransport(
            f"http://127.0.0.1:{srv.server_address[1]}",
            retry_seconds=0.01, max_retries=5,
        )
        head = t.call("eth_blockNumber", [])
        assert int(head, 16) == 9
        assert state["calls"] == 3  # two 503s + one success
    finally:
        srv.shutdown()


def test_http_transport_exhausts_retries():
    import urllib.error

    from evm_archive_spark.sources.rpc import HttpTransport

    srv, _ = _start_scripted_server(fail_first=10**9)
    try:
        t = HttpTransport(
            f"http://127.0.0.1:{srv.server_address[1]}",
            retry_seconds=0.0, max_retries=2,
        )
        with pytest.raises(urllib.error.HTTPError):
            t.call("eth_blockNumber", [])
    finally:
        srv.shutdown()


def test_batch_source_over_live_http(registered):
    spark = registered
    srv, _ = _start_scripted_server(fail_first=0)
    try:
        df = (
            spark.read.format("evm_logs")
            .option("endpoint", f"http://127.0.0.1:{srv.server_address[1]}")
            .option("fromBlock", "0")
            .option("toBlock", "9")
            .option("blockStep", "4")
            .load()
        )
        rows = df.collect()
        assert len(rows) == 10
        assert sorted(r["block_number"] for r in rows) == list(range(10))
    finally:
        srv.shutdown()
