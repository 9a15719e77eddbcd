"""``rpc.read_batch``: the ``evm_*`` batch read planned on the driver.

It must return the rows and the partition count of the registered
``spark.read.format`` path, and a ``run_batch`` catch-up built on it must
start no Python data source planner."""

from __future__ import annotations

import logging

import pytest

from evm_archive_spark.schemas import LOGS_PK, PRICE_PK
from evm_archive_spark.sources import rpc

_EXTRA = {
    "evm_logs": {},
    "evm_blocks": {},
    "evm_price": {"tokens": "0xtokenA,0xtokenB", "oracles": "0xoracleA,0xoracleB"},
}


def _contracts() -> str:
    """Two of the addresses the mock chain emits in blocks [0, 19]."""
    t = rpc.MockTransport("mock://head=19,logs_per_block=3")
    logs = t.call("eth_getLogs", [{"fromBlock": "0x0", "toBlock": "0x13"}])
    return ",".join(sorted({log["address"] for log in logs})[:2])


_CASES = {
    "multi_window": {"endpoint": "mock://head=99,logs_per_block=2",
                     "fromBlock": "3", "toBlock": "41", "blockStep": "5"},
    "caught_up": {"endpoint": "mock://head=99", "fromBlock": "50", "toBlock": "49",
                  "blockStep": "5"},
    "head_clamp": {"endpoint": "mock://head=12,logs_per_block=1", "fromBlock": "0",
                   "blockStep": "5"},
    "poison_window": {"endpoint": "mock://head=99,logs_per_block=1,skip_from=10,skip_to=19",
                      "fromBlock": "0", "toBlock": "39", "blockStep": "10"},
    "contracts": {"endpoint": "mock://head=19,logs_per_block=3", "fromBlock": "0",
                  "toBlock": "19", "blockStep": "4", "contracts": _contracts()},
    "packed": {"endpoint": "mock://head=99,logs_per_block=2", "fromBlock": "0",
               "toBlock": "19", "blockStep": "2", "maxPartitions": "3"},
}


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize("fmt", sorted(_EXTRA))
def test_read_batch_matches_the_registered_source(spark, fmt, case):
    rpc.register(spark)
    opts = {**_CASES[case], **_EXTRA[fmt]}
    want = spark.read.format(fmt).options(**opts).load()
    got = rpc.read_batch(spark, fmt, opts)
    assert got.schema == want.schema
    assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_read_batch_cases_are_not_vacuous():
    """The cases hit what they name: several windows, the empty
    placeholder, a skipped window, a narrowing filter, packing."""
    def parts(case):
        return rpc.EvmLogsBatchReader({k.lower(): v for k, v in _CASES[case].items()}).partitions()

    assert len(parts("multi_window")) == 8
    assert [(p.start, p.end) for p in parts("caught_up")] == [(50, 49)]
    assert parts("head_clamp")[-1].end == 12
    assert len(parts("packed")) == 3
    assert len(_contracts().split(",")) == 2


@pytest.mark.parametrize("fmt,opts,skipped", [
    ("evm_logs", {}, [("evm_logs", 10, 19)]),
    ("evm_price", {"tokens": "0xtokenA", "oracles": "0xoracleA"}, [("evm_price", 10, 19)]),
    ("evm_blocks", {}, [("evm_blocks", b, b) for b in range(10, 20)]),
])
def test_skipped_window_logs_a_warning(caplog, fmt, opts, skipped):
    """A -32602 window yields no rows and leaves one WARNING per skipped
    call: the source, the block range and the node's message."""
    reader = rpc._SOURCES[fmt]({
        "endpoint": "mock://head=99,logs_per_block=1,skip_from=10,skip_to=19",
        "fromblock": "0", "toblock": "29", "blockstep": "10", **opts,
    }).reader(None)
    with caplog.at_level(logging.WARNING, logger=rpc.__name__):
        batches = [b for p in reader.partitions() for b in reader.read(p)]
    blocks = sorted(n for b in batches for n in b.column("block_number").to_pylist())
    assert not [n for n in blocks if 10 <= n <= 19]
    assert blocks
    assert [r.getMessage() for r in caplog.records] == [
        f"{src}: skipped blocks [{lo}, {hi}]: mock poison window" for src, lo, hi in skipped
    ]
    assert all(r.levelno == logging.WARNING for r in caplog.records)


def test_run_batch_starts_no_planner(spark, tmp_path, monkeypatch):
    """A catch-up with enrichment, tokens and oracles never registers a
    source nor reads one through ``spark.read.format``, and lands the rows
    of that path: the logs deduped and enriched from the header source,
    and the price probes."""
    from pyspark.sql import DataFrameReader

    from evm_archive_spark.pipeline import env_config, run_batch

    endpoint = "mock://head=19,logs_per_block=2,reorg_block=3,reorg_seen_from=12"
    cfg = env_config({
        "EVM_ARCHIVE_ENDPOINT": endpoint, "EVM_ARCHIVE_FROM_BLOCK": "0",
        "EVM_ARCHIVE_TO_BLOCK": "19", "EVM_ARCHIVE_BLOCK_STEP": "5",
        "EVM_ARCHIVE_TOKENS": "0xtokenA,0xtokenB", "EVM_ARCHIVE_ORACLES": "0xoracleA,0xoracleB",
        "EVM_ARCHIVE_ENRICH_TIMESTAMPS": "1", "EVM_ARCHIVE_OUT": str(tmp_path / "out"),
    })

    def load(fmt, **extra):
        opts = {"endpoint": endpoint, "fromBlock": "0", "toBlock": "19", "blockStep": "5"}
        return spark.read.format(fmt).options(**opts, **extra).load()

    rpc.register(spark)
    logs = rpc.enrich_block_timestamps(
        load("evm_logs").dropDuplicates(LOGS_PK + ["removed"]), load("evm_blocks"))
    want_logs = sorted(map(tuple, logs.collect()))
    price = load("evm_price", tokens=cfg["tokens"], oracles=cfg["oracles"])
    want_price = sorted(map(tuple, price.dropDuplicates(PRICE_PK).collect()))

    def refuse(*a, **kw):
        raise AssertionError("run_batch registered a Python data source")

    fmt = DataFrameReader.format

    def no_evm_format(self, source):
        if source.startswith("evm_"):
            raise AssertionError(f"run_batch read {source} through spark.read.format")
        return fmt(self, source)

    monkeypatch.setattr(rpc, "register", refuse)
    monkeypatch.setattr(DataFrameReader, "format", no_evm_format)
    counts = run_batch(spark, cfg)

    out = tmp_path / "out"
    sink = {t: sorted(map(tuple, spark.read.parquet(str(out / t)).drop("ingest_batch").collect()))
            for t in ("logs", "price")}
    assert sink == {"logs": want_logs, "price": want_price}
    assert counts == {"logs": len(want_logs), "price": len(want_price)}
    assert any(r[-1] is not None for r in want_logs)
