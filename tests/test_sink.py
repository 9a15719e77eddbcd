"""Q-SC3 / Q-ST4: idempotent sink round-trip + ndjson ingestion replay.

Reproduces get_logs.go:118-132 semantics: PK + ON CONFLICT DO NOTHING,
second write inserts 0 rows.  DuckDB and sqlite3 stand in for Postgres
(same DDL/SQL shape); as connections without ``copy_in`` they take the
batched executemany INSERT writer (test_pg_live.py covers the COPY one)."""

from __future__ import annotations

import json

import duckdb
import pytest

from evm_archive_spark import fixtures
from evm_archive_spark.schemas import LOGS_PK
from evm_archive_spark.sinks import upsert
from evm_archive_spark.sources.transform import read_ndjson_logs


@pytest.fixture()
def duck_db(tmp_path):
    path = str(tmp_path / "sink.duckdb")
    con = duckdb.connect(path)
    con.execute(upsert.LOGS_DDL_GENERIC)
    con.close()
    return path


def _count(path):
    con = duckdb.connect(path)
    try:
        return con.execute("SELECT COUNT(*) FROM logs").fetchone()[0]
    finally:
        con.close()


def test_sink_idempotent_roundtrip(spark, duck_db):
    df = fixtures.logs_df(spark)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    factory = lambda: duckdb.connect(duck_db)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert r1.attempted == n_unique  # intra-batch dup PKs collapsed
    assert _count(duck_db) == n_unique

    # Q-SC3: second write inserts 0
    r2 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert r2.attempted == n_unique
    assert _count(duck_db) == n_unique


def test_sink_parallel_arrow_path(spark, tmp_path):
    """parallel=True ships rows executor->writer as Arrow RecordBatches
    (mapInArrow, not rdd.mapPartitions pickling).  sqlite3 stands in as the
    multi-process DBAPI target: each partition writer opens its own
    connection, file locking serializes commits."""
    import sqlite3

    db = str(tmp_path / "sink.sqlite")
    con = sqlite3.connect(db)
    con.execute(upsert.LOGS_DDL_GENERIC)
    con.commit()
    con.close()

    df = fixtures.logs_df(spark).repartition(4)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    factory = lambda: sqlite3.connect(db, timeout=60)  # noqa: E731

    r1 = upsert.write_conflict_ignore(df, "logs", LOGS_PK, factory, parallel=True)
    assert r1.attempted == n_unique
    assert r1.inserted == -1  # executemany rowcount is undefined by DBAPI

    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM logs").fetchone()[0] == n_unique
    con.close()

    # replay: ON CONFLICT DO NOTHING keeps the table stable
    upsert.write_conflict_ignore(df, "logs", LOGS_PK, factory, parallel=True)
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM logs").fetchone()[0] == n_unique
    con.close()


def test_insert_placeholder_from_paramstyle(monkeypatch):
    """The INSERT writer's placeholder is the connection module's PEP 249
    paramstyle; a style it cannot express positionally raises."""
    import sqlite3

    assert upsert._placeholder(sqlite3.connect(":memory:")) == "?"
    assert upsert._placeholder(duckdb.connect()) == "?"
    monkeypatch.setattr(sqlite3, "paramstyle", "named")
    with pytest.raises(TypeError, match="named"):
        upsert._placeholder(sqlite3.connect(":memory:"))


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


WIRE_FIXTURE = [
    {
        "address": fixtures.README_CONTRACT,
        "topics": [
            fixtures.TOPIC_TRANSFER,
            fixtures.ZERO_WORD,
            fixtures.addr_word(fixtures.README_TO_ADDR),
        ],
        "data": "0x" + fixtures.word_uint(fixtures.README_AMOUNT),
        "blockHash": "0xbh-1",
        "blockNumber": "0x364df",
        "transactionHash": "0xth-1",
        "transactionIndex": "0x6",
        "logIndex": "0x12",
        "removed": False,
    },
    {
        "address": fixtures.mk_addr(5),
        "topics": ["0x" + "ab" * 32],
        "data": "0x",
        "blockHash": "0xbh-2",
        "blockNumber": "0x364e0",
        "transactionHash": "0xth-2",
        "transactionIndex": "0x0",
        "logIndex": "0x0",
        "removed": False,
    },
    # exact duplicate of the first row (same PK) — replay semantics
    {
        "address": fixtures.README_CONTRACT,
        "topics": [
            fixtures.TOPIC_TRANSFER,
            fixtures.ZERO_WORD,
            fixtures.addr_word(fixtures.README_TO_ADDR),
        ],
        "data": "0x" + fixtures.word_uint(fixtures.README_AMOUNT),
        "blockHash": "0xbh-1",
        "blockNumber": "0x364df",
        "transactionHash": "0xth-1",
        "transactionIndex": "0x6",
        "logIndex": "0x12",
        "removed": False,
    },
]


def test_q_st4_ndjson_replay_batch(spark, tmp_path, duck_db):
    """ndjson capture (curl-get-logs-moonbeam-loop.sh format) -> source ->
    transform -> idempotent sink; re-run inserts 0 (Q-ST4, batch mode)."""
    nd = str(tmp_path / "logs.ndjson")
    _write_ndjson(nd, WIRE_FIXTURE)

    out = read_ndjson_logs(spark, nd)
    rows = {tuple(r[k] for k in LOGS_PK) for r in out.collect()}
    assert len(rows) == 2  # wire dup collapses by PK

    factory = lambda: duckdb.connect(duck_db)  # noqa: E731
    upsert.write_conflict_ignore(out, "logs", LOGS_PK, factory, parallel=False)
    assert _count(duck_db) == 2

    # transform semantics survived the round trip
    con = duckdb.connect(duck_db)
    got = con.execute(
        "SELECT address, topic1, data, block_number, transaction_index, log_index "
        "FROM logs ORDER BY block_number"
    ).fetchall()
    con.close()
    assert got[0][3] == 222431 and got[0][4] == 6 and got[0][5] == 18
    assert got[1][1] == ""  # absent topic -> '' (get_logs.go:40-43)
    assert got[1][2] is None  # '0x' payload -> NULL (get_logs.go:44-46)

    # replay again -> 0 new rows
    upsert.write_conflict_ignore(out, "logs", LOGS_PK, factory, parallel=False)
    assert _count(duck_db) == 2


def test_q_st4_streaming_replay(spark, tmp_path, duck_db):
    """Same replay through a real file stream + foreachBatch upsert."""
    from evm_archive_spark.schemas import LOG_RPC_SCHEMA
    from evm_archive_spark.sources.transform import log_rpc_to_log_db

    nd_dir = tmp_path / "stream_in"
    nd_dir.mkdir()
    _write_ndjson(str(nd_dir / "batch1.ndjson"), WIRE_FIXTURE)

    wire = spark.readStream.schema(LOG_RPC_SCHEMA).json(str(nd_dir))
    out = log_rpc_to_log_db(wire)

    results = {}
    writer = upsert.foreach_batch_upsert(
        "logs",
        LOGS_PK,
        lambda: duckdb.connect(duck_db),
        parallel=False,
        on_result=lambda bid, res: results.update({bid: res}),
    )
    q = (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _count(duck_db) == 2
    assert results  # at least one batch reported

    # second stream run over the same input dir, fresh checkpoint -> replay
    q2 = (
        out.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert _count(duck_db) == 2  # idempotent: 0 new rows
