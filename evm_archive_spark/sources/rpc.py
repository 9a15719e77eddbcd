"""EVM JSON-RPC sources as PySpark DataSources (reference A1-A4, A12-A13).

The reference's entire ingestion is a single-threaded Go loop: poll
``eth_blockNumber``, fetch ``eth_getLogs`` for a ``blockStep`` window,
upsert, advance (main.go:217-241).  Re-architected for Spark
(SURVEY §3.1 'Spark re-architecture'):

- the *driver* plans offsets: ``initialOffset`` = resume cursor (A10/A11),
  ``latestOffset`` = chain head clamped by the admission cap (A2/A12);
- *executors* fetch in parallel: the window splits into ``blockStep``-sized
  windows, each an independent ``eth_getLogs`` call with the retry
  taxonomy (A4) — horizontal fetch parallelism the reference lacks (its §6
  ceiling is one window per RTT; ours is one window per RTT *per task*).
  The ``maxPartitions`` option packs contiguous windows into at most that
  many ``InputPartition``s (one Python task each), so a catch-up of many
  windows runs in one wave of tasks; unset, each window is a partition;
- rows come out in the storage shape (A5-A7 applied in the reader), as
  Arrow batches from every reader;
- a logs or price partition keeps the first row of each dedup key
  (``LOGS_PK + removed``, ``PRICE_PK``) across its windows, so the sink
  write needs no dedup shuffle;
- the sink side composes with ``sinks.upsert.foreach_batch_upsert``.

Two faces read the same readers.  ``register`` makes the ``DataSource``
classes ``spark.read.format("evm_*")`` / ``spark.readStream.format(...)``
sources, planned by Python planner processes that Spark starts on the
driver.  ``read_batch`` plans a batch read in the driver process itself
and reads it in one ``mapInArrow`` job, with the same rows and partitions
and no planner process: the pipeline's batch reads use it.

The transport is selected by endpoint scheme: ``http(s)://`` uses stdlib
urllib (no extra deps); ``mock://`` is a deterministic in-process fake
(hash-derived logs per block) so every moving part is testable offline —
the test strategy the reference lacks entirely (SURVEY §5.1: zero tests).

Retry taxonomy (main.go:93-160 parity):
- HTTP 429/503/504 and transport errors -> sleep ``retry_seconds``, retry
  (bounded by ``max_retries``; the reference retries forever);
- RPC error code -32602 -> skip the window, emit nothing (main.go:141-143)
  but one WARNING naming the source, the block range and the node's message;
- any other RPC error -> raise (the reference log.Fatalf's, main.go:145).
"""

from __future__ import annotations

import hashlib
import json
import logging
import operator
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from pyspark import SparkFiles
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..schemas import BLOCKS_SCHEMA, LOGS_PK, LOGS_SCHEMA, PRICE_PK, PRICE_SCHEMA

if SparkFiles._is_running_on_worker:
    # a Python worker unpickling an evm_* source.  The data source planner
    # forks run under a fixed pyspark.daemon, which spark.python.daemon.module
    # does not reach: give this process the stamped zip cache, so a reused
    # worker skips the pyspark.zip re-reads from its next call on
    from .. import pydaemon

    pydaemon.install()

logger = logging.getLogger(__name__)

RETRYABLE_HTTP = {429, 503, 504}
SKIP_RPC_CODE = -32602  # skip window, no retry (main.go:141-143)
LATEST_ANSWER_SELECTOR = "0x50d25bcd"  # Chainlink latestAnswer() (get_price.go:46)


class RpcError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(f"RPC error {code}: {message}")
        self.code = code


class SkipWindow(Exception):
    """-32602: this window is poison; skip it without retry."""


def _hex(n: int) -> str:
    return hex(n)


def _from_hex(h: str) -> int:
    return int(h.replace("0x", ""), 16)


class HttpTransport:
    """POST JSON-RPC over stdlib urllib with the A4 retry policy."""

    def __init__(self, endpoint: str, retry_seconds: float = 10.0, max_retries: int = 30):
        self.endpoint = endpoint
        self.retry_seconds = retry_seconds
        self.max_retries = max_retries

    def call(self, method: str, params: list) -> object:
        payload = json.dumps(
            {"jsonrpc": "2.0", "id": 1, "method": method, "params": params}
        ).encode()
        attempts = 0
        while True:
            attempts += 1
            try:
                req = urllib.request.Request(
                    self.endpoint,
                    data=payload,
                    headers={"Content-Type": "application/json"},
                )
                with urllib.request.urlopen(req, timeout=60) as resp:
                    body = json.loads(resp.read())
            except urllib.error.HTTPError as e:
                if e.code in RETRYABLE_HTTP and attempts <= self.max_retries:
                    time.sleep(self.retry_seconds)
                    continue
                raise
            except (urllib.error.URLError, TimeoutError, ConnectionError):
                if attempts <= self.max_retries:
                    time.sleep(self.retry_seconds)
                    continue
                raise
            err = body.get("error")
            if err is not None:
                code = err.get("code")
                if code == SKIP_RPC_CODE:
                    raise SkipWindow(err.get("message", ""))
                raise RpcError(code, err.get("message", ""))
            if "result" not in body:
                if attempts <= self.max_retries:
                    time.sleep(self.retry_seconds)
                    continue
                raise RpcError(-1, "nil response")
            return body["result"]


class MockTransport:
    """Deterministic offline chain: ``mock://head=<n>,logs_per_block=<k>``.

    Every moving part of the source (offsets, partition planning, decode,
    retry interplay with SkipWindow) exercises against this without a
    network.  Log content derives from sha256(block, index) so any two
    readers agree."""

    def __init__(self, endpoint: str):
        opts = {}
        spec = endpoint.split("://", 1)[1] if "://" in endpoint else ""
        for kv in filter(None, spec.split(",")):
            k, v = kv.split("=", 1)
            opts[k] = v
        self.head = int(opts.get("head", "1000"))
        self.logs_per_block = int(opts.get("logs_per_block", "2"))
        self.skip_from = int(opts.get("skip_from", "-1"))
        self.skip_to = int(opts.get("skip_to", "-1"))
        # reorg simulation: scans whose window contains block
        # ``reorg_seen_from`` ALSO re-deliver block ``reorg_block``'s
        # logs with removed=true and identical PKs — how a real node
        # reports a reorged-out log on a later poll (the tombstones the
        # reference stores verbatim, get_logs.go:52)
        self.reorg_block = int(opts.get("reorg_block", "-1"))
        self.reorg_seen_from = int(opts.get("reorg_seen_from", "-1"))

    @staticmethod
    def _h(*parts) -> str:
        return hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()

    def _log(self, block: int, i: int) -> dict:
        h = self._h
        return {
            "address": "0x" + h("addr", block, i)[:40],
            "topics": ["0x" + h("t0", block, i), "0x" + h("t1", block, i)],
            "data": "0x" + h("data", block, i).zfill(64),
            "blockHash": "0x" + h("bh", block),
            "blockNumber": _hex(block),
            "transactionHash": "0x" + h("th", block, i),
            "transactionIndex": _hex(i),
            "logIndex": _hex(i),
            "removed": False,
        }

    def _poison(self, lo: int, hi: int) -> None:
        """``skip_from``/``skip_to``: every call at a block in that range
        answers -32602."""
        if self.skip_from >= 0 and lo <= self.skip_to and hi >= self.skip_from:
            raise SkipWindow("mock poison window")

    def call(self, method: str, params: list) -> object:
        if method == "eth_blockNumber":
            return _hex(self.head)
        if method == "eth_getLogs":
            q = params[0]
            lo, hi = _from_hex(q["fromBlock"]), _from_hex(q["toBlock"])
            self._poison(lo, hi)
            out = []
            addresses = q.get("address")
            for b in range(lo, hi + 1):
                for i in range(self.logs_per_block):
                    log = self._log(b, i)
                    if addresses and log["address"] not in addresses:
                        continue
                    out.append(log)
            if (
                self.reorg_block >= 0
                and self.reorg_seen_from >= 0
                and lo <= self.reorg_seen_from <= hi
            ):
                for i in range(self.logs_per_block):
                    log = self._log(self.reorg_block, i)
                    if addresses and log["address"] not in addresses:
                        continue
                    log["removed"] = True
                    out.append(log)
            return out
        if method == "eth_call":
            to = params[0]["to"]
            block = _from_hex(params[1])
            self._poison(block, block)
            price = int(self._h("price", to, block)[:12], 16)
            return "0x" + format(price, "064x")
        if method == "eth_getBlockByNumber":
            block = _from_hex(params[0])
            self._poison(block, block)
            if block > self.head:
                return None  # geth returns null for unknown blocks
            # deterministic 12s block time from a fixed genesis
            return {
                "number": _hex(block),
                "hash": "0x" + self._h("bh", block),
                "timestamp": _hex(1_600_000_000 + block * 12),
            }
        raise RpcError(-32601, f"unknown method {method}")


def make_transport(endpoint: str, retry_seconds: float = 10.0, max_retries: int = 30):
    if endpoint.startswith("mock://"):
        return MockTransport(endpoint)
    return HttpTransport(endpoint, retry_seconds, max_retries)


def chain_head(transport) -> int:
    """A2: the chain head, from ``eth_blockNumber``."""
    return _from_hex(transport.call("eth_blockNumber", []))


# --------------------------------------------------------------------------
# shared planning + row materialization
# --------------------------------------------------------------------------

@dataclass
class BlockRange(InputPartition):
    start: int
    end: int  # inclusive, like the reference's [fromBlock, toBlock]


def plan_ranges(start: int, end: int, step: int) -> list[BlockRange]:
    """A12 window planner generalized to N parallel windows: split
    [start, end] into blockStep-sized inclusive sub-ranges."""
    return [
        BlockRange(lo, min(lo + step - 1, end)) for lo in range(start, end + 1, step)
    ]


def _wire_to_row(log: dict) -> tuple:
    """A5-A7 applied in the reader (same semantics as transform.py)."""
    topics = log.get("topics") or []
    t = [topics[i] if i < len(topics) else "" for i in range(4)]
    data = log.get("data")
    if data in ("0x", ""):
        data = None
    return (
        log.get("address"),
        t[0],
        t[1],
        t[2],
        t[3],
        data,
        log.get("blockHash"),
        _from_hex(log["blockNumber"]),
        log.get("transactionHash"),
        _from_hex(log.get("transactionIndex", "0x0")),
        _from_hex(log.get("logIndex", "0x0")),
        bool(log.get("removed", False)),
        None,
    )


def _skipped(source: str, lo: int, hi: int, err: SkipWindow) -> None:
    """The one record a poison window leaves: it yields no rows."""
    logger.warning("%s: skipped blocks [%d, %d]: %s", source, lo, hi, err)


# Arrow forms of LOGS_SCHEMA / BLOCKS_SCHEMA / PRICE_SCHEMA.  Both the
# Python DataSource API and ``mapInArrow`` accept ``pyarrow.RecordBatch``
# yields from ``read()``; one Arrow buffer per batch replaces one pickled
# tuple per row — the round-1 q_ingest_source bottleneck (1.85k rows/s vs
# 151k on the JVM path).  ``block_timestamp`` is ``timestamp[us, UTC]``.
_ARROW_LOGS = to_arrow_schema(LOGS_SCHEMA)
_ARROW_BLOCKS = to_arrow_schema(BLOCKS_SCHEMA)
_ARROW_PRICE = to_arrow_schema(PRICE_SCHEMA)

# The dedup keys of the logs and price rows, as their positions in the
# reader's row tuples: a log row per ``LOGS_PK + removed`` (a reorg
# re-delivers a PK with removed=true, and both rows are kept,
# get_logs.go:52), a price row per ``PRICE_PK``.
_LOGS_KEY = operator.itemgetter(*(LOGS_SCHEMA.names.index(c) for c in LOGS_PK + ["removed"]))
_PRICE_KEY = operator.itemgetter(*(PRICE_SCHEMA.names.index(c) for c in PRICE_PK))


def _first(rows, key):
    """The first of the rows that share a ``key(row)``, in order."""
    seen = set()
    for r in rows:
        k = key(r)
        if k not in seen:
            seen.add(k)
            yield r


def _rows_to_batches(rows, schema, max_rows: int = 8192):
    """Transpose row tuples into Arrow RecordBatches of <= max_rows."""
    import pyarrow as pa

    buf: list[tuple] = []

    def emit():
        cols = list(zip(*buf)) if buf else [[] for _ in schema]
        return pa.RecordBatch.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )

    for r in rows:
        buf.append(r)
        if len(buf) >= max_rows:
            yield emit()
            buf.clear()
    if buf:
        yield emit()


def _opts(options) -> dict:
    return {
        "endpoint": options.get("endpoint"),
        "contracts": [
            c for c in (options.get("contracts") or "").split(",") if c
        ],
        "from_block": int(options.get("fromblock", "0")),
        "to_block": int(options.get("toblock", "-1")),
        "block_step": int(options.get("blockstep", "100")),  # main.go:77 default
        # <= 0: one partition per window
        "max_partitions": int(options.get("maxpartitions", "0")),
        # <= 0 = uncapped.  The cap is admission control for *continuous*
        # tail-follow (processingTime trigger), where the reader observes
        # batch starts and clamps the next window.  Leave 0 for
        # availableNow backfills: that trigger snapshots latestOffset once,
        # so a cap would truncate the run (use the batch reader for large
        # backfills anyway — it partitions the whole range).
        "max_blocks_per_batch": int(options.get("maxblocksperbatch", "0")),
        "retry_seconds": float(options.get("retryseconds", "10")),
        "max_retries": int(options.get("maxretries", "30")),
    }


# --------------------------------------------------------------------------
# block-range readers: one base for every source, batch and stream
# --------------------------------------------------------------------------

class _BlockRangeReader:
    """What every block-range reader shares: its options, its transport,
    ``blockStep`` window planning and packing, the empty-range guard, and
    a partition's Arrow batches.  A subclass supplies ``_rows(transport,
    rng)``, the row tuples of one window, their Arrow schema ``_arrow``,
    and an optional dedup ``_key``; ``partitions()`` is the batch planner
    (a stream reader plans from its offsets instead)."""

    _key = None

    def __init__(self, options):
        self.o = _opts(options)

    def _transport(self):
        o = self.o
        return make_transport(o["endpoint"], o["retry_seconds"], o["max_retries"])

    def _plan(self, lo: int, hi: int) -> list[BlockRange]:
        """The ``blockStep`` windows over [lo, hi], packed contiguously and
        evenly into at most ``maxPartitions`` partitions, each the block
        range its windows cover; ``read`` splits it back into the same
        windows."""
        step, most = self.o["block_step"], self.o["max_partitions"]
        windows = len(range(lo, hi + 1, step))
        if not windows:
            # already caught up: the DataSource API needs >= 1 partition,
            # so plan one empty placeholder range
            return [BlockRange(lo, lo - 1)]
        parts = min(windows, most) if most > 0 else windows
        # partition i takes windows [i*windows//parts, (i+1)*windows//parts)
        cuts = [lo + i * windows // parts * step for i in range(parts + 1)]
        return [BlockRange(a, min(b - 1, hi)) for a, b in zip(cuts, cuts[1:])]

    def partitions(self):
        o = self.o
        end = o["to_block"]
        if end < 0:
            end = chain_head(self._transport())  # A2 head clamp
        return self._plan(o["from_block"], end)

    def read(self, partition: BlockRange):
        """The rows of the partition's windows, in order, keeping the first
        row of each ``_key`` across all of them: the write needs no dedup
        shuffle (see ``pipeline``)."""
        t = self._transport()
        rows = (r for rng in plan_ranges(partition.start, partition.end, self.o["block_step"])
                for r in self._rows(t, rng))
        if self._key is not None:
            rows = _first(rows, self._key)
        return _rows_to_batches(rows, self._arrow)


class _LogsReader(_BlockRangeReader):
    """One ``eth_getLogs`` call per window (A1); a -32602 window yields
    no rows."""

    _arrow, _key = _ARROW_LOGS, _LOGS_KEY

    def _rows(self, t, rng: BlockRange):
        query = {"fromBlock": _hex(rng.start), "toBlock": _hex(rng.end)}
        if self.o["contracts"]:
            query["address"] = self.o["contracts"]
        try:
            logs = t.call("eth_getLogs", [query])
        except SkipWindow as e:
            _skipped("evm_logs", rng.start, rng.end, e)
            return
        for log in logs:
            yield _wire_to_row(log)


class EvmLogsBatchReader(_LogsReader, DataSourceReader):
    """Bounded backfill over the planned windows."""


class EvmLogsStreamReader(_LogsReader, DataSourceStreamReader):
    """Tail-follow: block-number offsets, same windows as the batch reader."""

    def initialOffset(self) -> dict:
        # A11: start = FROM_BLOCK arg; resume-from-sink reconciliation is
        # the caller's job (read max(block_number) and pass fromBlock).
        return {"next_block": self.o["from_block"]}

    def latestOffset(self) -> dict:
        # A2 + A12: chain head (+1, offsets are exclusive end), optionally
        # clamped by the admission cap (maxOffsetsPerTrigger analog) once a
        # batch start has been observed.  The first batch after a restart
        # runs uncapped — the Python stream API exposes no start offset
        # here, and under-reporting would stall availableNow runs.
        o = self.o
        head = chain_head(self._transport())
        if o["to_block"] >= 0:
            head = min(head, o["to_block"])
        latest = head + 1
        cap = o["max_blocks_per_batch"]
        if cap > 0 and hasattr(self, "_next_start"):
            latest = min(latest, self._next_start + cap)
        return {"next_block": max(latest, o["from_block"])}

    def partitions(self, start: dict, end: dict):
        self._next_start = end["next_block"]
        return self._plan(start["next_block"], end["next_block"] - 1)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the Spark checkpoint (A10 analog)


class EvmLogsDataSource(DataSource):
    """``spark.read.format("evm_logs")`` / ``spark.readStream.format(...)``.

    Options: endpoint, contracts (CSV), fromBlock, toBlock, blockStep,
    maxBlocksPerBatch, retrySeconds, maxRetries — the reference's env
    surface (A14, main.go:18-91) as reader options — and maxPartitions
    (unset: one partition per ``blockStep`` window)."""

    @classmethod
    def name(cls):
        return "evm_logs"

    def schema(self) -> StructType:
        return LOGS_SCHEMA

    def reader(self, schema):
        return EvmLogsBatchReader(self.options)

    def streamReader(self, schema):
        return EvmLogsStreamReader(self.options)


# --------------------------------------------------------------------------
# price probe source (A3/A9)
# --------------------------------------------------------------------------

class EvmPriceBatchReader(_BlockRangeReader, DataSourceReader):
    """One row (token, block, price) per (token, oracle) pair per window
    start — the reference's price probe (get_price.go:31-50, main.go:191-198)
    generalized to a partition per window.  A token listed twice keeps the
    probe of its first oracle: windows never share a start block, so that
    is one row per ``PRICE_PK``."""

    _arrow, _key = _ARROW_PRICE, _PRICE_KEY

    def __init__(self, options):
        super().__init__(options)
        self.tokens = [t for t in (options.get("tokens") or "").split(",") if t]
        self.oracles = [t for t in (options.get("oracles") or "").split(",") if t]
        if len(self.tokens) != len(self.oracles):
            # the reference panics on index (main.go:192-193); we fail early
            raise ValueError("tokens and oracles must be equal-length CSVs")

    def _rows(self, t, rng: BlockRange):
        from decimal import Decimal

        as_of = rng.start  # price sampled at window start (main.go:196)
        for token, oracle in zip(self.tokens, self.oracles):
            try:
                res = t.call(
                    "eth_call",
                    [{"to": oracle, "data": LATEST_ANSWER_SELECTOR}, _hex(as_of)],
                )
            except SkipWindow as e:
                _skipped("evm_price", rng.start, rng.end, e)
                continue
            if not isinstance(res, str) or len(res) != 66:
                continue  # validity check (get_price.go:59-66)
            yield (token, as_of, Decimal(int(res, 16)))


class EvmPriceDataSource(DataSource):
    @classmethod
    def name(cls):
        return "evm_price"

    def schema(self) -> StructType:
        return PRICE_SCHEMA

    def reader(self, schema):
        return EvmPriceBatchReader(self.options)


# --------------------------------------------------------------------------
# block-header source (timestamp enrichment — §7 extension; the reference
# declares block_timestamp but never populates it, get_logs.go:118-119)
# --------------------------------------------------------------------------

class EvmBlocksBatchReader(_BlockRangeReader, DataSourceReader):
    """One row (block_number, block_hash, block_timestamp) per block —
    ``eth_getBlockByNumber`` fetched per block within partition-parallel
    block sub-ranges (same planning as the logs source)."""

    _arrow = _ARROW_BLOCKS

    def _rows(self, t, rng: BlockRange):
        import datetime as dt

        for block in range(rng.start, rng.end + 1):
            try:
                hdr = t.call("eth_getBlockByNumber", [_hex(block), False])
            except SkipWindow as e:
                _skipped("evm_blocks", block, block, e)
                continue
            if not hdr:
                continue
            yield (
                _from_hex(hdr["number"]),
                hdr.get("hash"),
                dt.datetime.fromtimestamp(
                    _from_hex(hdr["timestamp"]), dt.timezone.utc
                ).replace(tzinfo=None),
            )


class EvmBlocksDataSource(DataSource):
    @classmethod
    def name(cls):
        return "evm_blocks"

    def schema(self) -> StructType:
        return BLOCKS_SCHEMA

    def reader(self, schema):
        return EvmBlocksBatchReader(self.options)


def enrich_block_timestamps(logs_df, blocks_df):
    """Fill the reference's always-NULL ``block_timestamp`` by joining block
    headers on ``block_number``.

    Scale shape: both sides are (or should be stored) partitioned by block
    range, so the equi-join co-locates; for a streaming micro-batch the
    header side is tiny (one row per block in the window) and broadcasts."""
    from pyspark.sql import functions as F

    hdr = blocks_df.select(
        "block_number", F.col("block_timestamp").alias("__bts")
    )
    return (
        logs_df.drop("block_timestamp")
        .join(hdr, "block_number", "left")
        .withColumn("block_timestamp", F.col("__bts"))
        .drop("__bts")
    )


_SOURCES = {
    cls.name(): cls for cls in (EvmLogsDataSource, EvmBlocksDataSource, EvmPriceDataSource)
}


def register(spark) -> None:
    """Register the ``evm_*`` sources for ``spark.read.format`` and
    ``spark.readStream.format``."""
    for cls in _SOURCES.values():
        spark.dataSource.register(cls)


def read_batch(spark, fmt: str, options: dict):
    """``spark.read.format(fmt).options(**options).load()`` for an ``evm_*``
    source, planned on the driver.  The source's own reader plans the
    partitions here, so no Python planner process starts and the source
    needs no ``register``; one ``mapInArrow`` task per partition then calls
    ``reader.read`` on it.  Rows and partition count are those of the
    ``spark.read`` path."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    source = _SOURCES[fmt](CaseInsensitiveDict(options))
    schema = source.schema()
    reader = source.reader(schema)
    parts = reader.partitions()

    def read(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from reader.read(parts[i])

    return spark.range(0, len(parts), 1, len(parts)).mapInArrow(read, schema)
