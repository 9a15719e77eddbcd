"""Drop-in pipeline runner: the reference's whole `main()` as one call.

Reads the same `EVM_ARCHIVE_*` environment surface (main.go:18-91, A14),
runs the logs + price ingestion through the Spark sources, and lands rows
in an idempotent sink.  A user of the reference can point this at the same
endpoint/env and get the same tables — plus horizontal fetch parallelism,
a parquet archive, and optional timestamp enrichment the reference lacks.

Env (identical names/defaults to the reference; example.env:1-28):

- ``EVM_ARCHIVE_ENDPOINT``       default http://localhost:8545 (main.go:20-24)
- ``EVM_ARCHIVE_CONTRACTS``      CSV filter, optional (main.go:35-38)
- ``EVM_ARCHIVE_TOKENS`` / ``EVM_ARCHIVE_ORACLES`` equal-length CSVs (main.go:40-50)
- ``EVM_ARCHIVE_FROM_BLOCK``     default 0 (main.go:52-58)
- ``EVM_ARCHIVE_TO_BLOCK``       default "infinity" — here: chain head at
  launch for the bounded batch run (main.go:60-68)
- ``EVM_ARCHIVE_BLOCK_STEP``     default 100 (main.go:70-78)
- ``EVM_ARCHIVE_SLEEP_SECONDS``  default 5 — streaming trigger interval (main.go:80-88)

Spark-side additions:

- ``EVM_ARCHIVE_OUT``            parquet output dir (default ./evm_archive_out)
- ``EVM_ARCHIVE_STREAM``         "1" → tail-follow via Structured Streaming
  with a processingTime trigger of SLEEP_SECONDS (A13); default bounded
  batch backfill (availableNow semantics)

Sink contract.  The reference's loop (poll the head, ``eth_getLogs`` per
``blockStep`` window, upsert, advance; main.go:217-241) both backfills and
tails.  Here one *ingest unit* (``_ingest_unit``) lands the logs of a block
range ``[lo, hi]`` and the price probes over it; ``run_batch`` runs one
unit over [resume start, toBlock or the head], and ``run_stream`` one per
non-empty micro-batch, over the blocks it carries.  Every unit:

- dedups logs on ``LOGS_PK + removed``: a reorg re-delivers a log's PK with
  removed=true, and the row and its tombstone are both stored
  (get_logs.go:52); ``read_sink`` resolves them at read time.  Prices dedup
  on ``PRICE_PK``;
- overwrites only its own ``ingest_batch=<key>`` partition
  (``_write_idempotent``).  A ``run_batch`` unit's key is its start block
  (>= 0), a micro-batch's is ``-1 - batch_id`` (< 0): the two never meet, a
  replayed micro-batch rewrites only its own partition, and a later unit
  carrying tombstones for old blocks never rewrites an earlier one;
- calls ``publish('logs')`` / ``publish('price')`` after the matching write
  commits.  A listener that raises is logged with its traceback and never
  fails the unit.

``run_batch`` resumes from the sink's max block + 1, ``run_stream`` from
its checkpoint (on first start, from the sink's max block + 1).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from .schemas import LOGS_PK, PRICE_PK
from .sources import rpc

log = logging.getLogger(__name__)


def env_config(env: dict | None = None) -> dict:
    e = env if env is not None else os.environ
    return {
        "endpoint": e.get("EVM_ARCHIVE_ENDPOINT", "http://localhost:8545"),
        "contracts": e.get("EVM_ARCHIVE_CONTRACTS", ""),
        "tokens": e.get("EVM_ARCHIVE_TOKENS", ""),
        "oracles": e.get("EVM_ARCHIVE_ORACLES", ""),
        "from_block": int(e.get("EVM_ARCHIVE_FROM_BLOCK", "0")),
        "to_block": int(e.get("EVM_ARCHIVE_TO_BLOCK", "-1")),
        "block_step": int(e.get("EVM_ARCHIVE_BLOCK_STEP", "100")),
        "sleep_seconds": int(e.get("EVM_ARCHIVE_SLEEP_SECONDS", "5")),
        "out": e.get("EVM_ARCHIVE_OUT", "./evm_archive_out"),
        "stream": e.get("EVM_ARCHIVE_STREAM", "") == "1",
        "enrich": e.get("EVM_ARCHIVE_ENRICH_TIMESTAMPS", "") == "1",
        # streaming admission cap (maxOffsetsPerTrigger analog); <= 0
        # leaves batches uncapped
        "max_blocks_per_batch": int(
            e.get("EVM_ARCHIVE_MAX_BLOCKS_PER_BATCH", "-1")
        ),
    }


def _write_idempotent(df, path: str, batch_key: int) -> None:
    """Land one ingest unit in the parquet sink exactly-once-per-key.

    foreachBatch is at-least-once: after a crash between the logs write
    and the price write, Spark replays the whole micro-batch.  A plain
    ``mode('append')`` would duplicate PK rows on replay, so each unit
    writes its own hive partition ``ingest_batch=<key>`` with *dynamic*
    partition overwrite — the replay deterministically rewrites the same
    partition and nothing else (the parquet analog of the reference's
    ``ON CONFLICT DO NOTHING``, get_logs.go:112-137).  ``_ingest_unit``
    picks batch_key (see the module docstring)."""
    from pyspark.sql import functions as F

    (
        df.withColumn("ingest_batch", F.lit(int(batch_key)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def read_sink(
    spark: SparkSession,
    path: str,
    pk: list[str] | None = None,
    resolve_reorgs: bool = True,
):
    """Read the pipeline's parquet sink back as the logical table: drops
    the ``ingest_batch`` bookkeeping partition and (belt-and-braces, e.g.
    overlapping backfill windows) dedups by PK when one is given.

    When the sink carries a ``removed`` column and a PK is given, the
    view applies reorg tombstone resolution by default
    (``reorg.resolve_removed``): a PK re-delivered with removed=true in
    any later batch masks the earlier row — completing the reference's
    acknowledged TODO (get_logs.go:107) at the read face, where the
    append-only/idempotent sink contract stays intact.  Pass
    ``resolve_reorgs=False`` for the raw tombstoned history."""
    df = spark.read.parquet(path)
    if "ingest_batch" in df.columns:
        df = df.drop("ingest_batch")
    if pk and resolve_reorgs and "removed" in df.columns:
        from .operators.reorg import resolve_removed

        return resolve_removed(df, pk)
    return df.dropDuplicates(pk) if pk else df


def _resume_from(spark: SparkSession, path: str, from_block: int) -> int:
    """A10/A11: start = max(sink max + 1, FROM_BLOCK) (main.go:162-175,
    206-215) — reconciliation against the parquet sink."""
    from pyspark.sql import functions as F

    try:
        mx = (
            spark.read.parquet(path)
            .agg(F.max("block_number").alias("m"))
            .collect()[0]["m"]
        )
    except Exception:  # noqa: BLE001 — empty/missing sink == block 0
        mx = None
    return max((mx + 1) if mx is not None else 0, from_block)


def _source(reader, fmt: str, cfg: dict, lo: int, hi: int, **extra):
    """One ``evm_*`` source over blocks [lo, hi] (hi < 0: up to the chain
    head) in ``blockStep`` windows, with any per-source options."""
    opts = {"endpoint": cfg["endpoint"], "fromBlock": lo, "toBlock": hi,
            "blockStep": cfg["block_step"], **extra}
    return reader.format(fmt).options(**{k: str(v) for k, v in opts.items()}).load()


def _notify(publish, topic: str) -> None:
    if publish is None:
        return
    try:
        publish(topic)
    except Exception:  # noqa: BLE001 — listeners never fail ingest
        log.warning("publish(%r) failed after its sink commit", topic, exc_info=True)


def _ingest_unit(logs, cfg: dict, logs_path: str, price_path: str,
                 lo: int, hi: int, batch_id: int | None = None, publish=None) -> None:
    """Land one ingest unit: the logs of blocks [lo, hi] (optionally with
    header timestamps) and the price probes over them, under the sink
    contract of the module docstring.  ``batch_id`` is the micro-batch's
    id, or None for a ``run_batch`` unit."""
    spark = logs.sparkSession
    key = lo if batch_id is None else -1 - batch_id
    logs = logs.dropDuplicates(LOGS_PK + ["removed"])
    if cfg["enrich"]:
        headers = _source(spark.read, "evm_blocks", cfg, lo, hi)
        logs = rpc.enrich_block_timestamps(logs, headers)
    _write_idempotent(logs, logs_path, key)
    _notify(publish, "logs")
    if cfg["tokens"] and cfg["oracles"]:
        price = _source(spark.read, "evm_price", cfg, lo, hi,
                        tokens=cfg["tokens"], oracles=cfg["oracles"])
        _write_idempotent(price.dropDuplicates(PRICE_PK), price_path, key)
        _notify(publish, "price")


def run_batch(spark: SparkSession, cfg: dict | None = None) -> dict:
    """Bounded backfill: one ingest unit over [resume start, toBlock], the
    chain head read once here when toBlock is unset.  Returns row counts
    per table."""
    cfg = cfg or env_config()
    rpc.register(spark)
    logs_path = os.path.join(cfg["out"], "logs")
    price_path = os.path.join(cfg["out"], "price")
    lo = _resume_from(spark, logs_path, cfg["from_block"])
    hi = cfg["to_block"]
    if hi < 0:
        hi = rpc.chain_head(rpc.make_transport(cfg["endpoint"]))
    logs = _source(spark.read, "evm_logs", cfg, lo, hi, contracts=cfg["contracts"])
    _ingest_unit(logs, cfg, logs_path, price_path, lo, hi)
    counts = {"logs": read_sink(spark, logs_path).count()}
    if cfg["tokens"] and cfg["oracles"]:
        counts["price"] = read_sink(spark, price_path).count()
    return counts


def _stream_batch_writer(
    cfg: dict, logs_path: str, price_path: str, publish=None
):
    """foreachBatch body for run_stream: one ingest unit per non-empty
    micro-batch, over the bounds of the blocks it carries.  Factored out
    so replay semantics are directly testable: calling it twice with the
    same batch_id must leave the sink unchanged.

    ``publish`` (optional, e.g. a graphql.serve() server's ``publish``)
    is the engine-side analogue of the reference's insert trigger firing
    Postgres NOTIFY for Postgraphile --simple-subscriptions."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, batch_id: int) -> None:
        bounds = batch_df.agg(
            F.min("block_number").alias("lo"), F.max("block_number").alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            _ingest_unit(batch_df, cfg, logs_path, price_path,
                         bounds["lo"], bounds["hi"], batch_id, publish)

    return write_batch


def run_stream(
    spark: SparkSession,
    cfg: dict | None = None,
    available_now: bool = False,
    publish=None,
):
    """A13 tail-follow: streaming logs into the parquet sink; when
    tokens/oracles are configured, each micro-batch also captures the
    price probe at its window start — the reference's per-window
    ``getPrices`` (main.go:237, A3) carried into streaming.  Returns the
    StreamingQuery."""
    cfg = cfg or env_config()
    rpc.register(spark)
    logs_path = os.path.join(cfg["out"], "logs")
    price_path = os.path.join(cfg["out"], "price")
    start = _resume_from(spark, logs_path, cfg["from_block"])
    stream = _source(
        spark.readStream, "evm_logs", cfg, start, cfg["to_block"],
        contracts=cfg["contracts"],
        maxBlocksPerBatch=cfg.get("max_blocks_per_batch", -1),
    )

    write_batch = _stream_batch_writer(cfg, logs_path, price_path, publish)

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option(
            "checkpointLocation", os.path.join(cfg["out"], "_checkpoint")
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{cfg['sleep_seconds']} seconds"
        )
    return writer.start()
