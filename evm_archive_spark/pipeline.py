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
micro-batch, over the blocks it carries.  Every unit:

- stores one row per ``LOGS_PK + removed`` of each reader partition: a
  reorg re-delivers a log's PK with removed=true, and the row and its
  tombstone are both stored (get_logs.go:52).  The reader dedups inside its
  partition (``rpc._BlockRangeReader.read``), and ``read_sink`` dedups
  across partitions and units and resolves tombstones at read time.  Prices
  are one row per ``PRICE_PK`` the same way;
- overwrites only its own ``ingest_batch=<key>`` partition
  (``_write_idempotent``).  A ``run_batch`` unit's key is its start block
  (>= 0), a micro-batch's is ``-1 - batch_id`` (< 0): the two never meet, a
  replayed micro-batch rewrites only its own partition, and a later unit
  carrying tombstones for old blocks never rewrites an earlier one;
- calls ``publish('logs')`` / ``publish('price')`` after the matching write
  commits.  A listener that raises is logged with its traceback and never
  fails the unit.  A micro-batch that carries no rows lands nothing: no
  partition, no ``publish``, no price probe.

One scan of the node per unit.  With no dedup shuffle, the logs write is
one Spark job that fetches and writes in the same tasks, one parquet file
per reader partition (up to defaultParallelism per unit).  It is the
unit's only ``eth_getLogs`` read: its row count and
``min``/``max(block_number)`` come from a ``DataFrame.observe`` on the
write itself, at no extra job, and feed the unit's INFO log line, the
micro-batch's price range (the bounds of the blocks it carries) and
``run_batch``'s returned counts.  A micro-batch with timestamp enrichment
needs its bounds before the write, for the header range, so it persists
the batch and takes them from that one read.

Batch reads plan on the driver.  ``run_batch``'s logs read and every
unit's header and price reads go through ``rpc.read_batch``: the source's
reader plans its partitions in this process and one ``mapInArrow`` job
reads them, so ``run_batch`` registers no data source and starts no
Python planner process.  ``run_stream`` registers the sources, since its
logs reader is a Python streaming source.

``run_batch`` resumes from the sink's max block + 1, ``run_stream`` from
its checkpoint (on first start, from the sink's max block + 1).  The
resume aggregate also counts each sink partition, so ``run_batch`` returns
its totals without reading the sink back.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

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


def _write_idempotent(df, path: str, batch_key: int) -> dict:
    """Land one ingest unit in the parquet sink exactly-once-per-key, and
    return the written rows' ``rows`` count and ``lo``/``hi`` block bounds,
    observed on the write itself.

    foreachBatch is at-least-once: after a crash between the logs write
    and the price write, Spark replays the whole micro-batch.  A plain
    ``mode('append')`` would duplicate PK rows on replay, so each unit
    writes its own hive partition ``ingest_batch=<key>`` with *dynamic*
    partition overwrite — the replay deterministically rewrites the same
    partition and nothing else (the parquet analog of the reference's
    ``ON CONFLICT DO NOTHING``, get_logs.go:112-137).  A write of no rows
    leaves every partition as it was.  ``_ingest_unit`` picks batch_key
    (see the module docstring)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    seen = Observation()
    (
        df.observe(seen, F.count(F.lit(1)).alias("rows"),
                   F.min("block_number").alias("lo"), F.max("block_number").alias("hi"))
        .withColumn("ingest_batch", F.lit(int(batch_key)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(path)
    )
    return seen.get


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


def _resume_from(spark: SparkSession, path: str, from_block: int) -> tuple[int, dict]:
    """A10/A11: start = max(sink max + 1, FROM_BLOCK) (main.go:162-175,
    206-215) — reconciliation against the parquet sink.  The same
    aggregate returns the sink's row count per ``ingest_batch`` key.  A
    missing sink starts at FROM_BLOCK without a query, and one that holds
    no data files without a job; an unreadable sink, or rows with no
    ``block_number``, raise."""
    from pyspark.sql import functions as F

    parts = []
    # ask the sink's Hadoop FileSystem (it may be remote): a read of a
    # missing path plans a query only to fail it
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        # a fixed schema reads no footer to infer one, but reads a file
        # without block_number as NULLs: the k == n check below
        parts = (
            spark.read.schema("block_number BIGINT, ingest_batch BIGINT").parquet(path)
            .groupBy("ingest_batch")
            .agg(F.max("block_number").alias("m"), F.count(F.lit(1)).alias("n"),
                 F.count("block_number").alias("k"))
            .collect()
        )
    if any(r["k"] != r["n"] for r in parts):
        raise ValueError(f"sink {path} holds rows with no block_number")
    mx = max((r["m"] for r in parts), default=None)
    start = max((mx + 1) if mx is not None else 0, from_block)
    return start, {r["ingest_batch"]: r["n"] for r in parts}


def _source(spark: SparkSession, fmt: str, cfg: dict, lo: int, hi: int,
            stream: bool = False, **extra):
    """One ``evm_*`` source over blocks [lo, hi] (hi < 0: up to the chain
    head) in ``blockStep`` windows, packed into at most defaultParallelism
    partitions, with any per-source options.  A batch read is planned on
    the driver (``rpc.read_batch``); a stream is the registered Python
    streaming source, whose planner process cannot see the session and so
    takes the partition count as an option."""
    opts = {"endpoint": cfg["endpoint"], "fromBlock": lo, "toBlock": hi,
            "blockStep": cfg["block_step"],
            "maxPartitions": spark.sparkContext.defaultParallelism, **extra}
    opts = {k: str(v) for k, v in opts.items()}
    if stream:
        return spark.readStream.format(fmt).options(**opts).load()
    return rpc.read_batch(spark, fmt, opts)


def _notify(publish, topic: str) -> None:
    if publish is None:
        return
    try:
        publish(topic)
    except Exception:  # noqa: BLE001 — listeners never fail ingest
        log.warning("publish(%r) failed after its sink commit", topic, exc_info=True)


def _ingest_unit(logs, cfg: dict, logs_path: str, price_path: str,
                 bounds: tuple | None = None, batch_id: int | None = None,
                 publish=None) -> dict:
    """Land one ingest unit, the logs (optionally with header timestamps)
    and the price probes over them, under the sink contract of the module
    docstring, and return the rows written per table.  A ``run_batch``
    unit passes its block range as ``bounds``; a micro-batch passes its
    ``batch_id``, and its bounds are those of the blocks it carries."""
    from pyspark.sql import functions as F

    spark = logs.sparkSession
    # the header range needs a micro-batch's bounds before the write: take
    # them from one materialized read of the node
    cached = logs.persist() if cfg["enrich"] and bounds is None else None
    if cached is not None:
        bounds = tuple(cached.agg(F.min("block_number"), F.max("block_number")).first())
    try:
        if cfg["enrich"] and bounds[0] is not None:
            headers = _source(spark, "evm_blocks", cfg, *bounds)
            logs = rpc.enrich_block_timestamps(logs, headers)
        key = bounds[0] if batch_id is None else -1 - batch_id
        seen = _write_idempotent(logs, logs_path, key)
    finally:
        if cached is not None:
            cached.unpersist()
    log.info("ingest unit %d: blocks [%s, %s], %d log rows written",
             key, seen["lo"], seen["hi"], seen["rows"])
    written = {"logs": seen["rows"]}
    if batch_id is not None and not seen["rows"]:
        return written
    _notify(publish, "logs")
    if cfg["tokens"] and cfg["oracles"]:
        price = _source(spark, "evm_price", cfg, *(bounds or (seen["lo"], seen["hi"])),
                        tokens=cfg["tokens"], oracles=cfg["oracles"])
        written["price"] = _write_idempotent(price, price_path, key)["rows"]
        _notify(publish, "price")
    return written


def run_batch(spark: SparkSession, cfg: dict | None = None) -> dict:
    """Bounded backfill: one ingest unit over [resume start, toBlock], the
    chain head read once here when toBlock is unset.  Returns row counts
    per table: the resume aggregate's, less the partition the unit
    overwrote, plus the rows it wrote."""
    cfg = cfg or env_config()
    logs_path = os.path.join(cfg["out"], "logs")
    price_path = os.path.join(cfg["out"], "price")
    lo, before = _resume_from(spark, logs_path, cfg["from_block"])
    tables = {"logs": before}
    if cfg["tokens"] and cfg["oracles"]:
        tables["price"] = _resume_from(spark, price_path, 0)[1]
    hi = cfg["to_block"]
    if hi < 0:
        hi = rpc.chain_head(rpc.make_transport(cfg["endpoint"]))
    logs = _source(spark, "evm_logs", cfg, lo, hi, contracts=cfg["contracts"])
    written = _ingest_unit(logs, cfg, logs_path, price_path, bounds=(lo, hi))
    # a write of no rows leaves partition lo as it was
    return {t: sum(rows.values()) - (rows.get(lo, 0) if written[t] else 0) + written[t]
            for t, rows in tables.items()}


def _stream_batch_writer(
    cfg: dict, logs_path: str, price_path: str, publish=None
):
    """foreachBatch body for run_stream: one ingest unit per micro-batch.
    Factored out so replay semantics are directly testable: calling it
    twice with the same batch_id must leave the sink unchanged.

    ``publish`` (optional, e.g. a graphql.serve() server's ``publish``)
    is the engine-side analogue of the reference's insert trigger firing
    Postgres NOTIFY for Postgraphile --simple-subscriptions."""

    def write_batch(batch_df, batch_id: int) -> None:
        _ingest_unit(batch_df, cfg, logs_path, price_path,
                     batch_id=batch_id, publish=publish)

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
    start, _ = _resume_from(spark, logs_path, cfg["from_block"])
    stream = _source(
        spark, "evm_logs", cfg, start, cfg["to_block"], stream=True,
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
