"""Ingestion soak with a mid-stream crash (VERDICT r11 #8).

Drives the SURVEY §3.1 streaming data path — wire-shape logs ->
Structured Streaming file source -> A5-A7 transform
(sources/transform.log_rpc_to_log_db) -> idempotent foreachBatch
parquet sink (pipeline._write_idempotent) — against a wire fixture
derived row-for-row from the sf3 events table (3M rows at 30x sf0.1),
then KILLS the stream mid-run, deletes the last commit marker (the
crash window: batch data written, commit not recorded — exactly the
at-least-once replay case the sink's dynamic-partition-overwrite
contract exists for), restarts from the same checkpoint to drain, and
verifies ZERO duplicate primary keys and an exact row count.

Usage (from the repo root):

    PYTHONPATH=. python scripts/soak_ingest.py [sf_dir] [--out FILE]

Prints one JSON line:
    {"metric": "ingest_soak", "rows": N, "wall_s": ..., "rows_per_s":
     ..., "killed_after_batches": K, "replayed_batch": B,
     "dup_pks": 0, "sf_dir": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from evm_archive_spark.pipeline import _write_idempotent, read_sink
from evm_archive_spark.schemas import LOGS_PK
from evm_archive_spark.sources.transform import log_rpc_to_log_db

N_WIRE_FILES = 12
KILL_AFTER = 5          # stop once this many batches have committed


def stage_wire(spark, sf_dir: str, wire_dir: str) -> int:
    """events.parquet -> deterministic wire-shape logs, one row per
    event, written as N_WIRE_FILES parquet files (one micro-batch
    each under maxFilesPerTrigger=1)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    i = F.col("event_id").cast("long")
    wire = ev.select(
        F.format_string("0x%040x", F.pmod(i, F.lit(50))).alias(
            "address"),
        F.array(
            F.format_string("0x%064x", i),
            F.format_string("0x%064x", i * 2),
        ).alias("topics"),
        F.format_string("0x%064x", i).alias("data"),
        F.format_string(
            "0x%064x", F.expr("event_id DIV 100")).alias("blockHash"),
        F.format_string(
            "0x%x", F.expr("event_id DIV 100")).alias("blockNumber"),
        F.format_string("0x%064x", i).alias("transactionHash"),
        F.format_string("0x%x", F.pmod(i, F.lit(500))).alias(
            "transactionIndex"),
        F.format_string("0x%x", F.pmod(i, F.lit(100))).alias(
            "logIndex"),
        F.lit(False).alias("removed"),
    )
    wire.repartition(N_WIRE_FILES).write.mode("overwrite").parquet(
        wire_dir)
    return ev.count()


def run_stream(spark, wire_dir: str, sink: str, ckpt: str,
               schema, stop_after: int | None):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(wire_dir)
    )
    out = log_rpc_to_log_db(stream)

    def write_batch(bdf, bid: int) -> None:
        _write_idempotent(bdf.dropDuplicates(LOGS_PK), sink, bid)

    q = (
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if stop_after is None:
        q.awaitTermination()
    else:
        commits = os.path.join(ckpt, "commits")
        while q.isActive:
            done = [f for f in os.listdir(commits)
                    if f.isdigit()] if os.path.isdir(commits) else []
            if len(done) >= stop_after:
                q.stop()                        # mid-stream kill
                break
            time.sleep(0.2)
        q.awaitTermination()
    # availableNow termination deregisters asynchronously; a restart
    # must not race it on the shared checkpoint (NOTES gotcha)
    while any(a.runId == q.runId for a in spark.streams.active):
        time.sleep(0.05)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_path = None
    if "--out" in args:
        k = args.index("--out")
        out_path = args[k + 1]
        del args[k:k + 2]
    sf_dir = args[0] if args else "testdata_sf3"

    cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ingest-soak")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: the driver heap IS the executor heap.
        # The sf3 (3M-row) soak fit the 1g default; 10M wire rows OOM
        # it, so size the JVM to the box like a real deployment sizes
        # executors (r13 — this is a harness knob, not a data-path fix:
        # the streamed state per micro-batch is one wire file).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_SOAK_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="soak_")
    wire_dir = os.path.join(base, "wire")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    n_rows = stage_wire(spark, sf_dir, wire_dir)
    schema = spark.read.parquet(wire_dir).schema

    t0 = time.time()
    # phase 1: killed mid-stream after KILL_AFTER committed batches
    run_stream(spark, wire_dir, sink, ckpt, schema, KILL_AFTER)
    # crash window: drop the LAST commit marker so its batch replays
    commits = os.path.join(ckpt, "commits")
    done = sorted((f for f in os.listdir(commits) if f.isdigit()),
                  key=int)
    replayed = done[-1]
    os.remove(os.path.join(commits, replayed))
    crc = os.path.join(commits, f".{replayed}.crc")
    if os.path.exists(crc):    # Hadoop checksum sibling dies with it
        os.remove(crc)
    killed_after = len(done)
    # phase 2: restart on the same checkpoint, drain to completion
    run_stream(spark, wire_dir, sink, ckpt, schema, None)
    wall = time.time() - t0

    raw = spark.read.parquet(sink)
    total = raw.count()
    distinct_pk = raw.select(*LOGS_PK).distinct().count()
    view = read_sink(spark, sink, LOGS_PK)
    view_rows = view.count()
    batches = raw.select("ingest_batch").distinct().count()
    result = {
        "metric": "ingest_soak",
        "rows": total,
        "expected_rows": n_rows,
        "wall_s": round(wall, 2),
        "rows_per_s": int(total / wall),
        "killed_after_batches": killed_after,
        "replayed_batch": int(replayed),
        "batches": batches,
        "dup_pks": total - distinct_pk,
        "view_rows": view_rows,
        "sf_dir": sf_dir,
    }
    print(json.dumps(result))
    ok = (total == n_rows and distinct_pk == n_rows
          and view_rows == n_rows)
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f)
    shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
