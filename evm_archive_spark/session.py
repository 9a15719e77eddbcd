"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``, by default one task
thread per core this process may run on; the configs below are the ones
that matter at cluster scale too (AQE, adaptive coalescing, skew join
handling, Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package: python workers import the daemon
# module from it, whatever directory the driver was started in
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "evm-archive-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local[N] puts driver + all N executor threads in ONE JVM; the 1g
        # default heap starves 32 task threads (GCLocker retries, OOM),
        # while very large heaps (24g) measurably degrade GC on this box.
        # 8g is the measured sweet spot; on a real cluster executor/driver
        # memory come from the deployment, not here.
        .config("spark.driver.memory", "8g")
        # AQE: runtime re-planning (partition coalescing, skew-join split,
        # broadcast demotion) — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # push COUNT/MIN/MAX down to parquet footers (metadata-only scans)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # pyspark.daemon plus a zip directory cache that outlives each
        # task's importlib.invalidate_caches() (see pydaemon.py)
        .config("spark.python.daemon.module", "evm_archive_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
