"""One driver for the streaming admission lanes (``stream_*_admission``):
read state, admit, write idempotently, advance.  ``run`` owns that loop;
a lane supplies its ``incremental_*`` call and declares its states.

Replay contract.  foreachBatch re-runs a batch after a crash between its
writes and the checkpoint commit; the re-run reproduces the original:

- **State as of the previous batch.**  Every state row carries the
  ``batch_id`` that wrote it (the partition directory in the default
  layout, a data column in the bucketed one) and batch N reads only
  ``batch_id < N``, so a replay never probes its own delta (a naive read
  would anti-join the batch against itself and lose its survivors).  The
  filter is partition pruning in the default layout and a data filter
  below the bucketed scan, so the one-sided probe plan is unchanged.
- **Survivors exactly once.**  They are materialized once, before any
  delta is derived, and written to ``survivors/batch_id=N/`` with
  overwrite, so a replay rewrites its own partition.
- **States without bucket keys exactly once.**  Their delta goes to
  ``<state>/batch_id=N/`` with overwrite, whatever ``bucketed_state``
  says.  Counted states (video frame hashes, postings) declare no keys.
- **Bucketed membership state: benign duplicates.**  With
  ``bucketed_state=True`` a state with bucket keys is the catalog table
  ``{table_prefix}_{state}``, bucketed and sorted by them and appended
  per batch, so the probe shuffles only the batch's keys (zero Exchange
  above the state scan).  A replay after a partial append can duplicate
  rows of its own ``batch_id``: benign, since such state is consumed
  only through semi-/anti-joins and the replay filters its batch out.
- **Restart.**  A new process's in-memory catalog has no table over the
  state files on disk.  Before the stream starts, each existing bucketed
  state path is registered again as its table (same bucket spec,
  declared columns plus ``batch_id``), so the first probe reads the old
  rows and the first write appends.  A non-empty state path is never
  overwritten.

Lanes run with the availableNow trigger and return their query once it
has terminated and left ``spark.streams.active``.
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F


class State(NamedTuple):
    """A state under ``state_dir/<name>``: ``schema`` is the DDL of the
    rows the probe reads, ``delta(batch, survivors)`` what a batch adds,
    ``bucket_by`` the bucket keys (none: exactly once)."""

    name: str
    schema: str
    delta: Callable[[DataFrame, DataFrame | None], DataFrame]
    bucket_by: tuple[str, ...] = ()


def read_admission_state(
    spark,
    *,
    batch_id: int,
    cols: list[str],
    empty_schema: str,
    path: str | None = None,
    table: str | None = None,
) -> DataFrame:
    """One state as of the previous batch: ``table`` if it exists, else
    ``path`` if it exists, else empty; rows of ``batch_id`` and later
    are dropped."""
    if table is not None and spark.catalog.tableExists(table):
        df = spark.table(table)
    elif path is not None and os.path.exists(path):
        df = spark.read.parquet(path)
    else:
        return spark.createDataFrame([], empty_schema)
    return df.filter(F.col("batch_id") < F.lit(batch_id)).select(*cols)


def run(
    stream: DataFrame,
    state_dir: str,
    admit: Callable,
    states: list[State],
    *,
    bucketed_state: bool = False,
    n_buckets: int = 64,
    table_prefix: str | None = None,
):
    """Run ``stream`` under the replay contract above; return the
    terminated query.  ``admit(batch, state)`` returns the survivors
    (``None``: the lane keeps only state), ``state(name)`` being that
    state as of the previous batch.  ``state_dir`` holds one directory
    per state, ``survivors/`` and ``_checkpoint``; ``table_prefix``
    defaults to one derived from ``state_dir``."""
    spark = stream.sparkSession
    prefix = table_prefix or (
        "adm_" + hashlib.md5(state_dir.encode()).hexdigest()[:10]
    )
    by_name = {s.name: s for s in states}
    path = {s.name: os.path.join(state_dir, s.name) for s in states}
    table = {
        s.name: f"{prefix}_{s.name}"
        for s in states
        if bucketed_state and s.bucket_by
    }
    for name, t in table.items():
        if os.path.isdir(path[name]) and not spark.catalog.tableExists(t):
            keys = ", ".join(by_name[name].bucket_by)
            spark.sql(
                f"CREATE TABLE {t} ({by_name[name].schema}, batch_id int) "
                f"USING parquet CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{path[name]}'"
            )

    def batch(batch_df, batch_id):
        def state(name):
            schema = by_name[name].schema
            return read_admission_state(
                batch_df.sparkSession, batch_id=batch_id,
                cols=[c.split()[0] for c in schema.split(",")],
                empty_schema=schema,
                path=None if name in table else path[name],
                table=table.get(name),
            )

        survivors = admit(batch_df, state)
        if survivors is not None:
            survivors = survivors.localCheckpoint(eager=True)
            survivors.write.mode("overwrite").parquet(
                os.path.join(state_dir, "survivors", f"batch_id={batch_id}")
            )
        for s in states:
            delta = s.delta(batch_df, survivors)
            if s.name in table:
                (
                    delta.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append").format("parquet")
                    .option("path", path[s.name])
                    .bucketBy(n_buckets, *s.bucket_by).sortBy(*s.bucket_by)
                    .saveAsTable(table[s.name])
                )
            else:
                delta.write.mode("overwrite").parquet(
                    os.path.join(path[s.name], f"batch_id={batch_id}")
                )

    q = (
        stream.writeStream.foreachBatch(batch)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # termination deregisters asynchronously; a restart must not race
    # it on the shared checkpoint
    while any(a.id == q.id for a in spark.streams.active):
        time.sleep(0.05)
    return q
