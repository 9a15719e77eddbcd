"""Physical storage layout helpers (SCALING.md §1).

``write_bucketed`` persists a table hash-bucketed on its join key, so two
tables bucketed alike join without an Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` hash-bucketed by ``bucket_cols`` — the co-located
    join layout (SCALING.md: "those co-locate if both sides are bucketed
    by the join key").

    Two tables written with the same bucket spec join with ZERO Exchange:
    Spark's bucketed SortMergeJoin reads bucket i of each side into the
    same task (pinned by test_storage.test_bucketed_join_has_no_exchange).
    At 100 TB this removes the dominant cost of every recurring
    logs ⋈ logs / logs ⋈ transfers equi-join — pay one shuffle at write
    time, amortized over every subsequent join; bucket pruning also
    serves point lookups on the bucket key.  ``sort_cols`` default to the
    bucket columns so SMJ skips its per-task sort too.

    Registered through the session catalog (bucketing metadata lives
    there; plain ``spark.read.parquet`` would see unbucketed files), with
    data at the external ``path``.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    w.saveAsTable(table)
