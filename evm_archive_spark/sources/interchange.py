"""CSV and ORC corpus interchange — the remaining bulk import/export
formats next to JSONL (sources/jsonl.py) and the parquet-native tables.

Same design as the JSONL lane: Spark's built-in sources already give
distributed, codegen-friendly scans, so the operator value is the
CONTRACT — explicit schema on read (never an inference pass over 100 TB)
and round-trip fidelity gates proving write -> read reproduces the source
table exactly.

CSV is the delicate one: document text contains quotes, commas and
newlines.  The writer is pinned to RFC 4180 semantics (quote doubling via
``escape='"'``) and the reader to ``multiLine`` so quoted embedded
newlines parse; NULL travels as the ``\\N`` sentinel (the PostgreSQL
COPY text-format convention) while empty strings are
written quoted (``""``), so empty string != NULL survives the trip.
One documented limitation, pinned by test: a field whose CONTENT is
exactly the sentinel reads back as NULL — Spark's CSV reader applies
``nullValue`` after unquoting, so no quoting convention can protect it
(unlike real COPY, where quoting disambiguates).  Corpora that may
contain the sentinel belong on the JSONL or ORC lane.  ORC needs none of that — it is a
typed columnar format; the gate exists to pin that the lane works and
prunes columns like parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .jsonl import DOCUMENTS_SCHEMA

_NULL = "\\N"


def write_csv(
    df: DataFrame, path: str, *, n_files: int | None = None
) -> None:
    """RFC 4180 CSV with header: quote doubling, ``\\N`` for NULL."""
    out = df.repartition(n_files) if n_files else df
    (
        out.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", _NULL)
        .csv(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | StructType = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Schema-enforced, FAILFAST CSV read; ``multiLine`` so quoted
    embedded newlines in document text parse instead of splitting rows.

    multiLine makes a single csv file non-splittable (a quoted newline
    could straddle any byte split) — at scale keep shards small via
    ``write_csv(n_files=...)``; parallelism then comes from the file
    count, the same contract as JSONL gzip shards."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        # enforceSchema=false makes Spark VALIDATE the file header
        # against the schema names instead of mapping columns
        # positionally — a reordered-but-valid CSV fails loudly rather
        # than silently swapping same-typed columns
        .option("enforceSchema", "false")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", _NULL)
        .option("multiLine", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def write_orc(
    df: DataFrame, path: str, *, n_files: int | None = None
) -> None:
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").orc(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: str | StructType | None = None,
) -> DataFrame:
    """ORC read; schema optional — ORC files carry their types (the
    explicit schema just pins column order and widths when given)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
