"""Idempotent conflict-ignoring sink (reference A8/A9).

The reference achieves effectively-exactly-once rows from an at-least-once
loop via PK + ``INSERT ... ON CONFLICT DO NOTHING`` (get_logs.go:118-132,
get_price.go:96, schema.sql:51/73).  Spark's ``df.write.jdbc`` cannot
express conflict-ignore, so this module hand-rolls it (SURVEY §4.3.1):

- ``dropDuplicates(pk)`` inside the batch collapses intra-batch replays;
- rows reach the writers as Arrow RecordBatches (``df.mapInArrow``): one
  writer per partition, or one writer task for the whole batch with
  ``parallel=False``; each writer opens ONE connection from a picklable
  factory and commits once;
- rows-affected is surfaced per batch ("inserted X of Y", get_logs.go:132).

The writer follows from the connection.  A PostgreSQL connection with
``copy_in`` (``sinks.pgwire``) COPYs its rows into a temp stage, encoded
to CSV by pyarrow, and merges them with one set-based ``INSERT ... SELECT
... ON CONFLICT DO NOTHING``; the merge's CommandComplete tag gives the
exact inserted count.  Any other DBAPI connection (DuckDB, sqlite3) takes
one ``executemany`` INSERT per RecordBatch, with the placeholder of its
driver module's PEP 249 ``paramstyle``; DBAPI leaves ``rowcount`` after
``executemany`` undefined, so that writer reports ``inserted = -1``.
Unlike the reference (connection per window, zero parallelism — SURVEY
§4.1 anti-patterns), the partition-parallel writers give N connections.
"""

from __future__ import annotations

import io
import sys
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class UpsertResult:
    attempted: int
    inserted: int  # -1 from the executemany writer (rowcount undefined)


# PEP 249 paramstyle -> positional placeholder
_PLACEHOLDERS = {"qmark": "?", "format": "%s", "pyformat": "%s"}


def _conflict_ignore_sql(
    table: str, columns: list[str], pk: list[str], rows: str
) -> str:
    return (
        f"INSERT INTO {table} ({', '.join(columns)}) {rows} "
        f"ON CONFLICT ({', '.join(pk)}) DO NOTHING"
    )


def _placeholder(conn) -> str:
    module = sys.modules[type(conn).__module__.split(".")[0]]
    style = getattr(module, "paramstyle", None)
    if style not in _PLACEHOLDERS:
        raise TypeError(
            f"{module.__name__} declares paramstyle {style!r}; the sink "
            f"takes one of {sorted(_PLACEHOLDERS)}"
        )
    return _PLACEHOLDERS[style]


def _write_insert(batches, table, columns, pk, conn) -> UpsertResult:
    """One batched ``executemany`` INSERT per RecordBatch; ``to_pylist``
    per column + ``zip`` keeps the per-row Python to the tuple the DBAPI
    driver needs anyway."""
    values = ", ".join([_placeholder(conn)] * len(columns))
    sql = _conflict_ignore_sql(table, columns, pk, f"VALUES ({values})")
    cur = conn.cursor()
    attempted = 0
    for b in batches:
        if b.num_rows:
            attempted += b.num_rows
            cur.executemany(
                sql, list(zip(*(b.column(c).to_pylist() for c in columns)))
            )
    return UpsertResult(attempted, -1)


def _copy_csv(batch) -> bytes:
    """One RecordBatch as COPY CSV, by pyarrow's C-level CSV writer.
    ``quoting_style='all_valid'`` keeps PostgreSQL CSV semantics exact:
    valid strings are always quoted (so empty string != NULL), nulls are
    unquoted empties, embedded quotes double — PG's CSV default ESCAPE.
    CSV has no binary type: binary columns go as ``\\x``-hex text, which
    bytea input reads back."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    cols = [
        pa.array(
            [None if v is None else "\\x" + v.hex() for v in c.to_pylist()],
            pa.string(),
        )
        if pa.types.is_binary(c.type) or pa.types.is_large_binary(c.type)
        else c
        for c in batch.columns
    ]
    buf = io.BytesIO()
    pacsv.write_csv(
        pa.Table.from_arrays(cols, names=batch.schema.names),
        buf,
        pacsv.WriteOptions(include_header=False, quoting_style="all_valid"),
    )
    return buf.getvalue()


def _write_copy(batches, table, columns, pk, conn) -> UpsertResult:
    """``COPY ... FROM STDIN`` into a per-session temp stage, then one
    set-based ``INSERT ... SELECT ... ON CONFLICT DO NOTHING`` merge
    (VERDICT r2 #5: the text simple-query path was the 100×-backfill
    bottleneck).  Stage + merge commit in one transaction, and a replayed
    writer re-merges idempotently."""
    cur = conn.cursor()
    cols = ", ".join(columns)
    # LIKE copies column types only (no PK/indexes) — cheapest stage;
    # per-session temp schema makes the fixed name parallel-safe
    cur.execute(f"CREATE TEMP TABLE __evm_stage (LIKE {table}) ON COMMIT DROP")
    attempted = 0

    def chunks() -> Iterator[bytes]:
        nonlocal attempted
        for b in batches:
            if b.num_rows:
                attempted += b.num_rows
                yield _copy_csv(b.select(columns))

    conn.copy_in(f"COPY __evm_stage ({cols}) FROM STDIN (FORMAT csv)", chunks())
    cur.execute(
        _conflict_ignore_sql(
            table, columns, pk, f"SELECT {cols} FROM __evm_stage"
        )
    )
    return UpsertResult(attempted, cur.rowcount)


def write_conflict_ignore(
    df: DataFrame,
    table: str,
    pk: list[str],
    connection_factory: Callable,
    *,
    parallel: bool = True,
) -> UpsertResult:
    """Idempotent insert of ``df`` into ``table`` keyed by ``pk``.

    ``parallel=True`` runs one writer per partition (Postgres and other
    multi-writer stores); ``parallel=False`` runs one writer task for the
    whole batch, for single-writer engines (a DuckDB file) or a target
    that cannot take N connections.
    """
    import pyarrow as pa

    columns = df.columns
    deduped = df.dropDuplicates(pk)

    def part(batches) -> Iterator[pa.RecordBatch]:
        conn = connection_factory()
        try:
            writer = _write_copy if hasattr(conn, "copy_in") else _write_insert
            res = writer(batches, table, columns, pk, conn)
            conn.commit()
        finally:
            conn.close()
        yield pa.RecordBatch.from_pydict(
            {
                "attempted": pa.array([res.attempted], pa.int64()),
                "inserted": pa.array([res.inserted], pa.int64()),
            }
        )

    frame = deduped if parallel else deduped.coalesce(1)
    counts = frame.mapInArrow(part, "attempted long, inserted long").collect()
    attempted = sum(r.attempted for r in counts)
    inserted = (
        -1
        if any(r.inserted < 0 for r in counts)
        else sum(r.inserted for r in counts)
    )
    return UpsertResult(attempted, inserted)


def foreach_batch_upsert(
    table: str,
    pk: list[str],
    connection_factory: Callable,
    *,
    parallel: bool = True,
    on_result: Callable[[int, UpsertResult], None] | None = None,
):
    """``foreachBatch`` adapter: streaming micro-batches -> idempotent sink.

    Spark's checkpoint gives at-least-once batch delivery; the PK +
    DO NOTHING collapses replays to exactly-once rows — the same
    crash-safety argument as the reference loop (SURVEY §4.1)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        res = write_conflict_ignore(
            batch_df, table, pk, connection_factory, parallel=parallel
        )
        if on_result is not None:
            on_result(batch_id, res)

    return write


LOGS_DDL_GENERIC = """
CREATE TABLE IF NOT EXISTS logs (
  address           TEXT,
  topic0            TEXT,
  topic1            TEXT,
  topic2            TEXT,
  topic3            TEXT,
  data              TEXT,
  block_hash        TEXT,
  block_number      BIGINT,
  transaction_hash  TEXT,
  transaction_index BIGINT,
  log_index         BIGINT,
  removed           BOOLEAN,
  block_timestamp   TIMESTAMP,
  PRIMARY KEY (block_hash, transaction_hash, log_index)
)
"""

def logs_ddl_partitioned(n_partitions: int = 8) -> str:
    """Server-side sink lever (VERDICT r3 #6): the COPY lane's measured
    residual is the merge's btree insertion on the 3-text-column PK
    (BASELINE.md).  A hash-partitioned target splits that one big btree
    into ``n_partitions`` smaller ones — each insert probes a shallower
    index with better cache locality, and parallel writers landing in
    different partitions contend on different index roots.  The PK keeps
    its meaning: PostgreSQL propagates the unique index per-partition
    (valid because the partition key, block_hash, is a PK prefix), and
    ``ON CONFLICT DO NOTHING`` routes and merges exactly as on the flat
    table — the sink code is unchanged, only the DDL differs.
    """
    parts = "\n".join(
        f"CREATE TABLE IF NOT EXISTS logs_p{i} PARTITION OF logs "
        f"FOR VALUES WITH (MODULUS {n_partitions}, REMAINDER {i});"
        for i in range(n_partitions)
    )
    return f"{LOGS_DDL_GENERIC.rstrip()} PARTITION BY HASH (block_hash);\n{parts}\n"
