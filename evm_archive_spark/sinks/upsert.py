"""Idempotent conflict-ignoring DBAPI sink (reference A8/A9).

The reference achieves effectively-exactly-once rows from an at-least-once
loop via PK + ``INSERT ... ON CONFLICT DO NOTHING`` (get_logs.go:118-132,
get_price.go:96, schema.sql:51/73).  Spark's ``df.write.jdbc`` cannot
express conflict-ignore, so this module hand-rolls it (SURVEY §4.3.1):

- ``dropDuplicates(pk)`` inside the batch collapses intra-batch replays;
- each partition opens ONE connection from a picklable factory and issues
  batched multi-row ``INSERT ... ON CONFLICT DO NOTHING`` statements;
- rows-affected is surfaced per batch ("inserted X of Y", get_logs.go:132).

Works against any DBAPI engine: psycopg2/Postgres in production (factory =
``psycopg2.connect`` closure), DuckDB in tests.  Unlike the reference
(connection per window, zero parallelism — SURVEY §4.1 anti-patterns), the
partition-parallel path gives N writers with per-partition batching.

Executor data transfer is Arrow-batched (``df.mapInArrow``): rows reach the
Python writer as columnar RecordBatches, not pickled Row objects — the
JVM->Python hop costs one Arrow buffer per batch instead of one pickle per
row (the round-1 ``rdd.mapPartitions`` bottleneck).

Rowcount honesty: DBAPI leaves ``cursor.rowcount`` after ``executemany``
undefined (psycopg2 reports only the LAST statement's count).  The batched
paths therefore always report ``inserted = -1``; pass ``exact_counts=True``
to execute row-at-a-time and get an exact inserted count when the parity
signal matters more than throughput.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class UpsertResult:
    attempted: int
    inserted: int  # -1 unless exact_counts (executemany rowcount undefined)


def conflict_ignore_sql(
    table: str, columns: list[str], pk: list[str], paramstyle: str = "qmark"
) -> str:
    ph = "?" if paramstyle == "qmark" else "%s"
    cols = ", ".join(columns)
    vals = ", ".join([ph] * len(columns))
    conflict = ", ".join(pk)
    return (
        f"INSERT INTO {table} ({cols}) VALUES ({vals}) "
        f"ON CONFLICT ({conflict}) DO NOTHING"
    )


def _write_tuples(
    rows: Iterable[tuple],
    sql: str,
    connection_factory: Callable,
    batch_size: int,
    exact_counts: bool,
) -> UpsertResult:
    """Write pre-ordered value tuples through one connection.

    Batched mode reports ``inserted = -1``: DBAPI leaves rowcount after
    ``executemany`` undefined and psycopg2 returns only the last
    statement's count, so summing it silently under-reports.
    """
    conn = connection_factory()
    attempted = inserted = 0
    try:
        cur = conn.cursor()
        if exact_counts:
            for row in rows:
                cur.execute(sql, row)
                attempted += 1
                rc = getattr(cur, "rowcount", -1)
                if rc is not None and rc >= 0 and inserted >= 0:
                    inserted += rc
                else:
                    inserted = -1
        else:
            inserted = -1
            batch: list[tuple] = []
            for row in rows:
                batch.append(row)
                attempted += 1
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch.clear()
            if batch:
                cur.executemany(sql, batch)
        conn.commit()
    finally:
        conn.close()
    return UpsertResult(attempted, inserted)


def _write_copy(
    rows: Iterable[tuple],
    table: str,
    columns: list[str],
    pk: list[str],
    connection_factory: Callable,
    chunk_bytes: int = 256 << 10,
) -> UpsertResult:
    """Bulk load via ``COPY ... FROM STDIN`` into a per-session temp stage,
    then one set-based ``INSERT ... SELECT ... ON CONFLICT DO NOTHING``
    merge (VERDICT r2 #5: the text simple-query path was the 100×-backfill
    bottleneck).  One transaction per partition: stage + merge commit
    atomically, and a replayed partition re-merges idempotently.  Exact
    inserted counts come free from the merge's CommandComplete tag.

    Requires a connection exposing ``copy_in`` (``sinks.pgwire``; psycopg2
    users would pass a thin adapter over ``copy_expert``)."""
    from . import pgwire

    conn = connection_factory()
    attempted = 0
    try:
        if not hasattr(conn, "copy_in"):
            raise TypeError(
                "method='copy' needs a connection with copy_in() "
                "(sinks.pgwire.connect)"
            )
        cur = conn.cursor()
        cols = ", ".join(columns)
        # LIKE copies column types only (no PK/indexes) — cheapest stage;
        # per-session temp schema makes the fixed name parallel-safe
        cur.execute(
            f"CREATE TEMP TABLE __evm_stage (LIKE {table}) ON COMMIT DROP"
        )

        def chunks() -> Iterator[bytes]:
            nonlocal attempted
            buf = bytearray()
            for row in rows:
                buf += pgwire.copy_text_row(row)
                attempted += 1
                if len(buf) >= chunk_bytes:
                    yield bytes(buf)
                    buf.clear()
            if buf:
                yield bytes(buf)

        conn.copy_in(f"COPY __evm_stage ({cols}) FROM STDIN", chunks())
        conflict = ", ".join(pk)
        cur.execute(
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM __evm_stage "
            f"ON CONFLICT ({conflict}) DO NOTHING"
        )
        inserted = cur.rowcount
        conn.commit()
    finally:
        conn.close()
    return UpsertResult(attempted, inserted)


def _write_copy_arrow(
    batches,
    table: str,
    columns: list[str],
    pk: list[str],
    connection_factory: Callable,
) -> UpsertResult:
    """Arrow fast path for ``method='copy'``: each RecordBatch is encoded
    to COPY CSV by pyarrow's C-level CSV writer — no per-row Python at
    all (measured ~half the COPY wall-clock was ``copy_text_row``).
    ``quoting_style='all_valid'`` keeps PostgreSQL CSV semantics exact:
    valid strings are always quoted (so empty string != NULL), nulls are
    unquoted empties, embedded quotes double — PG's CSV default ESCAPE.
    Binary columns aren't CSV-expressible; callers route those to the
    tuple path."""
    import io

    import pyarrow as pa
    import pyarrow.csv as pacsv

    conn = connection_factory()
    attempted = 0
    try:
        if not hasattr(conn, "copy_in"):
            raise TypeError(
                "method='copy' needs a connection with copy_in() "
                "(sinks.pgwire.connect)"
            )
        cur = conn.cursor()
        cols = ", ".join(columns)
        cur.execute(
            f"CREATE TEMP TABLE __evm_stage (LIKE {table}) ON COMMIT DROP"
        )
        opts = pacsv.WriteOptions(
            include_header=False, quoting_style="all_valid"
        )

        def chunks() -> Iterator[bytes]:
            nonlocal attempted
            for b in batches:
                if b.num_rows == 0:
                    continue
                attempted += b.num_rows
                buf = io.BytesIO()
                pacsv.write_csv(
                    pa.Table.from_batches([b.select(columns)]), buf, opts
                )
                yield buf.getvalue()

        conn.copy_in(
            f"COPY __evm_stage ({cols}) FROM STDIN (FORMAT csv)", chunks()
        )
        conflict = ", ".join(pk)
        cur.execute(
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM __evm_stage "
            f"ON CONFLICT ({conflict}) DO NOTHING"
        )
        inserted = cur.rowcount
        conn.commit()
    finally:
        conn.close()
    return UpsertResult(attempted, inserted)


def _arrow_tuples(batches, columns: list[str]) -> Iterator[tuple]:
    """Arrow RecordBatches -> value tuples ordered by ``columns``.

    ``to_pylist`` per column + ``zip`` stays C-level per batch; the only
    per-row Python object is the tuple the DBAPI driver needs anyway.
    """
    for b in batches:
        idx = [b.schema.get_field_index(c) for c in columns]
        cols = [b.column(i).to_pylist() for i in idx]
        yield from zip(*cols)


def write_conflict_ignore(
    df: DataFrame,
    table: str,
    pk: list[str],
    connection_factory: Callable,
    *,
    paramstyle: str = "qmark",
    batch_size: int = 1000,
    parallel: bool = True,
    exact_counts: bool = False,
    method: str = "insert",
) -> UpsertResult:
    """Idempotent insert of ``df`` into ``table`` keyed by ``pk``.

    ``parallel=True`` writes partition-parallel from executors (Postgres
    and other multi-writer stores) via Arrow-batched transfer.
    ``parallel=False`` streams batches through the driver — for
    single-writer engines (the DuckDB test harness) or when the target
    cannot take N connections.  ``exact_counts=True`` trades executemany
    batching for an exact per-row inserted count.

    ``method="copy"`` (PostgreSQL bulk path): each writer COPYs its rows
    into a temp stage and merges with one set-based ON CONFLICT INSERT —
    exact counts always, and the 100×-backfill throughput the interpolated
    text path cannot reach.  Requires a ``copy_in``-capable connection
    (``sinks.pgwire``).
    """
    columns = df.columns
    deduped = df.dropDuplicates(pk)
    sql = conflict_ignore_sql(table, columns, pk, paramstyle)
    # pyarrow's CSV writer can't express binary columns — those take the
    # generic tuple encoder (copy_text_row handles bytea)
    has_binary = any(
        "binary" in f.dataType.simpleString() for f in df.schema.fields
    )

    def write_rows(rows) -> UpsertResult:
        if method == "copy":
            return _write_copy(rows, table, columns, pk, connection_factory)
        return _write_tuples(
            rows, sql, connection_factory, batch_size, exact_counts
        )

    if not parallel:
        rows = (tuple(r[c] for c in columns) for r in deduped.toLocalIterator())
        return write_rows(rows)

    import pyarrow as pa

    def part(batches) -> Iterator["pa.RecordBatch"]:
        if method == "copy" and not has_binary:
            res = _write_copy_arrow(
                batches, table, columns, pk, connection_factory
            )
        else:
            res = write_rows(_arrow_tuples(batches, columns))
        yield pa.RecordBatch.from_pydict(
            {
                "attempted": pa.array([res.attempted], pa.int64()),
                "inserted": pa.array([res.inserted], pa.int64()),
            }
        )

    counts = deduped.mapInArrow(part, "attempted long, inserted long").collect()
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
    paramstyle: str = "qmark",
    batch_size: int = 1000,
    parallel: bool = True,
    exact_counts: bool = False,
    method: str = "insert",
    on_result: Callable[[int, UpsertResult], None] | None = None,
):
    """``foreachBatch`` adapter: streaming micro-batches -> idempotent sink.

    Spark's checkpoint gives at-least-once batch delivery; the PK +
    DO NOTHING collapses replays to exactly-once rows — the same
    crash-safety argument as the reference loop (SURVEY §4.1)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        res = write_conflict_ignore(
            batch_df,
            table,
            pk,
            connection_factory,
            paramstyle=paramstyle,
            batch_size=batch_size,
            parallel=parallel,
            exact_counts=exact_counts,
            method=method,
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
    return f"""
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
) PARTITION BY HASH (block_hash);
{parts}
"""
