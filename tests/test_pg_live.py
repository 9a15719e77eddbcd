"""Live-PostgreSQL round-trip for the upsert sink (VERDICT r1 #8).

``sinks.pgwire`` is the minimal wire-protocol client for a real
PostgreSQL server.  This test starts a scratch cluster on a unix socket
(``bench._ScratchPg``, the recipe the PG sink benches use), runs the
sink's COPY + ON CONFLICT merge against it — one writer task
(``parallel=False``) and partition-parallel writers — and checks
real-server semantics: exact insert counts, idempotent replay,
conflict-ignore under concurrent writers, values that survive the COPY
CSV encoding.  Skips cleanly when no server binary / postgres user is
present.
"""

from __future__ import annotations

import pytest

from evm_archive_spark import fixtures
from evm_archive_spark.schemas import LOGS_PK
from evm_archive_spark.sinks import pgwire, upsert


def test_literal_adaptation_no_server():
    """Client-side interpolation (the psycopg2-faithful part) is testable
    without a server: quoting, escaping, type adaptation, arity check."""
    import datetime

    from evm_archive_spark.sinks.pgwire import PgError, _interpolate, _quote

    assert _quote(None) == "NULL"
    assert _quote(True) == "TRUE" and _quote(False) == "FALSE"
    assert _quote(42) == "42" and _quote(-1.5) == "-1.5"
    assert _quote("a'b; DROP TABLE x--") == "'a''b; DROP TABLE x--'"
    assert _quote(b"\x00\xff") == "'\\x00ff'::bytea"
    assert (
        _quote(datetime.datetime(2024, 1, 2, 3, 4, 5))
        == "'2024-01-02T03:04:05'::timestamp"
    )
    assert (
        _interpolate("INSERT INTO t VALUES (%s, %s)", (1, "x'y"))
        == "INSERT INTO t VALUES (1, 'x''y')"
    )
    with pytest.raises(PgError, match="mismatch"):
        _interpolate("VALUES (%s, %s)", (1,))
    with pytest.raises(PgError, match="NUL"):
        _quote("bad\x00string")


@pytest.fixture(scope="module")
def pg():
    from bench import _ScratchPg

    cluster = _ScratchPg()
    if not cluster.ok:
        pytest.skip(cluster.reason)
    try:
        yield {"host": cluster.base, "port": cluster.port}
    finally:
        cluster.stop()


def _connect(pg):
    return pgwire.connect(host=pg["host"], port=pg["port"])


def test_wire_client_basics(pg):
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT 1 AS one, 'a''b' AS s, NULL AS n")
    assert cur.fetchall() == [("1", "a'b", None)]
    assert [d[0] for d in cur.description] == ["one", "s", "n"]
    cur.execute("CREATE TABLE basics (a INT PRIMARY KEY, b TEXT)")
    cur.execute("INSERT INTO basics VALUES (%s, %s)", (1, "x"))
    assert cur.rowcount == 1
    cur.execute(
        "INSERT INTO basics VALUES (%s, %s) ON CONFLICT (a) DO NOTHING",
        (1, "y"),
    )
    assert cur.rowcount == 0  # real ON CONFLICT semantics
    con.commit()
    con.close()


def test_quoting_roundtrip_fuzz(pg):
    """Client-side interpolation must deliver arbitrary text to the server
    intact (the psycopg2-equivalent safety property): fuzz strings through
    INSERT %s -> SELECT and compare."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    con = _connect(pg)
    cur = con.cursor()
    cur.execute("CREATE TABLE IF NOT EXISTS fuzz (s TEXT)")
    con.commit()

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters="\x00"
            ),
            max_size=80,
        )
    )
    def roundtrip(s):
        cur.execute("DELETE FROM fuzz")
        cur.execute("INSERT INTO fuzz VALUES (%s)", (s,))
        cur.execute("SELECT s FROM fuzz")
        assert cur.fetchall() == [(s,)]

    roundtrip()
    con.rollback()
    con.close()


def test_sink_roundtrip_live_postgres(spark, pg):
    """One writer task on a real server: COPY stage + ON CONFLICT merge
    on the PK — exact counts, idempotent replay (get_logs.go:112-137
    semantics)."""
    con = _connect(pg)
    con.cursor().execute(upsert.LOGS_DDL_GENERIC)
    con.commit()
    con.close()

    df = fixtures.logs_df(spark)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert (r1.attempted, r1.inserted) == (n_unique, n_unique)

    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT COUNT(*) FROM logs")
    assert cur.fetchone() == (str(n_unique),)
    con.close()

    # replay: second pass inserts 0 (checked on the server, not the client)
    r2 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert (r2.attempted, r2.inserted) == (n_unique, 0)
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT COUNT(*) FROM logs")
    assert cur.fetchone() == (str(n_unique),)
    con.close()


def test_sink_parallel_arrow_writers_live_postgres(spark, pg):
    """parallel=True: each partition's Arrow writer opens its own real
    server connection — the actual multi-writer deployment shape."""
    con = _connect(pg)
    con.cursor().execute("DROP TABLE IF EXISTS logs")
    con.cursor().execute(upsert.LOGS_DDL_GENERIC)
    con.commit()
    con.close()

    df = fixtures.logs_df(spark).repartition(4)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    upsert.write_conflict_ignore(df, "logs", LOGS_PK, factory, parallel=True)
    upsert.write_conflict_ignore(  # concurrent-replay idempotency
        df, "logs", LOGS_PK, factory, parallel=True
    )
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT COUNT(*) FROM logs")
    assert cur.fetchone() == (str(n_unique),)
    con.close()


def test_copy_in_text_format_roundtrip(pg):
    """copy_in streams COPY CSV chunks (a row may span two chunks) and
    returns the server's exact row count; quoting covers commas, quotes,
    newlines, backslashes, empty string vs NULL and hex bytea."""
    con = _connect(pg)
    cur = con.cursor()
    cur.execute(
        "CREATE TABLE copy_rt (i INT, s TEXT, b BOOLEAN, by BYTEA, "
        "ts TIMESTAMP)"
    )
    chunks = [
        b'1,"plain",true,"\\x00ff","2024-01-02 03:04:05.000000Z"\n'
        b'2,"tab\there, ""q""",false,,\n3,"line\nbre',
        b'ak \\ back",,"\\x",\n4,,true,,\n5,"",,,\n',
    ]
    n = con.copy_in(
        "COPY copy_rt (i, s, b, by, ts) FROM STDIN (FORMAT csv)", chunks
    )
    assert n == 5
    con.commit()
    cur.execute("SELECT s FROM copy_rt ORDER BY i")
    assert [r[0] for r in cur.fetchall()] == [
        "plain", 'tab\there, "q"', "line\nbreak \\ back", None, "",
    ]
    cur.execute(
        "SELECT encode(by, 'hex'), ts::text FROM copy_rt ORDER BY i"
    )
    assert cur.fetchall()[:3] == [
        ("00ff", "2024-01-02 03:04:05"), (None, None), ("", None),
    ]
    # the connection stays usable for plain queries after a COPY
    cur.execute("SELECT COUNT(*) FROM copy_rt")
    assert cur.fetchone() == ("5",)
    con.close()


def test_copy_in_error_recovers_connection(pg):
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("CREATE TABLE copy_err (i INT)")
    con.commit()
    with pytest.raises(pgwire.PgError):
        con.copy_in(
            "COPY copy_err (i) FROM STDIN", [b"not_an_int\n"]
        )
    con.rollback()
    cur.execute("SELECT 1")
    assert cur.fetchone() == ("1",)
    con.close()


def test_sink_copy_method_live_postgres(spark, pg):
    """COPY into a temp stage + one set-based ON CONFLICT merge per
    partition — exact counts on both passes, idempotent replay, parallel
    Arrow writers (VERDICT r2 #5)."""
    con = _connect(pg)
    con.cursor().execute("DROP TABLE IF EXISTS logs")
    con.cursor().execute(upsert.LOGS_DDL_GENERIC)
    con.commit()
    con.close()

    df = fixtures.logs_df(spark).repartition(4)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=True
    )
    assert (r1.attempted, r1.inserted) == (n_unique, n_unique)
    r2 = upsert.write_conflict_ignore(  # replay: merge inserts 0
        df, "logs", LOGS_PK, factory, parallel=True
    )
    assert (r2.attempted, r2.inserted) == (n_unique, 0)
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT COUNT(*) FROM logs")
    assert cur.fetchone() == (str(n_unique),)
    con.close()


def test_sink_exact_counts_live_postgres(spark, pg):
    con = _connect(pg)
    con.cursor().execute("DROP TABLE IF EXISTS logs")
    con.cursor().execute(upsert.LOGS_DDL_GENERIC)
    con.commit()
    con.close()

    df = fixtures.logs_df(spark)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert (r1.attempted, r1.inserted) == (n_unique, n_unique)
    r2 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=False
    )
    assert (r2.attempted, r2.inserted) == (n_unique, 0)


def test_sink_copy_partitioned_target_live_postgres(spark, pg):
    """Server-side lever (VERDICT r3 #6): the COPY sink against a
    hash-partitioned logs table — DDL from logs_ddl_partitioned, sink
    code unchanged.  PostgreSQL routes the merge through the partitioned
    PK; counts stay exact and replay stays idempotent, which is the
    contract the bench variant (q_sink_pg_copy_part) relies on."""
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("DROP TABLE IF EXISTS logs")
    cur.execute(upsert.logs_ddl_partitioned(4))
    con.commit()
    # the parent really is partitioned (guards against silently running
    # the flat-table DDL)
    cur.execute(
        "SELECT COUNT(*) FROM pg_inherits WHERE inhparent = 'logs'::regclass"
    )
    assert cur.fetchone() == ("4",)
    con.close()

    df = fixtures.logs_df(spark).repartition(4)
    n_unique = df.dropDuplicates(LOGS_PK).count()
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=True
    )
    assert (r1.attempted, r1.inserted) == (n_unique, n_unique)
    r2 = upsert.write_conflict_ignore(
        df, "logs", LOGS_PK, factory, parallel=True
    )
    assert (r2.attempted, r2.inserted) == (n_unique, 0)
    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT COUNT(*) FROM logs")
    assert cur.fetchone() == (str(n_unique),)
    # rows actually landed across partitions, not all in one
    cur.execute(
        "SELECT COUNT(*) FROM (SELECT DISTINCT tableoid FROM logs) t"
    )
    assert int(cur.fetchone()[0]) > 1
    con.close()


@pytest.mark.parametrize("parallel", [True, False])
def test_sink_binary_timestamp_live_postgres(spark, pg, parallel):
    """BYTEA, TIMESTAMP, empty string and NULL through the sink's COPY
    CSV encoding: binary goes as hex text, the UTC timestamp keeps its
    wall time in a TIMESTAMP column, '' stays distinct from NULL."""
    import datetime

    from pyspark.sql import types as T

    con = _connect(pg)
    cur = con.cursor()
    cur.execute("DROP TABLE IF EXISTS typed")
    cur.execute(
        "CREATE TABLE typed (k BIGINT PRIMARY KEY, b BYTEA, "
        "ts TIMESTAMP, s TEXT)"
    )
    con.commit()
    con.close()

    ts = datetime.datetime(
        2024, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc
    )
    rows = [
        (1, b"\x00\xff,\"\n", ts, ""),
        (2, b"", None, None),
        (3, None, ts, "a,\"b\"\nc"),
    ]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("b", T.BinaryType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema).repartition(2)
    host, port = pg["host"], pg["port"]
    factory = lambda: pgwire.connect(host=host, port=port)  # noqa: E731

    r1 = upsert.write_conflict_ignore(
        df, "typed", ["k"], factory, parallel=parallel
    )
    assert (r1.attempted, r1.inserted) == (3, 3)
    r2 = upsert.write_conflict_ignore(
        df, "typed", ["k"], factory, parallel=parallel
    )
    assert (r2.attempted, r2.inserted) == (3, 0)

    con = _connect(pg)
    cur = con.cursor()
    cur.execute("SELECT k, encode(b, 'hex'), ts::text, s FROM typed ORDER BY k")
    assert cur.fetchall() == [
        ("1", "00ff2c220a", "2024-01-02 03:04:05.678901", ""),
        ("2", "", None, None),
        ("3", None, "2024-01-02 03:04:05.678901", 'a,"b"\nc'),
    ]
    con.close()
