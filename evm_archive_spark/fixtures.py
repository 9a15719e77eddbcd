"""Reference-shaped fixtures (FIXTURES.md §3) as deterministic literals.

A single source of truth drives both sides of the correctness gate: the
same Python literals become (a) an in-memory Spark DataFrame and (b) a
DuckDB ``WITH name(cols) AS (VALUES ...)`` CTE for the oracle SQL.
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from .schemas import LOGS_SCHEMA, PRICE_SCHEMA

# Real event signature hashes from the reference's generated views
# (init.sql:213-222).
TOPIC_APPROVAL = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
TOPIC_AUTHORITY_UPDATED = (
    "0xa3396fd7f6e0a21b50e5089d2da70d5ac0a3bbbd1f617a93f134b76389980198"
)
TOPIC_DEPOSIT = "0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7"
TOPIC_OWNERSHIP_TRANSFERRED = (
    "0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0"
)
TOPIC_TRANSFER = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
TOPIC_WITHDRAW = "0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db"

ZERO_WORD = "0x" + "0" * 64

# README.md:36-38 worked example row (block 222431); hex value
# 0xaad50c474db4eb50 = 12309758656873032528 (FIXTURES.md G2 note: the
# README prints ...032448, a float artifact — the hex is authoritative).
README_CONTRACT = "0xcd3b51d98478d53f4515a306be565c6eebef1d58"
README_TO_ADDR = "0xf78031c993afb43e79f017938326ff34418ec36e"
README_AMOUNT = 12309758656873032528


def word_uint(v: int) -> str:
    """64-hex-char ABI word for an unsigned int (no 0x prefix)."""
    return format(v, "064x")


def addr_word(addr: str) -> str:
    """Left-pad a 20-byte 0x-address into a 0x-prefixed 32-byte topic."""
    return "0x" + "0" * 24 + addr[2:]


def mk_addr(seed: int) -> str:
    return "0x" + format(seed, "040x")


def _bh(block: int) -> str:
    return "0x" + format(0xB10C << 200 | block, "064x")


def _th(i: int) -> str:
    return "0x" + format(0x7A << 200 | i, "064x")


def logs_rows() -> list[tuple]:
    """>=20 synthetic events incl. the README row, duplicate PKs, a removed
    tombstone, NULL data, and an only-topic0 row (FIXTURES.md §3.1)."""
    rows: list[tuple] = []

    def add(addr, t0, t1, t2, t3, data, block, tx_i, log_i, removed=False):
        rows.append(
            (
                addr,
                t0,
                t1,
                t2,
                t3,
                data,
                _bh(block),
                block,
                _th(block * 100 + tx_i),
                tx_i,
                log_i,
                removed,
                None,  # block_timestamp never populated (get_logs.go:118-119)
            )
        )

    # the README worked example (Transfer mint from the zero address)
    add(
        README_CONTRACT,
        TOPIC_TRANSFER,
        ZERO_WORD,
        addr_word(README_TO_ADDR),
        "",
        "0x" + word_uint(README_AMOUNT),
        222431,
        0,
        0,
    )
    # 9 more transfers with varied amounts (one exceeding 2^64)
    for i in range(1, 10):
        amount = 10**i + i if i < 9 else 2**96 + 7
        add(
            README_CONTRACT,
            TOPIC_TRANSFER,
            addr_word(mk_addr(0xA000 + i)),
            addr_word(mk_addr(0xB000 + i)),
            "",
            "0x" + word_uint(amount),
            222431 + i,
            i % 3,
            i,
        )
    # 4 approvals
    for i in range(4):
        add(
            mk_addr(0xC0FFEE),
            TOPIC_APPROVAL,
            addr_word(mk_addr(0xA100 + i)),
            addr_word(mk_addr(0xB100 + i)),
            "",
            "0x" + word_uint(5000 + i),
            222450 + i,
            i,
            i,
        )
    # 4 deposits (two-word data: assets, shares — init.sql:215 shape)
    for i in range(4):
        add(
            mk_addr(0xDE9051),
            TOPIC_DEPOSIT,
            addr_word(mk_addr(0xA200 + i)),
            addr_word(mk_addr(0xB200 + i)),
            "",
            "0x" + word_uint(1000 * (i + 1)) + word_uint(2500 * (i + 1)),
            222460 + i,
            i,
            i,
        )
    # 2 withdraws (3 indexed topics + two-word data)
    for i in range(2):
        add(
            mk_addr(0xDE9051),
            TOPIC_WITHDRAW,
            addr_word(mk_addr(0xA300 + i)),
            addr_word(mk_addr(0xB300 + i)),
            addr_word(mk_addr(0xC300 + i)),
            "0x" + word_uint(700 + i) + word_uint(300 + i),
            222470 + i,
            i,
            i,
        )
    # reorg tombstone
    add(
        README_CONTRACT,
        TOPIC_TRANSFER,
        addr_word(mk_addr(0xA400)),
        addr_word(mk_addr(0xB400)),
        "",
        "0x" + word_uint(42),
        222480,
        0,
        0,
        removed=True,
    )
    # NULL data (empty payload nulled per get_logs.go:44-46)
    add(
        mk_addr(0xAA11CE),
        TOPIC_AUTHORITY_UPDATED,
        addr_word(mk_addr(0xA500)),
        addr_word(mk_addr(0xB500)),
        "",
        None,
        222481,
        1,
        0,
    )
    # only topic0 (topics 1..3 = '' — get_logs.go:40-43 semantics)
    add(
        mk_addr(0xFEED),
        "0x" + "ab" * 32,
        "",
        "",
        "",
        "0x" + word_uint(1),
        222482,
        0,
        1,
    )
    # 2 exact duplicate-PK rows of rows[0] and rows[1] (dedup check)
    rows.append(rows[0])
    rows.append(rows[1])
    return rows


def logs_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(logs_rows(), LOGS_SCHEMA)


# --- price_fix (FIXTURES.md §3.2): 2 tokens x 5 gapped blocks -------------

TOKEN_A = mk_addr(0x70C3A)
TOKEN_B = mk_addr(0x70C3B)

PRICE_ROWS: list[tuple[str, int, int]] = [
    (TOKEN_A, 100, 150000000000),
    (TOKEN_A, 105, 151000000000),
    (TOKEN_A, 117, 149500000000),
    (TOKEN_A, 130, 152250000000),
    (TOKEN_A, 142, 153000000000),
    (TOKEN_B, 100, 99000000),
    (TOKEN_B, 108, 101000000),
    (TOKEN_B, 121, 100500000),
    (TOKEN_B, 133, 98750000),
    (TOKEN_B, 145, 102000000),
]


def price_df(spark: SparkSession) -> DataFrame:
    rows = [(a, b, Decimal(p)) for a, b, p in PRICE_ROWS]
    return spark.createDataFrame(rows, PRICE_SCHEMA)


# --- transfers_fix (FIXTURES.md §3.3): decoded-event shape ----------------

TRANSFER_ROWS: list[tuple[str, int, str, str, int]] = [
    (TOKEN_A, 99, mk_addr(1), mk_addr(2), 1000),
    (TOKEN_A, 101, mk_addr(2), mk_addr(3), 2000),
    (TOKEN_A, 110, mk_addr(3), mk_addr(4), 1500),
    (TOKEN_A, 125, mk_addr(4), mk_addr(5), 750),
    (TOKEN_A, 131, mk_addr(5), mk_addr(6), 3000),
    (TOKEN_A, 150, mk_addr(6), mk_addr(7), 125),
    (TOKEN_B, 100, mk_addr(7), mk_addr(8), 90),
    (TOKEN_B, 107, mk_addr(8), mk_addr(9), 60),
    (TOKEN_B, 121, mk_addr(9), mk_addr(1), 45),
    (TOKEN_B, 122, mk_addr(1), mk_addr(3), 30),
    (TOKEN_B, 140, mk_addr(2), mk_addr(4), 15),
    (TOKEN_B, 146, mk_addr(3), mk_addr(5), 99),
]


def transfers_df(spark: SparkSession) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("block_number", T.LongType()),
            T.StructField("from_addr", T.StringType()),
            T.StructField("to_addr", T.StringType()),
            T.StructField("amount", T.DecimalType(38, 0)),
        ]
    )
    rows = [(t, b, f, to, Decimal(a)) for t, b, f, to, a in TRANSFER_ROWS]
    return spark.createDataFrame(rows, schema)


# --- SQL VALUES rendering (oracle-side mirror of the same literals) -------

def sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, Decimal)):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_cte(name: str, columns: list[str], rows: list[tuple]) -> str:
    """Render ``name(cols) AS (VALUES ...)`` for use in a WITH clause."""
    body = ",\n    ".join(
        "(" + ", ".join(sql_lit(v) for v in row) + ")" for row in rows
    )
    return f"{name}({', '.join(columns)}) AS (VALUES\n    {body})"


LOGS_COLUMNS = [f.name for f in LOGS_SCHEMA.fields]


def price_cte() -> str:
    return values_cte(
        "price_fix", ["address", "block_number", "price"], PRICE_ROWS
    )


def transfers_cte() -> str:
    return values_cte(
        "transfers_fix",
        ["token", "block_number", "from_addr", "to_addr", "amount"],
        TRANSFER_ROWS,
    )
