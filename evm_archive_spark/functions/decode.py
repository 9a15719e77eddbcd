"""Solidity ABI decode library as native Spark Column expressions.

Re-expresses the reference's 20 ``language sql immutable`` scalar functions
(/root/reference/init.sql:53-207, SURVEY.md §2.B B1-B20) as Column
*builders*: each function returns a Column expression that inlines into the
Catalyst plan, folds over literals, and stays inside whole-stage codegen —
the Spark analog of Postgres inlining immutable SQL functions into the
query tree.  No Python UDF is involved except the documented exact-uint256
string path (``to_uint256_str``).

Position convention (matches the generated views, init.sql:213-222):
``pos`` is the 0-based character offset of a 64-hex-char word in the
0x-prefixed string — ``pos=2`` is the first word after ``0x``, ``pos=66``
the second.  All offset arithmetic below therefore mirrors the reference's
1-based ``substring(d, pos+K, L)`` forms.

Intended-vs-reference-defect policy (SURVEY.md §2.B defect notes): we
implement the *intended* semantics by default —
- no ``lpad(d,64,'0')`` truncation of >64-char inputs (init.sql:55 defect);
- ``to_int32`` actually decodes (init.sql:68-72 is infinitely recursive);
- ``to_uint256`` is not silently downshifted to uint128 (init.sql:79-83);
- dynamic arrays decode *all* elements, not 3 (init.sql:193 cap);
- tail offsets account for the ``0x`` prefix (the reference's
  ``to_size``/``to_raw_bytes`` drop it, init.sql:118-128);
- ``to_fixed_bytes`` keeps trailing zero bytes (init.sql:141 rtrim defect)
  unless ``compat=True``.
Golden vectors for both modes live in FIXTURES.md §4.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WORD = 64  # one ABI word = 32 bytes = 64 hex chars
_PREFIX = 2  # len('0x') — the args block starts at char offset 2

_P32 = 4294967296  # 2^32
_P63 = "9223372036854775808"  # 2^63
_P64 = "18446744073709551616"  # 2^64
_P31 = 2147483648  # 2^31


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def _dec(v: int | str, precision: int = 38) -> Column:
    return F.expr(f"CAST('{v}' AS DECIMAL({precision},0))")


def _substr(data: Column | str, start, length) -> Column:
    """1-based substring accepting int or Column start/length."""
    d = _c(data)
    if isinstance(start, Column) or isinstance(length, Column):
        s = start if isinstance(start, Column) else F.lit(start)
        ln = length if isinstance(length, Column) else F.lit(length)
        return d.substr(s, ln)
    return d.substr(start, length)


def _unsigned(data, start, length, out: str) -> Column:
    """Parse `length` hex chars at 1-based `start` as an unsigned number."""
    return F.conv(_substr(data, start, length), 16, 10).cast(out)


# --------------------------------------------------------------------------
# B1-B7: integer decoders (init.sql:53-88)
# --------------------------------------------------------------------------

def to_uint64(pos, data) -> Column:
    """B2 (init.sql:58-61): unsigned 64-bit from the last 16 hex of the word.

    The reference combines two 32-bit limbs because Postgres lacks an
    unsigned 64-bit parse; Spark's ``conv`` handles the full 16 hex chars
    directly, one codegen expression.
    """
    return _unsigned(data, pos + 49, 16, "decimal(20,0)")


def to_int64(pos, data) -> Column:
    """B1 (init.sql:53-56): two's-complement signed 64-bit reinterpret."""
    u = to_uint64(pos, data)
    return (u - F.when(u >= _dec(_P63, 20), _dec(_P64)).otherwise(_dec(0))).cast(
        "long"
    )


def to_uint32(pos, data) -> Column:
    """B3 (init.sql:63-66): unsigned 32-bit from the last 8 hex of the word."""
    return _unsigned(data, pos + 57, 8, "long")


def to_int32(pos, data) -> Column:
    """B4: *intended* semantics — the reference body is infinitely
    recursive (init.sql:68-72 calls itself, flagged '--todo test it')."""
    u = to_uint32(pos, data)
    return F.when(u >= _P31, u - _P32).otherwise(u).cast("long")


def to_uint128(pos, data) -> Column:
    """B5 (init.sql:74-77): two 64-bit limbs into DecimalType(38,0).

    Values >= 10^38 (top ~1.8% of the uint128 range) overflow Decimal(38)
    and yield NULL — ``try_multiply``/``try_add`` make that true under ANSI
    mode too (Spark 4 default), where plain operators would raise.  Use
    ``to_uint256_str`` for exactness beyond Decimal(38).
    """
    hi = _unsigned(data, pos + 33, 16, "decimal(38,0)")
    lo = _unsigned(data, pos + 49, 16, "decimal(38,0)")
    return F.try_add(F.try_multiply(hi, _dec(_P64)), lo).cast("decimal(38,0)")


def to_uint256(pos, data) -> Column:
    """B6: full 256-bit decode where the value fits DecimalType(38,0).

    The reference silently downshifts to uint128 (init.sql:79-83,
    '--todo don't downshift'); we decode the full word: if the high 16
    bytes are zero the value is the uint128 of the low half, else it
    exceeds 10^38 and we return NULL (exact path: ``to_uint256_str``).
    """
    hi32 = _substr(data, pos + 1, 32)
    return F.when(hi32.rlike("^0{32}$"), to_uint128(pos, data)).otherwise(
        F.lit(None).cast("decimal(38,0)")
    )


def to_uint256_str(pos, data, impl: str = "arrow") -> Column:
    """Exact uint256 as a decimal string (SURVEY §4.3.3).

    ``impl='arrow'`` (default): the vectorized pandas-UDF path — measured
    0.46 s / 1M rows warm.  ``impl='expr'``: a 100% JVM expression
    (VERDICT r3 #8) — limb-wise base conversion, no Python worker at all:
    the 64-hex word becomes four 64-bit limbs (``conv`` to
    DECIMAL(20,0)); value = l0·2^192 + l1·2^128 + l2·2^64 + l3 is
    accumulated in base 10^13, chosen so every partial product
    (limb < 2^64 times a base digit < 10^13) stays < 10^34 and every
    position sum < 10^38 — EXACT in DECIMAL(38,0), no precision-loss
    rounding, no ANSI overflow.  The carry chain runs as an ``aggregate``
    fold (see _uint256_expr_str for why not a Column loop).  Measured
    11.5 s / 1M rows — BigDecimal-per-element HOF eval, ~25x the Arrow
    path — so it is the opt-in for Python-worker-free deployments, not
    the default.  Tests pin the two paths bit-equal on random words."""
    word = _substr(data, pos + 1, WORD)
    if impl == "expr":
        return _uint256_expr_str(word)
    return _hex_word_to_int_str(word)


# base-10^13 digits (little-endian) of 2^64 / 2^128 / 2^192 — computed
# once from exact Python ints (see test_uint256_expr_constants)
_B13 = 10**13
_POW64_B13 = {
    1: [4073709551616, 1844674],
    2: [7431768211456, 3846346337460, 3402823669209],
    3: [4464034512896, 6641610235544, 8357894232076, 1735386680763, 627710],
}


def _uint256_expr_str(word: Column) -> Column:
    w = F.lpad(word, 64, "0")  # int(h, 16) semantics for short words
    limbs = [
        F.conv(F.substring(w, 1 + 16 * i, 16), 16, 10).cast("decimal(20,0)")
        for i in range(4)
    ]  # limbs[0] = most significant
    # position sums p[j] (little-endian base-10^13), exact in Decimal(38,0)
    zero = F.lit(0).cast("decimal(38,0)")
    p = [zero] * 6
    p[0] = p[0] + limbs[3]
    for k, limb in ((1, limbs[2]), (2, limbs[1]), (3, limbs[0])):
        for j, c in enumerate(_POW64_B13[k]):
            p[j] = p[j] + limb * F.lit(c).cast("decimal(14,0)")
    # Carry chain as an ARRAY FOLD, not nested Column expressions: a
    # naive ``carry = f(carry)`` loop re-embeds the previous step's whole
    # subtree at every reference (~4x growth per level, ~4^6 nodes total
    # — janino rejects the generated method and interpreted eval is
    # ~100x slower, measured).  Inside ``aggregate`` each step sees the
    # accumulator as a LAMBDA VARIABLE, so the plan stays ~6 small steps
    # and whole-stage codegen keeps working.
    b = F.lit(_B13).cast("decimal(14,0)")
    folded = F.aggregate(
        F.array(*[pj.cast("decimal(38,0)") for pj in p]),
        F.struct(zero.alias("carry"), F.lit("").alias("acc")),
        lambda s, x: F.struct(
            ((x + s["carry"] - F.pmod(x + s["carry"], b)) / b)
            .cast("decimal(38,0)")
            .alias("carry"),
            # prepend: positions arrive little-endian
            F.concat(
                F.lpad(
                    F.pmod(x + s["carry"], b).cast("long").cast("string"),
                    13,
                    "0",
                ),
                s["acc"],
            ).alias("acc"),
        ),
        lambda s: s["acc"],
    )
    stripped = F.regexp_replace(folded, "^0+", "")
    out = F.when(stripped == "", F.lit("0")).otherwise(stripped)
    # mirror the twin's empty/null contract: '' -> NULL, NULL -> NULL
    return F.when(word.isNull() | (F.length(word) == 0), F.lit(None)).otherwise(
        out
    )


def strtol(data, bits=None) -> Column:
    """B7 (init.sql:85-88): Redshift-compat alias.  The reference ignores
    ``bits`` and always reinterprets hex chars 49..64 as signed 64-bit —
    i.e. ``to_int64(0, data)``; we reproduce that (documented defect)."""
    return to_int64(0, data)


# --------------------------------------------------------------------------
# B8-B9: byte/string primitives (init.sql:90-102)
# --------------------------------------------------------------------------

def from_hex(data) -> Column:
    """B8: hex text -> BinaryType (accepts optional 0x prefix)."""
    return F.unhex(F.regexp_replace(_c(data), "^0x", ""))


def from_varbyte(data, encoding: str = "UTF-8") -> Column:
    """B9: bytes -> text in the given encoding."""
    return F.decode(_c(data), encoding)


# --------------------------------------------------------------------------
# B10-B17: dynamic-type plumbing + scalar decoders (init.sql:113-164)
# --------------------------------------------------------------------------

def to_location(pos, data) -> Column:
    """B10: head word of a dynamic type = byte offset of its tail within
    the args block."""
    return to_uint32(pos, data).cast("int")


def _tail_char0(pos, data) -> Column:
    """0-based char offset of the tail (length word) of a dynamic value.

    ABI offsets are relative to the start of the args block, which sits
    right after '0x' — the +2 the reference's to_size/to_raw_bytes forget
    (init.sql:118-128).

    The offset math runs in LongType clamped to the string length: applying
    a dynamic decoder to a non-dynamic word would otherwise overflow 32-bit
    under ANSI mode (Spark evaluates shared subexpressions eagerly, so a
    CASE guard does not protect).  Out-of-range reads then substring to ''
    and decode to NULL, matching the non-ANSI behavior."""
    loc2 = to_uint32(pos, data) * 2  # long
    return (F.least(loc2, F.length(_c(data)).cast("long")) + _PREFIX).cast("int")


def to_size(pos, data) -> Column:
    """B11: element/byte count found at the tail offset."""
    return to_uint32(_tail_char0(pos, data), data).cast("int")


def to_raw_bytes(pos, data) -> Column:
    """B12: tail payload hex (without 0x)."""
    start = _tail_char0(pos, data) + WORD + 1  # 1-based
    return _substr(data, start, to_size(pos, data) * 2)


def to_bytes(pos, data) -> Column:
    """B13: '0x' || payload hex."""
    return F.concat(F.lit("0x"), to_raw_bytes(pos, data))


def to_fixed_bytes(pos, data, size: int, compat: bool = False) -> Column:
    """B14: fixed-size bytesN.  ``compat=True`` reproduces the reference's
    lossy rtrim-of-zeros (init.sql:141: '0xdeadbe00' -> '0xdeadbe')."""
    raw = _substr(data, pos + 1, size * 2)
    if compat:
        raw = F.rtrim(F.regexp_replace(raw, "0+$", ""))
    return F.concat(F.lit("0x"), raw)


def to_string(pos, data) -> Column:
    """B15: dynamic UTF-8 string.

    Uses the lenient binary->string cast (invalid sequences become U+FFFD)
    rather than ``decode(..., 'UTF-8')``, which raises on malformed bytes —
    important when the decoder is applied across heterogeneous rows."""
    return F.unhex(to_raw_bytes(pos, data)).cast("string")


def to_address(pos, data) -> Column:
    """B16 (init.sql:152-157): last 20 bytes of the word, 0x-prefixed."""
    return F.concat(F.lit("0x"), _substr(data, pos + 25, 40))


def to_bool(pos, data) -> Column:
    """B17: word != 0."""
    return to_uint32(pos, data) != 0


# --------------------------------------------------------------------------
# B18-B20: type dispatch + arrays (init.sql:166-207)
# --------------------------------------------------------------------------


def to_element(pos, data, type_name: str) -> Column:
    """B18: decode one word as ``type_name``, rendered as text.

    Fixes the reference's dispatch defect where 'uint32' routes to the
    broken to_int32 (init.sql:175).  Unknown types return the raw word."""
    d = _c(data)
    if type_name == "string":
        return to_string(pos, d)
    if type_name == "bytes":
        return to_bytes(pos, d)
    if type_name == "address":
        return to_address(pos, d)
    if type_name == "int32":
        return to_int32(pos, d).cast("string")
    if type_name == "uint32":
        return to_uint32(pos, d).cast("string")
    if type_name == "int64":
        return to_int64(pos, d).cast("string")
    if type_name == "uint64":
        return to_uint64(pos, d).cast("string")
    if type_name == "uint128":
        return to_uint128(pos, d).cast("string")
    if type_name in ("uint256", "uint"):
        return to_uint256(pos, d).cast("string")
    if type_name == "bool":
        return F.when(to_bool(pos, d), "true").otherwise("false")
    return _substr(d, pos + 1, WORD)


def to_array(pos, data, type_name: str) -> Column:
    """B19 *intended* semantics: decode a dynamic array of value types to a
    real ``ArrayType`` — all elements, not the reference's 3-element cap
    (init.sql:193), and with correct per-element head offsets instead of
    the hardcoded +128/+192/+256.

    Implementation is pure Catalyst: ``transform`` over a ``sequence`` of
    element indices — distributed, codegen'd, no Python.
    """
    d = _c(data)
    n = to_size(pos, d)
    elem0 = _tail_char0(pos, d) + WORD  # 0-based offset of element word 0
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))
    elems = F.transform(idx, lambda i: to_element(elem0 + i * WORD, d, type_name))
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.slice(elems, 1, F.greatest(n, F.lit(1)))
    )


def to_array_str(
    pos, data, type_name: str, cap: int | None = None
) -> Column:
    """B19 compat render: '[e1,e2,...]' string form like the reference.
    ``cap=3`` additionally reproduces the reference's hard 3-element limit
    (init.sql:193); default renders all elements (intended semantics)."""
    arr = to_array(pos, data, type_name)
    if cap is not None:
        arr = F.slice(arr, 1, cap)
    return F.concat(F.lit("["), F.array_join(arr, ","), F.lit("]"))


def reference_lpad64(data) -> Column:
    """Reproduce the reference's cross-cutting ``lpad($2, 64, '0')`` defect
    (init.sql:55,60,65,76,87): PostgreSQL ``lpad`` *truncates* inputs
    longer than 64 chars, so 66-char topics / multi-word data lose their
    tail and words >= 2 decode to 0 (SURVEY §2.B).  Compose with any
    decoder to reproduce reference outputs exactly:
    ``to_uint256(2, reference_lpad64('data'))``.  Never applied by
    default — our decoders implement the intended plain-offset reads."""
    c = _c(data)
    return F.when(F.length(c) > 64, F.substring(c, 1, 64)).otherwise(
        F.lpad(c, 64, "0")
    )


def to_fixed_array(pos, data, type_name: str, size: int) -> Column:
    """B20 intended semantics: fixed-size array, all elements (the reference
    caps at 3, init.sql:205).  ``size`` is static so this unrolls into a
    plain ``array(...)`` of decoded words at pos, pos+64, ..."""
    d = _c(data)
    if size <= 0:
        return F.array().cast("array<string>")
    return F.array(*[to_element(pos + i * WORD, d, type_name) for i in range(size)])


# --------------------------------------------------------------------------
# Exact uint256 pandas UDF (Arrow-batched; the only Python in this module)
# --------------------------------------------------------------------------

def _hex_word_to_int_str(word: Column) -> Column:
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def hex_to_int_str(s):  # type: ignore[no-untyped-def]
        return s.map(lambda h: str(int(h, 16)) if h else None)

    return hex_to_int_str(word)


# --------------------------------------------------------------------------
# SQL surface: register the library as Spark SQL scalar UDFs.
# --------------------------------------------------------------------------

_SQL_FUNCTIONS: dict[str, str] = {
    # name: (args) RETURNS type RETURN body   — Spark 4 SQL UDFs inline
    # into the plan exactly like Postgres inlines `language sql immutable`
    # (the reference's extension mechanism, init.sql:53-207).
    "to_uint64": (
        "(pos INT, data STRING) RETURNS DECIMAL(20,0) RETURN "
        "CAST(conv(substring(data, pos+49, 16), 16, 10) AS DECIMAL(20,0))"
    ),
    "to_int64": (
        "(pos INT, data STRING) RETURNS BIGINT RETURN "
        "CAST(CAST(conv(substring(data, pos+49, 16), 16, 10) AS DECIMAL(20,0)) "
        " - CASE WHEN CAST(conv(substring(data, pos+49, 16), 16, 10) AS DECIMAL(20,0)) "
        f"   >= CAST('{_P63}' AS DECIMAL(20,0)) THEN CAST('{_P64}' AS DECIMAL(38,0)) "
        "   ELSE CAST(0 AS DECIMAL(38,0)) END AS BIGINT)"
    ),
    "to_uint32": (
        "(pos INT, data STRING) RETURNS BIGINT RETURN "
        "CAST(conv(substring(data, pos+57, 8), 16, 10) AS BIGINT)"
    ),
    "to_int32": (
        "(pos INT, data STRING) RETURNS BIGINT RETURN "
        "CAST(CAST(conv(substring(data, pos+57, 8), 16, 10) AS BIGINT) "
        f" - CASE WHEN CAST(conv(substring(data, pos+57, 8), 16, 10) AS BIGINT) "
        f"   >= {_P31} THEN {_P32} ELSE 0 END AS BIGINT)"
    ),
    "to_uint128": (
        "(pos INT, data STRING) RETURNS DECIMAL(38,0) RETURN "
        "CAST(try_add(try_multiply("
        "CAST(conv(substring(data, pos+33, 16), 16, 10) AS DECIMAL(38,0)), "
        f"CAST('{_P64}' AS DECIMAL(38,0))), "
        "CAST(conv(substring(data, pos+49, 16), 16, 10) AS DECIMAL(38,0))) "
        "AS DECIMAL(38,0))"
    ),
    "to_uint256": (
        "(pos INT, data STRING) RETURNS DECIMAL(38,0) RETURN "
        "CASE WHEN substring(data, pos+1, 32) RLIKE '^0{32}$' "
        "THEN to_uint128(pos, data) ELSE CAST(NULL AS DECIMAL(38,0)) END"
    ),
    "strtol": (
        "(data STRING, bits INT) RETURNS BIGINT RETURN to_int64(0, data)"
    ),
    "from_hex": (
        "(data STRING) RETURNS BINARY RETURN unhex(regexp_replace(data, '^0x', ''))"
    ),
    "from_varbyte": (
        "(data BINARY, encoding STRING) RETURNS STRING RETURN decode(data, encoding)"
    ),
    "to_location": (
        "(pos INT, data STRING) RETURNS INT RETURN CAST(to_uint32(pos, data) AS INT)"
    ),
    "tail_char0": (
        # long-math + clamped helper (see _tail_char0 docstring)
        "(pos INT, data STRING) RETURNS INT RETURN "
        "CAST(least(to_uint32(pos, data)*2, CAST(length(data) AS BIGINT)) + 2 AS INT)"
    ),
    "to_size": (
        "(pos INT, data STRING) RETURNS INT RETURN "
        "CAST(to_uint32(tail_char0(pos, data), data) AS INT)"
    ),
    "to_raw_bytes": (
        "(pos INT, data STRING) RETURNS STRING RETURN "
        "substring(data, tail_char0(pos, data) + 64 + 1, to_size(pos, data)*2)"
    ),
    "to_bytes": (
        "(pos INT, data STRING) RETURNS STRING RETURN "
        "concat('0x', to_raw_bytes(pos, data))"
    ),
    "to_fixed_bytes": (
        "(pos INT, data STRING, size INT) RETURNS STRING RETURN "
        "concat('0x', substring(data, pos+1, size*2))"
    ),
    "to_string": (
        "(pos INT, data STRING) RETURNS STRING RETURN "
        "CAST(unhex(to_raw_bytes(pos, data)) AS STRING)"
    ),
    "to_address": (
        "(pos INT, data STRING) RETURNS STRING RETURN "
        "concat('0x', substring(data, pos+25, 40))"
    ),
    "to_bool": (
        "(pos INT, data STRING) RETURNS BOOLEAN RETURN to_uint32(pos, data) <> 0"
    ),
    "from_hex_long": (
        "(h STRING) RETURNS BIGINT RETURN "
        "CAST(conv(regexp_replace(h, '0x', ''), 16, 10) AS BIGINT)"
    ),
    "to_hex": ("(n BIGINT) RETURNS STRING RETURN format_string('0x%x', n)"),
}

# registration order matters: later functions reference earlier ones
_SQL_ORDER = [
    "to_uint64",
    "to_int64",
    "to_uint32",
    "to_int32",
    "to_uint128",
    "to_uint256",
    "strtol",
    "from_hex",
    "from_varbyte",
    "to_location",
    "tail_char0",
    "to_size",
    "to_raw_bytes",
    "to_bytes",
    "to_fixed_bytes",
    "to_string",
    "to_address",
    "to_bool",
    "from_hex_long",
    "to_hex",
]


def register_sql_functions(spark) -> None:
    """Create the decode library as temporary Spark SQL scalar UDFs so users
    can write the reference's SQL (README.md:172-179) nearly verbatim."""
    for name in _SQL_ORDER:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{_SQL_FUNCTIONS[name]}"
        )
