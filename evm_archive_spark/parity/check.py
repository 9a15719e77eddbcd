"""The one gate checker behind ``tests/test_parity.py``,
``scripts/check_parity.py`` and ``scripts/driver_sim.py``: run a parity
gate on Spark and its oracle on DuckDB, canonicalize both (rows
order-insensitive, columns sorted by name — the CORRECTNESS_r{N}.json
convention) and compare."""

from __future__ import annotations

import datetime as dt
import math
import time
from dataclasses import dataclass
from decimal import Decimal

import duckdb

from ..schemas import TESTDATA_TABLES

#: Gates that drive the Python RPC DataSource: concurrent registration
#: and worker-pool spin-up raced under a thread pool (one flaky
#: q_enrich_ts in a full-suite run; clean when serialized).
_SERIAL = frozenset(
    {"q_ingest_transform", "q_enrich_ts", "q_rpc_ingest", "q_price_source"}
)


def serial(q) -> bool:
    """True for the gates that must not run in a thread pool: the
    streaming gates (real AvailableNow streams against shared memory
    sinks) and the RPC-source gates."""
    return q.name.startswith("q_st") or q.name in _SERIAL


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return str(v.normalize()) if v == v.to_integral_value() else str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table.  Not
    thread-safe: a pooled caller opens one per worker."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@dataclass(frozen=True)
class Result:
    name: str
    #: PASS, ROWS_ONLY, or the failure kind: spark_error, oracle_error,
    #: schema_mismatch, value_mismatch
    mode: str
    rows: int
    wall_s: float
    why: str | None = None  # the failure message

    @property
    def ok(self) -> bool:
        return self.why is None

    def __str__(self) -> str:
        if not self.ok:
            return f"FAIL {self.name}: {self.why}"
        kind = "rows-only, " if self.mode == "ROWS_ONLY" else ""
        return f"PASS {self.name} ({kind}{self.rows} rows, {self.wall_s:.1f}s)"


def check(spark, q, sf_dir: str, con) -> Result:
    """Run gate ``q`` on ``spark`` against the tables in ``sf_dir`` and
    its oracle on ``con``; never raises."""
    t0 = time.time()

    def done(mode, rows, why=None):
        return Result(q.name, mode, rows, round(time.time() - t0, 2), why)

    try:
        sdf = q.spark(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001 — reported per gate
        return done("spark_error", 0, f"spark error {e!r}")
    if q.oracle is None:
        if not scols:
            return done("schema_mismatch", len(srows),
                        "rows-only gate produced no schema")
        return done("ROWS_ONLY", len(srows))
    try:
        res = con.execute(q.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:  # noqa: BLE001
        return done("oracle_error", len(srows), f"oracle error {e!r}")
    if sorted(scols) != sorted(ocols):
        return done("schema_mismatch", len(srows),
                    f"columns {scols} vs {ocols}")
    sc, oc = canon(srows, scols), canon(orows, ocols)
    if sc != oc:
        diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
        return done("value_mismatch", len(sc),
                    f"rows {len(sc)} vs {len(oc)}, diffs {diffs}")
    return done("PASS", len(sc))
