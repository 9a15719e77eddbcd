"""Standalone mirror of the driver's correctness gate at an arbitrary SF.

Usage: python scripts/check_parity.py [sf_dir]

Runs every parity query on Spark and its oracle on DuckDB, canonicalizes
(order-insensitive rows, columns sorted by name), and prints PASS/FAIL per
query plus a summary — same convention as CORRECTNESS_r{N}.json.
Environment: SKIP_QUERIES / ONLY_QUERIES (comma lists), POOL (thread
count; >1 pools the non-serial gates), SWEEP_OUT (JSON record path).
"""

from __future__ import annotations

import os
import sys

from evm_archive_spark.parity.check import check, oracle_connection, serial
from evm_archive_spark.parity.queries import PARITY_QUERIES
from evm_archive_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    duck = oracle_connection(sf_dir)

    skip = set(filter(None, os.environ.get("SKIP_QUERIES", "").split(",")))
    only = set(filter(None, os.environ.get("ONLY_QUERIES", "").split(",")))
    pool = int(os.environ.get("POOL", "0"))
    todo = [
        q
        for q in PARITY_QUERIES
        if q.name not in skip and (not only or q.name in only)
    ]

    failures = []
    gates: dict[str, dict] = {}

    def report(r):
        if r.ok:
            gates[r.name] = {"pass": True, "mode": r.mode, "rows": r.rows,
                             "wall_s": r.wall_s}
        else:
            failures.append(r.name)
            gates[r.name] = {"pass": False, "mode": "FAIL"}
        print(r, flush=True)

    if pool > 1:
        # Same split as tests/test_parity.py: streaming + RPC-DataSource
        # gates serial, everything else thread-pooled with per-thread
        # DuckDB connections.
        from concurrent.futures import ThreadPoolExecutor

        pooled = [q for q in todo if not serial(q)]

        def run_pooled(q):
            con = oracle_connection(sf_dir)
            try:
                return check(spark, q, sf_dir, con)
            finally:
                con.close()

        with ThreadPoolExecutor(max_workers=pool) as ex:
            for res in ex.map(run_pooled, pooled):
                report(res)
        todo_serial = [q for q in todo if serial(q)]
    else:
        todo_serial = todo
    for q in todo_serial:
        report(check(spark, q, sf_dir, duck))

    print(f"\n{len(todo) - len(failures)}/{len(todo)} ok; "
          f"failures: {failures}")
    sweep_out = os.environ.get("SWEEP_OUT")
    if sweep_out:
        import json

        # keep the gates{pass,mode,rows,wall_s} shape the committed
        # SWEEP_r{N}.json artifacts use
        rec = {
            "sf_dir": sf_dir,
            "n_gates": len(todo),
            "n_pass": len(todo) - len(failures),
            "failures": failures,
            "gates": {
                n: {"pass": g["pass"], "mode": g.get("mode"),
                    "rows": g.get("rows"), "wall_s": g.get("wall_s")}
                for n, g in gates.items()
            },
        }
        with open(sweep_out, "w") as f:
            json.dump(rec, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
