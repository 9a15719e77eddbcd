"""Driver-sim: run parity gates through a FRESH DEFAULT SparkSession
(ANSI on, no engine configs), mirroring the external correctness gate.

Usage (from the repo root — scripts/ has no __init__.py, so the repo
root must be on sys.path for both imports below):

    PYTHONPATH=. python scripts/driver_sim.py [sf_dir] [--head N] [--only a,b,c]

Default checks the first 50 registry entries (the graded window).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from evm_archive_spark.parity.check import check, oracle_connection
from evm_archive_spark.parity.queries import PARITY_QUERIES


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    head, only, out_path = 50, None, None
    it = iter(args)
    for a in it:
        if a == "--head":
            head = int(next(it))
        elif a == "--only":
            only = set(next(it).split(","))
        elif a == "--out":
            # full-registry sweep artifact (VERDICT r6 #2): per-gate
            # pass/rows/wall JSON so whole-registry greenness is
            # auditable without re-running anything
            out_path = next(it)
        else:
            sf_dir = a

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    duck = oracle_connection(sf_dir)

    todo = [q for q in PARITY_QUERIES[:head] if only is None or q.name in only]
    failures = []
    record: dict[str, dict] = {}

    for q in todo:
        r = check(spark, q, sf_dir, duck)
        record[q.name] = {
            "pass": r.ok,
            "mode": r.mode,
            "rows": r.rows,
            "wall_s": r.wall_s,
        }
        if r.mode in ("spark_error", "oracle_error"):
            record[q.name]["detail"] = r.why[:200]
        if not r.ok:
            failures.append(q.name)
        print(r, flush=True)

    print(f"\n{len(todo) - len(failures)}/{len(todo)} ok; failures: {failures}")
    if out_path:
        import json

        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_gates": len(todo),
                    "n_pass": len(todo) - len(failures),
                    "failures": failures,
                    "gates": record,
                },
                fh,
                indent=1,
            )
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
