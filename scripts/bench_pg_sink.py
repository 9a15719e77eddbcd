"""Standalone PG sink bench: COPY into a flat and a hash-partitioned logs
table.

Runs bench.py's q_sink_pg_copy / q_sink_pg_copy_part entries (same staged
input, same scratch cluster, median of 3; each run's time goes to stderr)
without running the whole bench.

Usage: python scripts/bench_pg_sink.py [n_rows]
"""

from __future__ import annotations

import sys


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    import bench
    from evm_archive_spark.session import get_spark

    spark = get_spark("pg-sink-bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    bench.run_pg_sinks(spark, timings, n)
    for name, dt in timings.items():
        print(f"{name}: median {dt:.3f}s = {n / dt:,.0f} rows/s ({n} rows)")
    return 0 if timings else 1


if __name__ == "__main__":
    sys.exit(main())
