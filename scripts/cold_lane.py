"""Cold single-run lane timing (r14, VERDICT r13 #2).

Fresh process, bench.py session shape + warm-up, then ONE
build + noop-sink action per named lane — the driver's cold-JVM
condition, not a warm median.  Prints one JSON line.  Every name is
resolved before the session starts: an unknown one exits non-zero at
once, naming it.

Usage: python scripts/cold_lane.py SF_DIR q_lane [q_lane ...]
"""
import json
import sys
import time
from pathlib import Path


def _lanes(names: list[str]) -> dict:
    """name -> run(spark, sf_dir) for each name, or exit listing the
    unknown ones."""
    import __spark_entry__ as E
    import bench

    queries = E.queries()
    lanes, unknown = {}, []
    for name in names:
        if name in queries:
            lanes[name] = lambda spark, sf_dir, q=queries[name]: (
                q(spark, sf_dir).write.format("noop").mode("overwrite").save())
        elif callable(custom := getattr(bench, name.removeprefix("q_"), None)):
            # bench.py custom entry (q_cdc_fastcdc / q_ingest_* / ...):
            # runs its own terminal action
            lanes[name] = custom
        else:
            unknown.append(name)
    if unknown:
        sys.exit(f"unknown lane(s): {', '.join(unknown)} (a lane is a key of "
                 "__spark_entry__.queries() or q_<function> of bench.py)")
    return lanes


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    lanes = _lanes(names)
    from evm_archive_spark.session import get_spark
    from evm_archive_spark.tables import register_testdata

    spark = get_spark("cold-lane")
    spark.sparkContext.setLogLevel("ERROR")
    # the bench's session warm-up (JVM/codegen spin-up, parquet footers)
    spark.range(1_000_000).selectExpr("sum(id) s").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    register_testdata(spark, sf_dir)

    out = {}
    for name, run in lanes.items():
        t0 = time.perf_counter()
        run(spark, sf_dir)
        out[name] = round(time.perf_counter() - t0, 4)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
