"""Stage-level profile of registry lanes (optimization-round tooling).

Usage::

    python scripts/profile_lane.py SF_DIR q_lane1 [q_lane2 ...]

Runs each lane's build + a noop-sink action (guide §1.4) with event
logging on, then prints per-stage executor run/CPU time and shuffle
bytes, plus per-lane wall.  Build-phase actions (eager checkpoints,
centroid collects) are timed separately from the final plan's action.
"""
import sys
import time
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    # the event log lives only as long as this run reads it
    with tempfile.TemporaryDirectory(prefix="spark-ev-") as evdir:
        _profile(sf_dir, names, evdir)


def _profile(sf_dir: str, names: list[str], evdir: str) -> None:
    import __spark_entry__ as E
    from evm_archive_spark.session import get_spark
    from perfbench.spans import read_event_logs

    # same session shape as bench.py, plus event logging
    spark = get_spark(
        "profile-lane",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # bench-style warm-up so the first lane doesn't absorb session costs
    spark.range(1_000_000).selectExpr("sum(id) s").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    queries = E.queries()
    spans = {}
    for name in names:
        t0 = time.monotonic()
        df = queries[name](spark, sf_dir)
        t1 = time.monotonic()
        spark.sparkContext.setJobDescription(f"{name}: action")
        df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)
        t2 = time.monotonic()
        spans[name] = (t0, t1, t2)
        print(f"{name}: build {t1-t0:.2f}s action {t2-t1:.2f}s", flush=True)
    spark.stop()

    # stage submit time -> attribute to lane span
    stages = sorted(read_event_logs(Path(evdir)), key=lambda st: (st["submit_s"], st["stage"]))
    epoch0 = time.time() - time.monotonic()
    print("\nstage  tasks  run_s   cpu_s    gc_s  fwait_s shuf_r(MB) shuf_w(MB) input(MB)")
    for name, (t0, t1, t2) in spans.items():
        print(f"--- {name} (build {t1-t0:.2f}s, action {t2-t1:.2f}s)")
        for st in stages:
            if epoch0 + t0 <= st["submit_s"] <= epoch0 + t2:
                phase = "build " if st["submit_s"] < epoch0 + t1 else "action"
                print(f"  [{phase}] s{st['stage']:<4} {st['tasks']:<5} {st['run_s']:7.2f} "
                      f"{st['cpu_s']:7.2f} {st['gc_s']:7.2f} {st['fetch_wait_s']:7.2f} "
                      f"{st['shuffle_read_bytes']/1e6:9.1f} {st['shuffle_write_bytes']/1e6:9.1f} "
                      f"{st['input_bytes']/1e6:9.1f}")


if __name__ == "__main__":
    main()
