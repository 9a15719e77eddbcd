"""The python worker daemon of ``get_spark`` sessions (pydaemon.py): a
reused worker keeps its zip directory cache, a changed archive is still
re-read, and workers find the daemon wherever the driver started."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from evm_archive_spark import pydaemon


def test_reused_worker_keeps_the_pyspark_zip_directory(spark):
    """Two consecutive tasks on one worker see the same cached directory:
    the second finds the first one's mark.  Without the daemon, each task's
    invalidate_caches() replaces it."""

    def mark_pyspark_zip(_):
        # mark the cached directory; return the pid and a previous task's mark
        import os
        import zipimport

        files = next(v for k, v in zipimport._zip_directory_cache.items()
                     if k.endswith("pyspark.zip"))
        seen = files.get("__pydaemon_test__")
        files["__pydaemon_test__"] = os.getpid()
        return os.getpid(), seen

    sc = spark.sparkContext
    pids = set()
    for _ in range(16):
        pid, seen = sc.parallelize([0], 1).map(mark_pyspark_zip).collect()[0]
        if pid in pids:
            assert seen == pid
            return
        pids.add(pid)
    pytest.fail("no worker ran two of the tasks")


def test_reused_planner_worker_keeps_the_pyspark_zip_directory(spark):
    """The planner forks of Python data sources run under a fixed
    pyspark.daemon.  Importing the evm_* sources there installs the
    stamped cache, so a reused planner worker finds a previous read's mark
    on its pyspark.zip directory.  The probe source subclasses evm_logs and
    marks the directory from partitions(), which runs in the planner."""
    from dataclasses import dataclass

    from pyspark.sql.datasource import DataSourceReader, InputPartition

    from evm_archive_spark.sources import rpc

    @dataclass
    class Seen(InputPartition):
        pid: int
        seen: int

    class MarkReader(DataSourceReader):
        def partitions(self):
            import os
            import zipimport

            files = next(v for k, v in zipimport._zip_directory_cache.items()
                         if k.endswith("pyspark.zip"))
            seen = files.get("__pydaemon_test__", -1)
            files["__pydaemon_test__"] = os.getpid()
            return [Seen(os.getpid(), seen)]

        def read(self, partition):
            yield (partition.pid, partition.seen)

    class PlannerProbe(rpc.EvmLogsDataSource):
        @classmethod
        def name(cls):
            return "evm_planner_probe"

        def schema(self):
            return "pid long, seen long"

        def reader(self, schema):
            return MarkReader()

    spark.dataSource.register(PlannerProbe)
    pids = set()
    for _ in range(16):
        pid, seen = spark.read.format("evm_planner_probe").load().collect()[0]
        if pid in pids:
            assert seen == pid
            return
        pids.add(pid)
    pytest.fail("no planner worker planned two of the reads")


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "A = 1\n")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    try:
        zi = zipimport.zipimporter(path)
        zi.invalidate_caches()
        files = zipimport._zip_directory_cache[path]
        zi.invalidate_caches()
        assert len(reads) == 2  # the importer's own read, then one re-read
        assert zipimport._zip_directory_cache[path] is files

        with zipfile.ZipFile(path, "a") as z:
            z.writestr("b.py", "B = 2\n")
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        zi.invalidate_caches()
        assert len(reads) == 3
        assert zi.find_spec("b") is not None
    finally:
        zipimport._zip_directory_cache.pop(path, None)


def test_udf_runs_when_the_driver_starts_elsewhere(tmp_path):
    """A by-value Python UDF runs in a get_spark session whose driver was
    started outside the checkout, with the package on sys.path only."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(pydaemon.__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import functions as F\n"
        "from evm_archive_spark.session import get_spark\n"
        "spark = get_spark('pydaemon-elsewhere')\n"
        "plus_one = F.udf(lambda x: x + 1, 'long')\n"
        "print('ROWS', sorted(r[0] for r in spark.range(3).select(plus_one('id')).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-2000:]
