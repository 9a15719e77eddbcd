"""``session.get_spark``'s master: without ``SPARK_GRAFT_CPUS`` it runs one
task thread per core this process may run on, not a fixed count."""

from __future__ import annotations

import os

from evm_archive_spark import session


class _Builder:
    """Records what get_spark asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def test_default_master_follows_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": _Builder()})
    )
    n = len(os.sched_getaffinity(0))
    conf = session.get_spark()
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(n, 4))

