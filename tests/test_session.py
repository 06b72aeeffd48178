"""Session factory defaults."""

from __future__ import annotations

from types import SimpleNamespace

from pulsar_sync_java_spark import session


class _Builder:
    """Records what `get_spark` asks of `SparkSession.builder`, without
    starting a JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, url):
        self.conf["master"] = url
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        context = SimpleNamespace(setLogLevel=lambda level: None)
        return SimpleNamespace(sparkContext=context)


def test_cpus_default_to_the_cores_this_process_may_use(monkeypatch):
    """Without SPARK_GRAFT_CPUS the master and the shuffle partitions
    follow the process's CPU affinity, not a fixed 32: a wider local
    master only makes tiny jobs wait on threads that cannot run."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session._default_cpus() == "3"

    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark()
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
