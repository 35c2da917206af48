"""Session defaults fit the host: without an override, ``get_spark``
asks for the cores this process may use and a driver heap of half the
host's memory (at most 32g).  The builder is replaced by a recorder, so
no second session starts."""

import os

from webgraph_big_spark import session


class _Recorder:
    """Stands in for ``SparkSession.builder`` and records what it is told."""

    def __init__(self):
        self.conf = {}
        self.sparkContext = self

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self

    def setLogLevel(self, _level):
        pass


def _built_conf(monkeypatch, **env):
    rec = _Recorder()
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": rec}))
    for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    session.get_spark("defaults")
    return rec.conf


def _mem_total_kb():
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))


def test_defaults_fit_the_host(monkeypatch):
    conf = _built_conf(monkeypatch)
    cores = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(cores, 8))
    heap_mb = int(conf["spark.driver.memory"].removesuffix("m"))
    assert heap_mb == min(_mem_total_kb() // 2048, 32 * 1024)


def test_environment_overrides_the_defaults(monkeypatch):
    conf = _built_conf(monkeypatch, SPARK_GRAFT_CPUS="3", SPARK_DRIVER_MEMORY="5g")
    assert conf["master"] == "local[3]"
    assert conf["spark.driver.memory"] == "5g"


def test_explicit_arguments_win(monkeypatch):
    rec = _Recorder()
    monkeypatch.setattr(session, "SparkSession", type("S", (), {"builder": rec}))
    session.get_spark("explicit", cpus=2, extra_conf={"spark.driver.memory": "2g"})
    assert rec.conf["master"] == "local[2]"
    assert rec.conf["spark.driver.memory"] == "2g"
