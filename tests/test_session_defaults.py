"""Session defaults must fit the box they run on."""

from __future__ import annotations

import os

import pytest

from rainforest_spark.session import default_parallelism


def test_default_parallelism_is_available_cores_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = (len(os.sched_getaffinity(0))
            if hasattr(os, "sched_getaffinity") else os.cpu_count())
    assert default_parallelism() == want


def test_default_parallelism_honours_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def _mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024


def test_default_driver_memory_is_half_of_memtotal_when_unset(monkeypatch):
    from rainforest_spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    want = min(_mem_total_mb() // 2, 24 * 1024)
    assert default_driver_memory() == f"{want}m"


def test_default_driver_memory_is_capped_at_24g(monkeypatch):
    from rainforest_spark.session import default_driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PHYS_PAGES": 256 * 2**30 // 4096, "SC_PAGE_SIZE": 4096}[name])
    assert default_driver_memory() == "24576m"


def test_default_driver_memory_honours_env(monkeypatch):
    from rainforest_spark.session import default_driver_memory

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"



class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every ``config``
    call and returns the settings from ``getOrCreate``."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize("master, want", [("local[2]", "false"),
                                          ("spark://h:7077", None)])
def test_checkpoint_checksum_off_only_on_local_master(monkeypatch, master,
                                                      want):
    from types import SimpleNamespace

    from rainforest_spark import session

    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=_RecordingBuilder()))
    conf = session.get_spark(master=master)
    assert conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == want


class _MasterRecordingBuilder(_RecordingBuilder):
    """A ``_RecordingBuilder`` that also records ``master`` calls."""

    def __init__(self):
        super().__init__()
        self.masters = []

    def master(self, master):
        self.masters.append(master)
        return self


@pytest.mark.parametrize("submit_args, masters, checksum", [
    ("--master local[1] pyspark-shell", [], "false"),
    ("--master spark://h:7077 pyspark-shell", [], None),
    (None, ["local[2]"], "false")])
def test_spark_submit_master_is_kept(monkeypatch, submit_args, masters,
                                     checksum):
    from types import SimpleNamespace

    from rainforest_spark import session

    builder = _MasterRecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    if submit_args is None:
        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    else:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit_args)
    conf = session.get_spark()
    assert builder.masters == masters
    assert conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == checksum
