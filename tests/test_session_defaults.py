"""Session defaults must fit the box they run on."""

from __future__ import annotations

import os

from rainforest_spark.session import default_parallelism


def test_default_parallelism_is_available_cores_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = (len(os.sched_getaffinity(0))
            if hasattr(os, "sched_getaffinity") else os.cpu_count())
    assert default_parallelism() == want


def test_default_parallelism_honours_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
