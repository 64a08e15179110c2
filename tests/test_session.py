"""Session factory defaults."""

import os

from driftmind_spark.session import default_master


def test_default_master_uses_affinity_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    master = default_master()
    assert master.startswith("local[") and master.endswith("]")
    assert int(master[len("local["):-1]) == len(os.sched_getaffinity(0))


def test_default_master_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
