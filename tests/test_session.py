"""``session.get_spark``'s core count: ``SPARK_GRAFT_CPUS`` when set,
else the CPUs the process may run on — never a fixed guess that
oversubscribes a small host."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark import session  # noqa: E402


class _Builder:
    """Records what ``get_spark`` asks the session builder for."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None)
        )


def _asked_for(monkeypatch) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark()
    return builder.conf


def test_unset_cpus_default_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    assert session.local_cpus() == n
    conf = _asked_for(monkeypatch)
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_set_cpus_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _asked_for(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
