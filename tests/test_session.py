"""session.get_spark's default driver heap, checked without a JVM: the
builder is replaced by a stub that records the confs it is given."""

from __future__ import annotations

import os

from cccatalog_spark import session

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _bytes(spec: str) -> int:
    return int(spec[:-1]) * _UNITS[spec[-1].lower()]


class _StubSpark:
    class _Ctx:
        def setLogLevel(self, level):
            pass

    sparkContext = _Ctx()


class _StubBuilder:
    def __init__(self):
        self.confs = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key=None, value=None, map=None):
        self.confs.update(map or {key: value})
        return self

    def getOrCreate(self):
        return _StubSpark()


def test_default_heap_fits_a_16gb_host(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    builder = _StubBuilder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": builder})
    )
    session.get_spark("heap-default", cpus=1)
    assert 0 < _bytes(builder.confs["spark.driver.memory"]) <= 8 * 2**30
