"""Host-sized session defaults.  No Spark session needed."""

from __future__ import annotations

import os

from reindexer_spark.session import default_driver_memory


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 1024 <= int(mem[:-1]) and int(mem[:-1]) * 2**20 <= ram


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert default_driver_memory() == "5g"
