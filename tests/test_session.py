"""Session factory sizing (yatsm_spark/session.py) — no Spark needed."""

from __future__ import annotations

import os

from yatsm_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_a_quarter_of_ram_clamped(monkeypatch):
    monkeypatch.delenv("YATSM_SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GIB) == "4096m"
    assert driver_memory(15 * GIB) == "3840m"
    assert driver_memory(2 * GIB) == "1024m"  # floor
    assert driver_memory(1024 * GIB) == "49152m"  # cap: the old fixed 48g
    # with no argument it sizes from this machine's physical RAM
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert driver_memory() == driver_memory(phys)


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("YATSM_SPARK_DRIVER_MEM", "7g")
    assert driver_memory(16 * GIB) == "7g"
    assert driver_memory() == "7g"
