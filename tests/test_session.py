"""The default driver heap fits the machine it runs on.

``session.default_driver_memory`` sizes ``spark.driver.memory`` to half of
physical RAM (whole GiB, 1g to 24g) unless ``SPARK_GRAFT_DRIVER_MEM`` is
set.  A heap larger than RAM lets the JVM grow until the kernel kills it,
after which every later test fails with ``ConnectionRefusedError``.
"""

from __future__ import annotations

import os

from causality_between_elements_based_on_time_series_data_spark import session

GIB = 2**30
_UNITS = {"k": 2**10, "m": 2**20, "g": GIB, "t": 2**40}


def _bytes(mem: str) -> int:
    """Parse a JVM memory string (``512m``, ``7g``, ``7gb``) to bytes."""
    mem = mem.strip().lower().removesuffix("b")
    if mem[-1] in _UNITS:
        return int(mem[:-1]) * _UNITS[mem[-1]]
    return int(mem)


def _phys_ram() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_heap_is_half_of_ram_capped(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _bytes(session.default_driver_memory())
    assert GIB <= heap <= 24 * GIB
    assert heap <= max(GIB, _phys_ram() // 2)
    assert heap % GIB == 0


def test_default_heap_clamps_to_1g_and_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    for ram, want in [(GIB, "1g"), (15 * GIB, "7g"), (1024 * GIB, "24g")]:
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda name, ram=ram: page if name == "SC_PAGE_SIZE" else ram // page,
        )
        assert session.default_driver_memory() == want


def test_env_override_passes_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1536m")
    assert session.default_driver_memory() == "1536m"


def test_live_session_heap_fits_in_ram(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert heap is not None
    assert _bytes(heap) <= _phys_ram()
