"""The engine session's driver heap fits the host it runs on."""

from __future__ import annotations

import os

import pytest

from serene_spark.session import default_driver_memory

PHYS_RAM = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def test_default_driver_memory_below_physical_ram():
    value = default_driver_memory()
    assert value.endswith("m")
    assert 0 < int(value[:-1]) * 2**20 < PHYS_RAM


@pytest.mark.skipif(bool(os.environ.get("SERENE_SPARK_DRIVER_MEM")),
                    reason="driver memory overridden by SERENE_SPARK_DRIVER_MEM")
def test_live_driver_heap_below_physical_ram(spark):
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap < PHYS_RAM
