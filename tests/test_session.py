"""The session factory's host-derived defaults."""

from __future__ import annotations

from results_ingestor_spark.session import default_driver_memory

GIB = 2**30


def test_driver_memory_is_24g_capped_at_half_of_ram():
    assert default_driver_memory(128 * GIB) == "24576m"  # 24g
    assert default_driver_memory(48 * GIB) == "24576m"
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"


def test_driver_memory_default_fits_the_host():
    import os
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = int(default_driver_memory()[:-1])
    assert mib <= 24 * 1024 and mib * 2**20 <= phys // 2
