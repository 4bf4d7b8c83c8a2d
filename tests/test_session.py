"""Host-fit Spark config: the default driver heap (no Spark needed)."""

import os

from kartograph_spark.session import MAX_DRIVER_MB, default_driver_memory

GIB = 2**30


def test_driver_memory_is_a_quarter_of_ram():
    assert default_driver_memory(15 * GIB) == "3840m"
    assert default_driver_memory(8 * GIB) == "2048m"


def test_driver_memory_never_above_16g():
    assert default_driver_memory(64 * GIB) == "16384m"
    assert default_driver_memory(1024 * GIB) == f"{MAX_DRIVER_MB}m"


def test_driver_memory_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(default_driver_memory().removesuffix("m"))
    assert mb == min(phys // 4 // 2**20, MAX_DRIVER_MB)
    assert 0 < mb * 2**20 < phys
