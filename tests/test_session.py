"""Session defaults that are derived from the host, checked without
starting a JVM."""

from __future__ import annotations

from retail_etl_pipeline_spark.session import default_driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_physical_memory():
    assert default_driver_memory(16 * GIB) == "8192m"
    assert default_driver_memory(15 * GIB + 123) == "7680m"


def test_driver_memory_is_capped_at_64g():
    assert default_driver_memory(128 * GIB) == "65536m"
    assert default_driver_memory(1024 * GIB) == "65536m"


def test_driver_memory_default_fits_this_host():
    """Without an argument the default reads the host's memory, so it
    never exceeds half of it."""
    import os

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    got = default_driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) * 2**20 <= phys // 2
