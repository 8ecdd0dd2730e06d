"""The session's derived defaults."""

from __future__ import annotations

import os

from vtb_datafusion_2023_spark import session


def test_default_driver_mem_fits_host(spark):
    """Without ``$SPARK_DRIVER_MEM`` the driver heap is 16g or half the
    host's physical memory, whichever is smaller, and ``get_spark``
    asks for it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = session.default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(16 * 1024, phys_mb // 2)
    expected = os.environ.get("SPARK_DRIVER_MEM", mem)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
