"""The session's default driver heap follows the host's physical memory
(session.driver_memory); an explicit SPARK_DRIVER_MEMORY still wins."""

from __future__ import annotations

import os

from youtube_etl_project_spark.session import driver_memory

GIB = 1024**3


def test_driver_memory_is_a_quarter_of_physical_memory_within_bounds():
    assert driver_memory(16 * GIB) == "4096m"
    assert driver_memory(15 * GIB + 512 * 1024**2) == "3968m"
    assert driver_memory(2 * GIB) == "1024m"  # floor
    assert driver_memory(128 * GIB) == "8192m"  # cap, the old fixed default


def test_session_heap_is_the_explicit_setting_or_the_derived_default(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    want = os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(phys)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
