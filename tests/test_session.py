"""The session factory's default driver heap follows the host: half its
physical memory, at most 48 GB, unless ``SPARK_GRAFT_DRIVER_MEM`` says
otherwise."""

from __future__ import annotations

import os

from etl_spark.session import default_driver_memory

GIB = 2**30


def test_default_driver_heap_is_half_the_host_capped_at_48g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"
    assert default_driver_memory(96 * GIB) == "49152m"
    assert default_driver_memory(512 * GIB) == "49152m"
    assert default_driver_memory(15 * GIB + 123_457) == "7680m"


def test_session_asks_for_the_default_heap_unless_overridden(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )
    assert spark.conf.get("spark.driver.memory") == want
