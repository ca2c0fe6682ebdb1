import os

import pytest

import georip_spark


def _driver_heap_gb() -> int:
    """An eighth of physical memory, in whole GiB, within [1, 8]: the
    local-mode driver heap is the whole executor pool's heap, and a
    heap the host cannot hold resident gets the JVM OOM-killed."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return int(max(1, min(8, round(phys_gib / 8))))


@pytest.fixture(scope="session")
def spark():
    s = georip_spark.get_spark(
        "georip-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.memory": f"{_driver_heap_gb()}g",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
