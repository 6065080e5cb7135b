from __future__ import annotations

import os

import pytest

from who_focus_crawler_spark.session import get_spark


def _driver_heap() -> str:
    """A third of physical memory, capped at the engine's 16g default:
    the heap plus Python workers and JVM native memory must fit on a
    host with no swap. ``WFC_DRIVER_MEM`` still overrides."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kib // (3 * 2**20)))}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("WFC_DRIVER_MEM", _driver_heap())
    s = get_spark(
        app_name="wfc-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
