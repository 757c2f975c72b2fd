"""Session sizing: the engine never asks for more memory than the host has."""

from __future__ import annotations

import os

from jira_duplicate_detection_turkcell__spark import session


def _mb(size: str) -> int:
    """A JVM size string ("5908m", "24g") in MiB."""
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    size = size.strip().lower().removesuffix("b")
    return int(float(size[:-1]) * units[size[-1]])


def test_memory_sizes_fit_host_and_keep_caps():
    total = session.host_mem_total_mb()
    assert total, "MemTotal unreadable"
    heap, offheap = session.memory_sizes()
    assert _mb(heap) + _mb(offheap) <= total
    # a 15 GiB host gets a ~6 g heap; a 128 GiB host keeps the 24 g / 16 g caps
    assert session.memory_sizes(15 * 1024) == ("5760m", "1920m")
    assert session.memory_sizes(128 * 1024) == ("24576m", "16384m")


def test_session_requests_at_most_host_memory(spark):
    conf = spark.sparkContext.getConf()
    heap = conf.get("spark.driver.memory")
    if "SPARK_DRIVER_MEMORY" not in os.environ:  # an explicit heap wins
        assert heap == session.memory_sizes()[0]
    requested = _mb(heap) + _mb(conf.get("spark.memory.offHeap.size"))
    assert requested <= session.host_mem_total_mb()
